"""No test assert passes whatever the code does. An `assert` whose
test is a truthy constant (`assert 1`, a non-empty tuple such as
`assert (x, "msg")`), or an `or` with such an operand
(`assert check(x) or True`), is reported with its file:line. Pure
`ast`, like tests/test_reachability.py: no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

TESTS = Path(__file__).resolve().parent


def _always_true(test: ast.expr) -> bool:
    if isinstance(test, ast.BoolOp):
        hits = [_always_true(v) for v in test.values]
        return any(hits) if isinstance(test.op, ast.Or) else all(hits)
    if isinstance(test, ast.Tuple):
        return bool(test.elts)
    return isinstance(test, ast.Constant) and bool(test.value)


def vacuous_asserts(source: str, name: str = "<src>") -> list[int]:
    """Lines of the asserts in `source` that cannot fail."""
    return [
        n.lineno
        for n in ast.walk(ast.parse(source, name))
        if isinstance(n, ast.Assert) and _always_true(n.test)
    ]


def test_the_detector_flags_only_asserts_that_cannot_fail():
    flagged = {
        "assert all(ok(p) for p in ps) or True",
        "assert ok(a) or ok(b) or 1",
        "assert True",
        "assert 'message'",
        "assert (ok(a), 'message')",
        "assert True and 1",
    }
    kept = {
        "assert ok(a)",
        "assert ok(a) or ok(b)",
        "assert ok(a) or False",
        "assert ok(a) and True",
        "assert False",
        "assert ()",
        "assert ok(a), 'message'",
    }
    assert [s for s in sorted(flagged) if vacuous_asserts(s) != [1]] == []
    assert [s for s in sorted(kept) if vacuous_asserts(s)] == []


def test_no_test_assert_is_always_true():
    bad = [
        f"{f.relative_to(TESTS.parent)}:{n}"
        for f in sorted(TESTS.rglob("*.py"))
        for n in vacuous_asserts(f.read_text(), str(f))
    ]
    assert not bad, "asserts that cannot fail:\n" + "\n".join(bad)
