"""The zip-directory guard in go_pkg_spider_spark/__init__.py: on
Python < 3.13 importlib.invalidate_caches() re-reads a zip archive's
directory only when the archive changed (no Spark needed)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zguard_mod.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread_and_a_rewrite_is_seen(tmp_path, monkeypatch):
    importlib.import_module("go_pkg_spider_spark")  # installs the guard
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, "one")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zguard_mod", raising=False)
    assert importlib.import_module("zguard_mod").VALUE == "one"

    reads: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, "two, and longer")  # new content, new size
    importlib.invalidate_caches()
    del sys.modules["zguard_mod"]
    assert importlib.import_module("zguard_mod").VALUE == "two, and longer"
