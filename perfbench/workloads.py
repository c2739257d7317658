"""The benchmark workloads: inputs made from the seed, one job
call through the product's public entry points, and an output check.

Each workload is a class with the same four steps, called by run.py:

    generate()              write the seeded input table (datagen)
    prepare()               build the expected outputs (not timed)
    job(spark, it, tracer)  one job call -> its output root
    check(out)              compare the committed output with the expectation

Inputs are written as FILES_PER_SLOT parquet files per task slot: a
scan then has more splits than cores, so a core slowed by another
tenant of the host takes fewer splits instead of holding up the stage.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

CLIPS = 640  # rows per clips table; one job is a few seconds at local[4]
BUCKETS = 2
BASE_DOCS = 2000
VERBATIM_COPIES = 600
NEAR_COPIES = 600
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_SEED = 42  # the base document corpus is fixed; the seed picks the copies
FILES_PER_SLOT = 4


def _gen_clips(path: str, n: int, start: int) -> None:
    from go_pkg_spider_spark import datagen

    datagen.write_clips_parquet(path, n, start=start)


def _oracle_clips(shard: str, out: str) -> None:
    import pyarrow.parquet as pq

    from go_pkg_spider_spark.oracle import oracle_decide

    t = pq.read_table(shard, columns=["clip_id", "bytes", "codec", "sr_hz", "transcript"])
    rows = []
    for cid, b, c, s, tr in zip(*(t.column(i).to_pylist() for i in range(5))):
        r = oracle_decide(b, c, s, tr)
        rows.append((cid, r.keep, r.drop_reason, r.lang, r.scrubbed_transcript))
    with open(out, "w", encoding="utf-8") as f:
        json.dump(rows, f)


TASKS = {"gen_clips": _gen_clips, "oracle_clips": _oracle_clips}


def in_processes(task: str, calls: list[list], slots: int) -> None:
    """Run TASKS[task](*args) for each args in calls, spread over
    `slots` child processes of this file, and wait for all of them."""
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), task]
            + [json.dumps(c) for c in calls[k::slots]]
        )
        for k in range(slots)
        if calls[k::slots]
    ]
    failed = [p.args for p in procs if p.wait() != 0]
    if failed:
        raise RuntimeError(f"{task} failed in {failed}")


def read_table(path: str, columns: list[str]) -> dict[str, list]:
    """A committed parquet output read without Spark (hive-style
    `key=value` subdirectories are read as one table)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    ).to_pydict()


class ClipsManifested:
    """The clips quality filter through io.manifest.ManifestedRun (the
    `run_quality_filter` default path), then a resume re-run in which
    every bucket is already done."""

    name = "clips_manifested"

    def __init__(self, work: str, seed: int, slots: int):
        self.work = work
        self.slots = slots
        self.start = 1_000_000 + seed * CLIPS  # the seed picks the row range
        self.input = os.path.join(work, "clips")
        self.rows = CLIPS

    def generate(self) -> None:
        """Rows [start, start+CLIPS) as FILES_PER_SLOT files per slot."""
        shutil.rmtree(self.input, ignore_errors=True)
        os.makedirs(self.input)
        files = FILES_PER_SLOT * self.slots
        bounds = np.linspace(0, CLIPS, files + 1).astype(int)
        self._shards = [
            [os.path.join(self.input, f"part-{k:03d}.parquet"), int(b - a), self.start + int(a)]
            for k, (a, b) in enumerate(zip(bounds[:-1], bounds[1:]))
            if b > a
        ]
        in_processes("gen_clips", self._shards, self.slots)

    def prepare(self) -> None:
        oracle_dir = os.path.join(self.work, "oracle")
        os.makedirs(oracle_dir)
        calls = [
            [path, os.path.join(oracle_dir, os.path.basename(path) + ".json")]
            for path, _, _ in self._shards
        ]
        in_processes("oracle_clips", calls, self.slots)
        self.expected = {}
        for _, out in calls:
            with open(out, encoding="utf-8") as f:
                self.expected.update((r[0], tuple(r[1:])) for r in json.load(f))

    def job(self, spark, it: int, tracer) -> str:
        from go_pkg_spider_spark import pipeline
        from go_pkg_spider_spark.functions.scrub import bank_fingerprint
        from go_pkg_spider_spark.io.catalog import Catalog
        from go_pkg_spider_spark.io.manifest import ManifestedRun

        def transform(df):
            with tracer.span("pipeline.plan"):
                out = pipeline.run_pipeline(df)
                if tracer.enabled:
                    out._jdf.queryExecution().executedPlan()
            return out

        # the parameters run_quality_filter fingerprints
        params = {"min_chars": 64, "repartition": 0, "scrub_bank": bank_fingerprint()}
        root = os.path.join(self.work, f"out{it}")
        clips = spark.read.parquet(self.input)
        first = ManifestedRun(spark, Catalog(spark, root), BUCKETS, "bench", params=params)
        summary = first.run(clips, transform, "decisions")
        with tracer.span("manifest.resume"):
            again = ManifestedRun(spark, Catalog(spark, root), BUCKETS, "bench", params=params)
            resumed = again.run(clips, transform, "decisions")
        self.summary = {"first": summary, "resume": resumed}
        return root

    def check(self, out: str) -> list[str]:
        """Every row matches the oracle (keep, drop_reason, lang and
        scrubbed text); every bucket's latest manifest row is done; the
        resume pass ran no bucket."""
        from go_pkg_spider_spark.io.manifest import MANIFEST_TABLE

        cols = ["clip_id", "keep", "drop_reason", "lang", "scrubbed_transcript"]
        got = read_table(os.path.join(out, "decisions"), cols)
        errors = []
        if sorted(got["clip_id"]) != sorted(self.expected):
            errors.append(f"output rows {len(got['clip_id'])} != input rows {len(self.expected)}")
        for row in zip(*(got[c] for c in cols)):
            want = self.expected.get(row[0])
            if want is not None and tuple(row[1:]) != want:
                errors.append(f"{row[0]}: got {row[1:]!r}, oracle {want!r}")
        s = self.summary
        if s["first"]["buckets_run"] != BUCKETS:
            errors.append(f"first pass ran {s['first']['buckets_run']} of {BUCKETS} buckets")
        if s["resume"]["buckets_run"] != 0 or s["resume"]["buckets_skipped"] != BUCKETS:
            errors.append(f"resume pass was not a no-op: {s['resume']}")
        m = read_table(
            os.path.join(out, MANIFEST_TABLE), ["bucket", "status", "committed_at_unix", "seq"]
        )
        latest = {}
        for b, st, t, q in zip(m["bucket"], m["status"], m["committed_at_unix"], m["seq"]):
            if b not in latest or (t, q) > latest[b][0]:
                latest[b] = ((t, q), st)
        if sorted(latest) != list(range(BUCKETS)) or any(
            st != "done" for _, st in latest.values()
        ):
            errors.append(f"latest manifest rows are not all done: {latest}")
        return errors


def base_docs(n: int) -> list[str]:
    """Bag-of-words documents shaped like the repo's `documents` test
    table: 10..100 words drawn uniformly from a 30-word vocabulary."""
    rng = np.random.default_rng(DOC_SEED)
    vocab = np.array(DOC_VOCAB)
    return [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n)]


def planted_corpus(seed: int, n_base: int, n_verbatim: int, n_near: int):
    """Base docs plus seeded copies: verbatim copies (which the job must
    drop as exact duplicates) and one-word-edited near copies. Copies
    get ids above every base id, so each copy loses to its original."""
    texts = base_docs(n_base)
    rng = np.random.default_rng(seed)
    src = rng.choice(n_base, n_verbatim + n_near, replace=False)
    rows = list(enumerate(texts))
    verbatim = []
    for k, s in enumerate(src):
        doc_id = n_base + k
        if k < n_verbatim:
            rows.append((doc_id, texts[s]))
            verbatim.append(doc_id)
        else:
            words = texts[s].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            rows.append((doc_id, " ".join(words)))
    return rows, verbatim


class DocsDedup:
    """jobs/run_dedup.run_dedup over a corpus with planted copies."""

    name = "docs_dedup"

    def __init__(self, work: str, seed: int, slots: int):
        self.work = work
        self.seed = seed
        self.slots = slots
        self.input = os.path.join(work, "docs")
        self.rows = BASE_DOCS + VERBATIM_COPIES + NEAR_COPIES

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows, self.verbatim = planted_corpus(self.seed, BASE_DOCS, VERBATIM_COPIES, NEAR_COPIES)
        shutil.rmtree(self.input, ignore_errors=True)
        os.makedirs(self.input)
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        files = FILES_PER_SLOT * self.slots
        for k in range(files):
            part = rows[k::files]
            pq.write_table(
                pa.table([[r[0] for r in part], [r[1] for r in part]], schema=schema),
                os.path.join(self.input, f"part-{k:03d}.parquet"),
            )

    def prepare(self) -> None:
        pass

    def job(self, spark, it: int, tracer) -> str:
        from jobs.run_dedup import run_dedup

        root = os.path.join(self.work, f"out{it}")
        self.summary = run_dedup(
            spark, spark.read.parquet(self.input), root, run_id="bench", threshold=0.5
        )
        return root

    def check(self, out: str) -> list[str]:
        """The structural invariants of the composed chain, plus: every
        planted verbatim copy is dropped as an exact duplicate."""
        dec = read_table(os.path.join(out, "decisions"), ["doc_id", "content_md5", "component", "decision"])
        groups = read_table(os.path.join(out, "exact"), ["content_md5", "kept_id"])
        errors = []
        n = len(dec["doc_id"])
        if sorted(dec["doc_id"]) != list(range(self.rows)):
            errors.append(f"{n} decision rows for {self.rows} input docs")
        keeper = dict(zip(groups["content_md5"], groups["kept_id"]))
        decision = dict(zip(dec["doc_id"], dec["decision"]))
        comps: dict = {}
        for d, md5, comp, why in zip(*dec.values()):
            if why == "drop_exact_dup":
                if keeper.get(md5) is None or d <= keeper[md5]:
                    errors.append(f"exact loser {d} does not lose to a smaller keeper")
            else:
                comps.setdefault(comp, []).append((d, why))
        for comp, members in comps.items():
            kept = [d for d, why in members if why == "keep"]
            dropped = [d for d, why in members if why == "drop_near_dup"]
            if len(dropped) != len(members) - 1 or kept != [min(d for d, _ in members)]:
                errors.append(f"component {comp} does not keep exactly its min member")
        for d in self.verbatim:
            if decision.get(d) != "drop_exact_dup":
                errors.append(f"planted verbatim copy {d} decided {decision.get(d)!r}")
        self.components = sum(1 for m in comps.values() if len(m) > 1)
        return errors


WORKLOADS = {w.name: w for w in (ClipsManifested, DocsDedup)}


if __name__ == "__main__":
    # a child of in_processes: the product package is on PYTHONPATH
    for arg in sys.argv[2:]:
        TASKS[sys.argv[1]](*json.loads(arg))
