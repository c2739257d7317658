"""Single-writer lease for manifested output roots (VERDICT r5 #2):
the manifests are append-only, but two concurrent invocations on one
root would overwrite the same stage tables or bucket partitions;
run_lease makes the second one fail fast instead."""

from __future__ import annotations

import json
import os
import socket
import subprocess
import time

import pytest

from go_pkg_spider_spark.io.stages import LEASE_FILE, LeaseHeldError, run_lease


def test_lease_blocks_second_invocation(tmp_path):
    root = str(tmp_path / "root")
    with run_lease(root, "first"):
        with pytest.raises(LeaseHeldError, match="run_id=first"):
            with run_lease(root, "second"):
                pass  # pragma: no cover
        # holder keeps working — its lock file is untouched
        assert os.path.exists(os.path.join(root, LEASE_FILE))


def test_lease_released_on_exit(tmp_path):
    root = str(tmp_path / "root")
    with run_lease(root, "a"):
        pass
    assert not os.path.exists(os.path.join(root, LEASE_FILE))
    with run_lease(root, "b"):  # re-acquirable
        pass


def test_lease_released_on_exception(tmp_path):
    root = str(tmp_path / "root")
    with pytest.raises(ValueError):
        with run_lease(root, "a"):
            raise ValueError("job failed")
    with run_lease(root, "b"):
        pass


def _write_lock(root, **overrides):
    os.makedirs(root, exist_ok=True)
    info = {
        "token": "x",
        "run_id": "crashed",
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "acquired_at": time.time(),
    }
    info.update(overrides)
    with open(os.path.join(root, LEASE_FILE), "w", encoding="utf-8") as f:
        json.dump(info, f)


def test_dead_local_pid_is_taken_over(tmp_path):
    root = str(tmp_path / "root")
    # a real pid that is provably dead: spawn-and-reap a child
    child = subprocess.Popen(["true"])
    child.wait()
    _write_lock(root, pid=child.pid)
    with run_lease(root, "new"):
        # takeover succeeded; the lock now carries the new run_id
        with open(os.path.join(root, LEASE_FILE), encoding="utf-8") as f:
            assert json.load(f)["run_id"] == "new"


def test_live_remote_holder_blocks_until_ttl(tmp_path):
    root = str(tmp_path / "root")
    # unknown host: pid-liveness can't be checked -> only TTL frees it
    _write_lock(root, host="other-host", acquired_at=time.time())
    with pytest.raises(LeaseHeldError):
        with run_lease(root, "new"):
            pass  # pragma: no cover
    # past the TTL the orphaned lock is reclaimed
    _write_lock(root, host="other-host", acquired_at=time.time() - 10)
    with run_lease(root, "new", ttl_sec=5):
        pass


def test_corrupt_lock_file_blocks_until_ttl(tmp_path):
    """ADVICE r6 #3: an unparseable lock with a RECENT mtime is treated
    as HELD (our writers publish complete files atomically via link, so
    a corrupt one is foreign — expiring it on sight let two contenders
    each expire the other's in-flight lock). Only TTL age reclaims it."""
    root = str(tmp_path / "root")
    os.makedirs(root, exist_ok=True)
    lock = os.path.join(root, LEASE_FILE)
    with open(lock, "w", encoding="utf-8") as f:
        f.write("{not json")
    with pytest.raises(LeaseHeldError):
        with run_lease(root, "new"):
            pass  # pragma: no cover
    # age the file past the TTL -> reclaimed
    old = time.time() - 100
    os.utime(lock, (old, old))
    with run_lease(root, "new", ttl_sec=5):
        pass
    # no tmp droppings left behind after acquire/release cycles
    assert [p for p in os.listdir(root) if p.startswith(LEASE_FILE)] == []


def test_run_dedup_fails_fast_when_root_held(spark, tmp_path):
    from jobs.run_dedup import run_dedup

    docs = spark.createDataFrame([("d1", "hello world")], "doc_id string, text string")
    root = str(tmp_path / "dedup")
    with run_lease(root, "other-job"):
        with pytest.raises(LeaseHeldError):
            run_dedup(spark, docs, root, run_id="me")
    # nothing was committed under the contested root
    assert not os.path.exists(os.path.join(root, "dedup_manifest"))


def test_queries_fingerprint_tracks_content(tmp_path):
    """ADVICE r5: overwriting the query batch in place must change the
    topk resume fingerprint."""
    from jobs.run_ann_index import queries_fingerprint

    qdir = tmp_path / "queries"
    qdir.mkdir()
    f = qdir / "part-0.parquet"
    f.write_bytes(b"aaaa")
    sig1 = queries_fingerprint(str(qdir))
    time.sleep(0.01)
    f.write_bytes(b"bbbbbb")  # same path, new content
    sig2 = queries_fingerprint(str(qdir))
    assert sig1 != sig2
    # non-local / missing path degrades to the bare path
    assert queries_fingerprint("s3://bucket/q") == "s3://bucket/q"


def test_queries_fingerprint_walks_partitioned_layouts(tmp_path):
    """ADVICE r6 #5: a partitionBy layout (key=val subdirs) must
    fingerprint its LEAF parquet files — the old top-level listdir saw
    n=0/bytes=0/mtime=0 for every such directory, so overwriting the
    batch in place resumed the stale committed topk table."""
    from jobs.run_ann_index import queries_fingerprint

    qdir = tmp_path / "queries_part"
    (qdir / "day=1").mkdir(parents=True)
    (qdir / "day=2").mkdir()
    (qdir / "day=1" / "part-0.parquet").write_bytes(b"aaaa")
    (qdir / "day=2" / "part-0.parquet").write_bytes(b"cc")
    sig1 = queries_fingerprint(str(qdir))
    assert "#n=2" in sig1 and "#bytes=6" in sig1
    time.sleep(0.01)
    (qdir / "day=2" / "part-0.parquet").write_bytes(b"dd")  # same sizes
    sig2 = queries_fingerprint(str(qdir))
    assert sig1 != sig2  # mtime moved
    # a bare parquet FILE path fingerprints itself too
    f = tmp_path / "single.parquet"
    f.write_bytes(b"eeee")
    assert "#n=1" in queries_fingerprint(str(f))


def test_manifested_run_fails_fast_when_root_held(spark, tmp_path):
    """The bucket-grained job (run_quality_filter's ManifestedRun) holds
    the same root lease as the stage-grained jobs: a second concurrent
    invocation must fail fast instead of double-running pending buckets
    and racing the bucket=N overwrites."""
    from go_pkg_spider_spark import datagen, pipeline
    from go_pkg_spider_spark.io.catalog import Catalog
    from go_pkg_spider_spark.io.manifest import ManifestedRun

    clips = datagen.generate_clips_df(spark, 8)
    root = str(tmp_path / "qf")
    run = ManifestedRun(spark, Catalog(spark, root), 2, "me", params={})
    with run_lease(root, "other-job"):
        with pytest.raises(LeaseHeldError, match="run_id=other-job"):
            run.run(clips, pipeline.run_pipeline, "decisions")
    # and the lease-holder gone, the same run object proceeds normally
    summary = run.run(clips, pipeline.run_pipeline, "decisions")
    assert summary["buckets_run"] == 2


def test_lease_degrades_to_noop_without_hardlink_support(tmp_path, monkeypatch):
    """ADVICE r7: filesystems without hard-link support (FUSE /
    object-store gateways, exFAT) raise OSError from os.link — the
    lease must degrade to the documented no-op (the makedirs-guard
    posture), not crash the job; and no lock or tmp file may be left
    behind."""
    import errno
    import os as _os

    root = str(tmp_path / "nolink")

    def no_link(src, dst):
        raise OSError(errno.ENOTSUP, "hard links not supported")

    monkeypatch.setattr(_os, "link", no_link)
    ran = False
    with run_lease(root, "job-a"):
        ran = True
        # degraded: a second invocation is NOT blocked (documented)
        with run_lease(root, "job-b"):
            pass
    assert ran
    leftovers = [p for p in _os.listdir(root) if p.startswith("_run_lock")]
    assert leftovers == []


def test_lease_transient_link_failure_raises(tmp_path, monkeypatch):
    """Round-8 self-review: ONLY the no-hardlink errnos degrade the
    lease to a no-op; a transient failure (EIO) must raise — silently
    proceeding lock-free while another run may hold the lease is the
    double-writer corruption the lease exists to prevent."""
    import errno
    import os as _os

    import pytest as _pytest

    def eio_link(src, dst):
        raise OSError(errno.EIO, "I/O error")

    monkeypatch.setattr(_os, "link", eio_link)
    with _pytest.raises(OSError):
        with run_lease(str(tmp_path / "flaky"), "job-a"):
            raise AssertionError("lease must not be granted on EIO")
