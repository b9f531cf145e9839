"""Reader leases on GenerationLog (index/generations.py), after Lucene's
IndexDeletionPolicy + SearcherManager reference counts.

A searcher from ``GenerationLog.searcher()`` is a point-in-time view:
``maintain()`` and ``retention_sweep()`` publish a new manifest but
must not delete a directory that an open searcher still reads. The
deletion waits in the manifest's ``pending_delete`` list until the last
lease is released (the searcher is garbage-collected), or until the next
``ingest``/``maintain`` once no lease holds it.
"""

from __future__ import annotations

import datetime
import gc
import json
import os

import pytest

from pyspark.sql import functions as F

from nlp4l_spark.data.transcripts import synth_transcripts
from nlp4l_spark.index import GenerationLog, TieredMergePolicy
from nlp4l_spark.search import reader as reader_mod

FORCE_ALL = TieredMergePolicy(
    segs_per_tier=1.0,
    max_merge_at_once=10,
    floor_segment_bytes=1 << 30,
    max_merged_segment_bytes=1 << 42,
)
QUERIES = ("w00001 w00454", "w00002", "w00010 w00020 w00030")


@pytest.fixture(scope="module")
def batches(spark):
    df = synth_transcripts(spark, 600, num_partitions=4)
    convs = sorted(
        r["conv_id"] for r in df.select("conv_id").distinct().collect()
    )
    c1, c2 = convs[len(convs) // 3], convs[2 * len(convs) // 3]
    parts = (
        df.filter(F.col("conv_id") < c1),
        df.filter((F.col("conv_id") >= c1) & (F.col("conv_id") < c2)),
        df.filter(F.col("conv_id") >= c2),
    )
    # each batch in its own month, so retention can drop the first alone
    return [
        b.withColumn(
            "ts",
            F.to_timestamp(F.lit(f"2024-{i + 1:02d}-15 00:00:00"))
            + F.make_interval(secs=F.col("turn_idx").cast("double")),
        )
        for i, b in enumerate(parts)
    ]


def _log(root, batches) -> GenerationLog:
    log = GenerationLog(root)
    for b in batches:
        log.ingest(b)
    return log


def _manifest(log) -> dict:
    with open(os.path.join(log.root, "GENERATIONS.json")) as fh:
        return json.load(fh)


def _all_rows(searcher):
    return [
        [(r["doc_id"], r["score"]) for r in searcher.search(q, k=10).collect()]
        for q in QUERIES
    ]


def test_searcher_survives_maintain(spark, batches, tmp_path, monkeypatch):
    log = _log(str(tmp_path / "log"), batches)
    olds = log.live_dirs
    s1, s2 = log.searcher(spark), log.searcher(spark)
    before = _all_rows(s1)
    assert log.maintain(spark, FORCE_ALL)
    assert len(log.live_dirs) == 1
    # the consumed directories are leased: still on disk, pending delete
    assert all(os.path.isdir(d) for d in olds)
    assert _manifest(log)["pending_delete"] == sorted(
        os.path.basename(d) for d in olds
    )
    assert _all_rows(s1) == before
    # the Spark plan reads the same held files
    monkeypatch.setattr(reader_mod, "MAX_POSTING_BYTES", 0)
    assert _all_rows(s2) == before
    monkeypatch.undo()
    del s1
    gc.collect()
    assert all(os.path.isdir(d) for d in olds)  # s2 still holds them
    del s2
    gc.collect()
    assert not any(os.path.exists(d) for d in olds)
    assert "pending_delete" not in _manifest(log)
    assert _all_rows(log.searcher(spark)) == before


def test_searcher_survives_retention_sweep(spark, batches, tmp_path):
    log = _log(str(tmp_path / "ilm"), batches)
    s = log.searcher(spark)
    before = _all_rows(s)
    n_all = s.num_docs
    assert log.retention_sweep(spark, datetime.datetime(2024, 2, 1)) == [
        "gen_000000"
    ]
    gone = os.path.join(log.root, "gen_000000")
    assert os.path.isdir(gone)
    assert _all_rows(s) == before and s.num_docs == n_all
    assert log.searcher(spark).num_docs < n_all
    del s
    gc.collect()
    assert not os.path.exists(gone)
    assert "pending_delete" not in _manifest(log)


def test_pending_delete_left_by_a_crash_is_reclaimed(spark, batches, tmp_path):
    """A process that ends with leases held leaves ``pending_delete``
    entries and their directories behind; with no lease in this process
    the next ingest deletes them."""
    log = _log(str(tmp_path / "crash"), batches[:1])
    stale = os.path.join(log.root, "gen_000099")
    os.makedirs(stale)
    man = _manifest(log)
    man["pending_delete"] = ["gen_000099"]
    log._adopt(man)
    log.ingest(batches[1])
    assert not os.path.exists(stale)
    assert "pending_delete" not in _manifest(log)
    assert len(log.live_dirs) == 2


def test_leases_under_concurrent_searchers_and_maintain(spark, batches, tmp_path):
    """Threads (more than cores) open, query and drop searchers while
    the main thread runs maintain(): no query fails or changes, and
    once every searcher is gone no lease and no consumed directory is
    left."""
    import sys
    import threading

    from nlp4l_spark.index import generations

    log = _log(str(tmp_path / "stress"), batches)
    olds = log.live_dirs
    want = _all_rows(log.searcher(spark))[0]
    errors: list[Exception] = []

    def reader():
        try:
            for _ in range(15):
                s = log.searcher(spark)
                rows = s.search(QUERIES[0], k=10).collect()
                assert [(r["doc_id"], r["score"]) for r in rows] == want
                del s
        except Exception as e:  # reported by the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        for t in threads:
            t.start()
        assert log.maintain(spark, FORCE_ALL)
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    gc.collect()
    assert not any(os.path.exists(d) for d in olds)
    assert "pending_delete" not in _manifest(log)
    root = os.path.abspath(log.root)
    assert not [k for k in generations._LEASES if k.startswith(root)]


def test_lease_release_during_ingest_keeps_the_new_generation(
    spark, batches, tmp_path, monkeypatch
):
    """The last searcher is dropped in another thread while the main
    thread ingests, and its release reclaims the pending directories
    (rewriting the manifest) across the moment the ingest adopts. The
    ingest's generation must stay live: a release that adopted the
    manifest it loaded before the ingest's adopt would drop it, and the
    next ingest would reuse and wipe its directory."""
    import shutil
    import threading
    import time

    from nlp4l_spark.index import microbuild

    log = _log(str(tmp_path / "race"), batches)
    olds = log.live_dirs
    held = [log.searcher(spark) for _ in range(3)]
    assert log.maintain(spark, FORCE_ALL)
    assert _manifest(log)["pending_delete"]

    in_rmtree = threading.Event()
    real_rmtree, real_build = shutil.rmtree, microbuild.try_micro_build

    def slow_rmtree(path, *args, **kwargs):
        in_rmtree.set()
        time.sleep(0.3)
        return real_rmtree(path, *args, **kwargs)

    def build_then_release(*args, **kwargs):
        built = real_build(*args, **kwargs)
        monkeypatch.setattr(shutil, "rmtree", slow_rmtree)
        dropper = threading.Thread(target=lambda: (held.clear(), gc.collect()))
        dropper.start()
        assert in_rmtree.wait(timeout=60)
        threads.append(dropper)
        return built

    threads: list[threading.Thread] = []
    monkeypatch.setattr(microbuild, "try_micro_build", build_then_release)
    new_dir = log.ingest(batches[0])  # a re-delivered batch
    for t in threads:
        t.join(timeout=60)
    monkeypatch.undo()
    assert threads and not threads[0].is_alive()
    man = _manifest(log)
    assert man["generations"] == ["gen_000003", "gen_000004"]
    assert man["next_id"] == 5 and "pending_delete" not in man
    assert os.path.isdir(new_dir)
    assert not any(os.path.exists(d) for d in olds)
    full = _log(str(tmp_path / "full"), [*batches, batches[0]])
    assert _all_rows(log.searcher(spark)) == _all_rows(full.searcher(spark))
