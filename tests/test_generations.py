"""GenerationLog: log-structured ingestion + tiered maintenance
(index/generations.py). Pinned semantics:

* ingest(batch) is O(batch) — a new directory per micro-batch, adopted
  by an atomic manifest swap; search federates with exact blended stats
  so results equal a single whole-corpus build.
* maintain() preserves results exactly while shrinking the live list,
  and deletes consumed inputs only after the new manifest is durable.
* crash orphans (built but never adopted) are invisible and reclaimed.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from nlp4l_spark.data.fixtures import TRANSCRIPTS_SCHEMA_DDL
from nlp4l_spark.data.transcripts import synth_transcripts
from nlp4l_spark.index import build_index, GenerationLog, TieredMergePolicy
from nlp4l_spark.index.generations import stream_into_generations
from nlp4l_spark.search import Searcher

FORCE_ALL = TieredMergePolicy(
    segs_per_tier=1.0,
    max_merge_at_once=10,
    floor_segment_bytes=1 << 30,
    max_merged_segment_bytes=1 << 42,
)


@pytest.fixture(scope="module")
def corpus(spark):
    df = synth_transcripts(spark, 900, num_partitions=4)
    convs = sorted(
        r["conv_id"] for r in df.select("conv_id").distinct().collect()
    )
    c1, c2 = convs[len(convs) // 3], convs[2 * len(convs) // 3]
    return (
        df,
        df.filter(F.col("conv_id") < c1),
        df.filter((F.col("conv_id") >= c1) & (F.col("conv_id") < c2)),
        df.filter(F.col("conv_id") >= c2),
    )


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_ingest_federates_like_single_build(spark, corpus, tmp_path):
    full, b1, b2, b3 = corpus
    d_full = str(tmp_path / "single")
    build_index(full, d_full)
    log = GenerationLog(str(tmp_path / "log"))
    for b in (b1, b2, b3):
        log.ingest(b)
    assert len(log.live_dirs) == 3
    single = Searcher(spark, d_full)
    fed = log.searcher(spark)
    assert fed.num_docs == single.num_docs
    for q in ("w00001 w00454", "w00002", "w00010 w00020 w00030"):
        assert _rows(fed.search(q, k=10)) == _rows(
            single.search(q, k=10, method="dataframe")
        ), q


def test_maintain_swaps_and_reclaims(spark, corpus, tmp_path):
    _, b1, b2, b3 = corpus
    log = GenerationLog(str(tmp_path / "log2"))
    for b in (b1, b2, b3):
        log.ingest(b)
    olds = log.live_dirs
    before = _rows(log.searcher(spark).search("w00001 w00454", k=10))
    merges = log.maintain(spark, FORCE_ALL)
    assert merges and len(log.live_dirs) == 1
    # identical results through the compacted generation (prefix-ordered
    # generations -> docIDs are preserved exactly, not just scores)
    after = _rows(log.searcher(spark).search("w00001 w00454", k=10))
    assert after == before
    # consumed inputs reclaimed only after the swap
    for d in olds:
        assert not os.path.exists(d)
    # idempotent: a second round has nothing to do
    assert log.maintain(spark, FORCE_ALL) == []


def test_crash_mid_compaction_keeps_the_log(spark, corpus, tmp_path, monkeypatch):
    """A maintain() that dies inside compaction, after the merged
    generation's doc_terms_fwd committed, adopts nothing: the log answers
    as before. The next maintain() removes the orphan directory, rebuilds
    in its slot and answers as an uninterrupted round does."""
    from nlp4l_spark.index import check_index, mergepolicy

    _, b1, b2, b3 = corpus
    log = GenerationLog(str(tmp_path / "crash"))
    for b in (b1, b2, b3):
        log.ingest(b)
    live = log.live_dirs
    q = "w00001 w00454"
    before = _rows(log.searcher(spark).search(q, k=10))

    def crash(spark, out, *args, **kwargs):
        assert out.is_committed("doc_terms_fwd")
        raise RuntimeError("crash mid-compaction")

    with monkeypatch.context() as m:
        m.setattr(mergepolicy, "write_searchable", crash)
        with pytest.raises(RuntimeError, match="mid-compaction"):
            log.maintain(spark, FORCE_ALL)
    orphan = os.path.join(log.root, "gen_000003")
    assert os.path.isdir(os.path.join(orphan, "doc_terms_fwd"))
    assert log.live_dirs == live
    assert _rows(log.searcher(spark).search(q, k=10)) == before
    junk = os.path.join(orphan, "junk")
    open(junk, "w").close()
    assert log.maintain(spark, FORCE_ALL) == [
        ["gen_000000", "gen_000001", "gen_000002"]
    ]
    assert log.live_dirs == [orphan] and not os.path.exists(junk)
    assert _rows(log.searcher(spark).search(q, k=10)) == before
    report = check_index(spark, orphan).collect()
    bad = [(r["check"], r["detail"]) for r in report if not r["ok"]]
    assert report and not bad, bad


def test_orphan_directory_is_invisible_and_reclaimed(spark, corpus, tmp_path):
    _, b1, b2, _ = corpus
    log = GenerationLog(str(tmp_path / "log3"))
    log.ingest(b1)
    # simulate a crash mid-ingest: the next slot's dir exists with garbage
    # content but was never adopted
    man = json.load(open(os.path.join(log.root, "GENERATIONS.json")))
    orphan = os.path.join(log.root, f"gen_{man['next_id']:06d}")
    os.makedirs(orphan)
    open(os.path.join(orphan, "junk.parquet"), "w").write("garbage")
    assert len(log.live_dirs) == 1  # reader never sees it
    log.ingest(b2)  # replay overwrites the orphan slot
    assert len(log.live_dirs) == 2
    assert not os.path.exists(os.path.join(orphan, "junk.parquet"))
    assert log.searcher(spark).search("w00001", k=3).count() > 0


def test_stream_into_generations(spark, corpus, tmp_path):
    full, b1, b2, b3 = corpus
    landing = str(tmp_path / "landing")
    for i, b in enumerate((b1, b2, b3)):
        b.coalesce(1).write.mode("append").parquet(landing)
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    root = str(tmp_path / "slog")
    q = stream_into_generations(
        stream,
        root,
        str(tmp_path / "ckpt"),
        policy=FORCE_ALL,
        maintain_every=1,
    )
    q.awaitTermination(600)
    log = GenerationLog(root)
    # 3 single-file batches, maintenance after each: the 2-gen round is a
    # no-op (tier budget allows 2), the 3-gen round compacts to 1
    assert len(log.live_dirs) == 1
    fed = log.searcher(spark)
    assert fed.num_docs == full.count()


def test_retention_sweep_drops_expired_generations(spark, corpus, tmp_path):
    """ILM delete phase: a cutoff between the batches' event-time ranges
    drops exactly the all-expired generations, the federated view loses
    exactly their docs, and the swept directories are reclaimed."""
    import datetime

    full, b1, b2, b3 = corpus
    # shift each batch into its own month so the ts ranges are disjoint
    batches = []
    for i, b in enumerate((b1, b2, b3)):
        batches.append(
            b.withColumn(
                "ts",
                F.to_timestamp(F.lit(f"2024-{i + 1:02d}-15 00:00:00"))
                + F.make_interval(secs=F.col("turn_idx").cast("double")),
            )
        )
    log = GenerationLog(str(tmp_path / "ilm"))
    for b in batches:
        log.ingest(b)
    assert len(log.live_dirs) == 3
    n_all = log.searcher(spark).num_docs
    n_b1 = batches[0].count()

    # cutoff mid-February: only the January generation is fully expired
    dropped = log.retention_sweep(
        spark, datetime.datetime(2024, 2, 1)
    )
    assert dropped == ["gen_000000"]
    assert len(log.live_dirs) == 2
    assert log.searcher(spark).num_docs == n_all - n_b1
    assert not os.path.exists(str(tmp_path / "ilm" / "gen_000000"))

    # idempotent: nothing else is old enough
    assert log.retention_sweep(spark, datetime.datetime(2024, 2, 1)) == []

    # a cutoff beyond every batch drops everything
    dropped = log.retention_sweep(spark, datetime.datetime(2025, 1, 1))
    assert len(dropped) == 2 and log.live_dirs == []


def test_micro_build_matches_distributed_builder(spark, corpus, tmp_path):
    """The driver-side micro path (index/microbuild.py) must produce the
    SAME index as the distributed builder for the same batch: identical
    schemas and rows for every searchable table (the micro path commits
    no ``segments``, the distributed build's resume checkpoint), identical
    WAND results, and check_index passes on the micro generation (the
    distributed build is checked in test_checker)."""
    from nlp4l_spark.index import check_index
    from nlp4l_spark.index.microbuild import try_micro_build

    full, b1, _, _ = corpus
    micro_dir, dist_dir = str(tmp_path / "micro"), str(tmp_path / "dist")
    assert try_micro_build(b1, micro_dir) is not None
    build_index(b1, dist_dir)
    for t in (
        "stored", "doc_terms_fwd", "doc_lens", "postings", "term_stats",
        "field_stats",
    ):
        a = spark.read.parquet(os.path.join(micro_dir, t))
        b = spark.read.parquet(os.path.join(dist_dir, t))
        assert a.schema == b.schema, t
        key = [c for c in ("doc_id", "term", "shard", "field") if c in a.columns]
        assert (
            [tuple(r) for r in a.orderBy(*key).collect()]
            == [tuple(r) for r in b.orderBy(*key).collect()]
        ), t
    assert not os.path.exists(os.path.join(micro_dir, "segments"))
    q = "w00001 w00002 needle03"
    assert _rows(Searcher(spark, micro_dir).search(q, k=10)) == _rows(
        Searcher(spark, dist_dir).search(q, k=10)
    )
    report = check_index(spark, micro_dir).collect()
    bad = [(r["check"], r["detail"]) for r in report if not r["ok"]]
    assert report and not bad, bad


def test_micro_build_falls_back_and_gates(spark, corpus, tmp_path, monkeypatch):
    """Oversized batches and NULL sort keys fall back to the distributed
    builder (try_micro_build returns None, ingest still succeeds)."""
    from nlp4l_spark.index import microbuild

    full, b1, _, _ = corpus
    withnull = b1.withColumn(
        "conv_id",
        F.when(F.col("turn_idx") == 0, F.lit(None)).otherwise(
            F.col("conv_id")
        ),
    )
    assert microbuild.try_micro_build(withnull, str(tmp_path / "y")) is None
    monkeypatch.setattr(microbuild, "MAX_ROWS", 10)
    assert microbuild.try_micro_build(b1, str(tmp_path / "x")) is None
    # ingest falls back transparently for a batch over the cap
    log = GenerationLog(str(tmp_path / "log"))
    log.ingest(b1)
    n = b1.count()
    s = log.searcher(spark)
    assert s.search("w00001", k=5).count() > 0
