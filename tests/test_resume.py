"""Resumability + lineage: kill-between-stages restart (north_rule) and
per-partition counters (FIXTURES.md §4 `_lineage`)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from nlp4l_spark.data import transcripts_df
from nlp4l_spark.index import build_index
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.oracle import OracleIndex
from nlp4l_spark.data.fixtures import LONDON_BRIDGE_VERSES

# the stages a build commits after stored
LATER_STAGES = (
    "doc_terms_fwd", "doc_lens", "segments", "postings", "term_stats",
    "field_stats", "_lineage",
)


@pytest.mark.parametrize("kill_after", ["stored", "doc_terms_fwd", "segments"])
def test_kill_and_resume(spark, tmp_path, kill_after):
    df = transcripts_df(spark)
    path = str(tmp_path / f"idx_{kill_after}")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(df, path, fail_after_stage=kill_after)
    # killed build must not have committed later stages
    assert not IndexCatalog(path).is_committed("postings")
    # resume completes and matches a clean build's stats
    build_index(df, path)
    cat = IndexCatalog(path)
    fs = cat.read(spark, "field_stats").collect()[0]
    oracle = OracleIndex.build(list(enumerate(LONDON_BRIDGE_VERSES)))
    assert fs["num_docs"] == oracle.num_docs
    assert fs["sum_dl"] == oracle.sum_dl
    assert fs["uniq_terms"] == oracle.uniq_terms()


def test_resume_adds_missing_pos_postings_stage(spark, tmp_path):
    """A store_positions build over a committed index without positions
    keeps ``stored`` (same snapshot) and re-runs doc_terms_fwd and every
    later stage, so the postings gain positions from the one tokenize
    pass; phrase search over them matches the corpus oracle path."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.index.builder import has_positions
    from nlp4l_spark.search import Searcher, phrase_bm25_topk

    df = transcripts_df(spark)
    path = str(tmp_path / "idx_pos_resume")
    build_index(df, path)
    cat = IndexCatalog(path)
    assert not has_positions(cat)
    before = {t: cat.manifest(t)["snapshot_id"] for t in LATER_STAGES}
    stored = cat.manifest("stored")["snapshot_id"]
    IndexBuilder(store_positions=True).build(df, path)
    assert has_positions(cat)
    assert "positions" in cat.columns("doc_terms_fwd")
    assert cat.manifest("stored")["snapshot_id"] == stored
    for t in LATER_STAGES:
        assert cat.manifest(t)["snapshot_id"] != before[t], t
    s = Searcher(spark, path)
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in s.search_phrase("london bridge", k=5, method="postings").collect()
    ]
    docs = spark.createDataFrame(
        list(enumerate(LONDON_BRIDGE_VERSES)), "doc_id long, text string"
    )
    want = [
        (r["doc_id"], r["score"])
        for r in phrase_bm25_topk(docs, "london bridge", k=5).collect()
    ]
    assert got and got == want


def test_lineage_counters(spark, tmp_path):
    df = transcripts_df(spark)
    path = str(tmp_path / "idx_lineage")
    cat = build_index(df, path)
    lineage = cat.read(spark, "_lineage")
    oracle = OracleIndex.build(list(enumerate(LONDON_BRIDGE_VERSES)))
    agg = lineage.agg(
        F.sum("postings_emitted").alias("p"),
        F.sum("bytes_compressed").alias("b"),
    ).collect()[0]
    total_postings = sum(len(pl) for pl in oracle.postings.values())
    assert agg["p"] == total_postings
    assert agg["b"] > 0
    # manifests carry snapshot ids for every committed stage
    for stage in ["stored", "doc_terms_fwd", "doc_lens", "segments",
                  "postings", "term_stats", "field_stats", "_lineage"]:
        man = cat.manifest(stage)
        assert man["snapshot_id"]


def test_uncommitted_table_is_invisible(spark, tmp_path):
    path = str(tmp_path / "idx_uncommitted")
    os.makedirs(os.path.join(path, "postings"), exist_ok=True)
    cat = IndexCatalog(path)
    assert not cat.is_committed("postings")
    with pytest.raises(FileNotFoundError):
        cat.read(spark, "postings")
