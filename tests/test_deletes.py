"""Per-document deletes (Lucene live-docs model): tombstoned docs vanish
from every query path while collection stats stay frozen; expunge_deletes
rewrites the index with recomputed stats; an index without tombstones is
untouched (identical plans/results)."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from nlp4l_spark.index import (
    IndexBuilder,
    delete_by_term,
    delete_docs,
    deleted_count,
    expunge_deletes,
)
from nlp4l_spark.search import Searcher

DOCS = [
    (0, "spark join merge vector window"),
    (1, "join merge nothing else"),
    (2, "vector vector join"),
    (3, "merge vector scan"),
    (4, "join merge vector join"),
    (5, "scan scan scan"),
    (6, "needle alone here"),
]


def _tx(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("u").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("deletes") / "idx")
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"),
        store_term_vectors=True,
        store_positions=True,
    ).build(_tx(spark), d)
    return d


@pytest.fixture()
def idx(built, tmp_path):
    """A private copy of the module's index: the tests delete from it."""
    d = str(tmp_path / "idx")
    shutil.copytree(built, d)
    return d


def _scores(df):
    return {r["doc_id"]: round(r["score"], 9) for r in df.collect()}


def test_deleted_docs_vanish_scores_frozen(spark, idx):
    s = Searcher(spark, idx)
    before = _scores(s.search("join merge vector", k=10, method="dataframe"))
    assert delete_docs(spark, idx, [1, 4]) == 2
    s2 = Searcher(spark, idx)
    for method in ("dataframe", "wand"):
        after = _scores(s2.search("join merge vector", k=10, method=method))
        assert set(after) == set(before) - {1, 4}
        # Lucene semantics: surviving docs keep their pre-delete scores
        # (df/avgdl frozen until expunge)
        for d, sc in after.items():
            assert sc == before[d], (method, d)


def test_deletes_cover_all_query_paths(spark, idx):
    delete_docs(spark, idx, [2, 5, 6])
    s = Searcher(spark, idx)
    assert 2 not in {r["doc_id"] for r in s.search("vector", k=10).collect()}
    assert {r["doc_id"] for r in s.match_all(k=10).collect()} == {0, 1, 3, 4}
    # constant-score rewrites (prefix/range) go through _decoded
    assert 5 not in {r["doc_id"] for r in s.search_prefix("sca", k=10).collect()}
    # phrase: both the postings task path and the term_vectors join path
    for m in ("postings", "term_vectors"):
        got = {r["doc_id"] for r in s.search_phrase("vector vector", k=10, method=m).collect()}
        assert got == set()  # doc 2 was the only phrase match
    ph = {r["doc_id"] for r in s.search_phrase("join merge", k=10, method="postings").collect()}
    assert ph == {0, 1, 4}  # all alive phrase matches still surface
    assert 6 not in {r["doc_id"] for r in s.search("needle", k=10).collect()}


def test_delete_by_term_and_idempotence(spark, idx):
    # 'scan' appears in docs 3 and 5
    assert delete_by_term(spark, idx, "scan") == 2
    s = Searcher(spark, idx)
    assert s.deleted_ids == frozenset({3, 5})
    # idempotent union
    assert delete_docs(spark, idx, [3]) == 2
    assert deleted_count(idx) == 2


def test_expunge_rewrites_stats_and_clears_tombstones(spark, idx):
    s = Searcher(spark, idx)
    n0 = s.num_docs
    delete_docs(spark, idx, [5, 6])
    n = expunge_deletes(spark, idx)
    assert n == n0 - 2
    s2 = Searcher(spark, idx)
    assert s2.num_docs == n0 - 2
    assert s2.deleted_ids == frozenset()
    assert deleted_count(idx) == 0
    # the rebuilt index equals a fresh build on the surviving corpus
    # (docids renumber under the same sort order -> identical tables)
    import tempfile

    d2 = tempfile.mkdtemp() + "/fresh"
    fresh_docs = [r for r in DOCS if r[0] not in (5, 6)]
    IndexBuilder(sort_cols=("conv_id", "turn_idx")).build(
        spark.createDataFrame(fresh_docs, "doc_id long, text string").select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("u").alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        ),
        d2,
    )
    sf = Searcher(spark, d2)
    q = "join merge vector"
    assert _scores(s2.search(q, k=10, method="dataframe")) == _scores(
        sf.search(q, k=10, method="dataframe")
    )


def test_span_near_honors_deletes(spark, idx):
    s0 = Searcher(spark, idx)
    before = {r["doc_id"] for r in s0.search_span_near("join", "merge", slop=0).collect()}
    assert 0 in before
    delete_docs(spark, idx, [0])
    s = Searcher(spark, idx)
    after = {r["doc_id"] for r in s.search_span_near("join", "merge", slop=0).collect()}
    assert after == before - {0}


def test_expunge_preserves_custom_analyzer(spark, tmp_path):
    from nlp4l_spark.analysis.stem import PorterAnalyzer

    az = PorterAnalyzer(stopwords=frozenset({"the"}))
    d = str(tmp_path / "stemidx")
    docs = [(0, "running races"), (1, "he runs"), (2, "unrelated words")]
    df = spark.createDataFrame(docs, "doc_id long, text string").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("u").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    builder = IndexBuilder(analyzer=az, sort_cols=("conv_id", "turn_idx"))
    builder.build(df, d)
    delete_docs(spark, d, [2])
    # the ORIGINAL builder must be passed, else the rebuild re-tokenizes
    # with the standard analyzer and stemmed queries go dark
    expunge_deletes(spark, d, builder=builder)
    s = Searcher(spark, d, analyzer=az)
    assert {r["doc_id"] for r in s.search("running", k=10).collect()} == {0, 1}


def test_no_tombstones_is_a_noop(spark, idx):
    s = Searcher(spark, idx)
    assert s.deleted_ids == frozenset()
    plan = (
        s.search("join merge", k=5, method="dataframe")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "idx/tombstones" not in plan  # no tombstone table scan
    assert "NOT doc_id" not in plan  # and no NOT-In(doc_id) filter node


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_delete_docs_runs_no_spark_job(spark, idx):
    """Tombstones are read and written on the driver: two successive
    deletes union, neither runs a Spark job, and the Spark readers of the
    table (``_not_deleted``'s anti-join past 10k ids, ``expunge_deletes``)
    see what the driver wrote."""
    n, jobs = _jobs(spark, "delete-1", lambda: delete_docs(spark, idx, [1, 5]))
    assert (n, jobs) == (2, [])
    # 10k ids that name no doc push _not_deleted past its NOT-In filter
    filler = list(range(100, 10_100))
    n, jobs = _jobs(
        spark, "delete-2", lambda: delete_docs(spark, idx, [5, 6] + filler)
    )
    assert (n, jobs) == (3 + len(filler), [])
    assert deleted_count(idx) == n
    s = Searcher(spark, idx)
    assert s.deleted_ids == frozenset({1, 5, 6, *filler})
    tomb = s.cat.read(spark, "tombstones")
    assert tomb.schema.simpleString() == "struct<doc_id:bigint>"
    q = "join merge vector scan needle spark"  # every doc holds a term
    for method in ("dataframe", "wand", "auto"):
        assert set(_scores(s.search(q, k=10, method=method))) == {0, 2, 3, 4}
    assert expunge_deletes(spark, idx) == 4
    assert Searcher(spark, idx).num_docs == 4
