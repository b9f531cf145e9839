"""Phrase query (Lucene PhraseQuery semantics): exact adjacency incl.
stopword-hole behavior (StopFilter keeps position increments, so terms
separated by a stopword are NOT adjacent), phrase-freq tf, summed per-term
idf, BM25. The corpus path (phrase_bm25_topk, SQL-oracle-comparable) and
the index path (Searcher.search_phrase over term_vectors positions) must
agree exactly."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from nlp4l_spark.index import IndexBuilder
from nlp4l_spark.search import Searcher, idf, phrase_bm25_topk
from nlp4l_spark.search.engine import B, K1

DOCS = [
    (0, "london bridge is falling down falling down london bridge"),
    (1, "the bridge in london is falling"),      # "london ... bridge" NOT adjacent
    (2, "london the bridge"),                    # stopword hole -> NOT a phrase hit
    (3, "we crossed london bridge at dawn"),
    (4, "bridge london backwards order"),        # reversed -> no hit
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def indexed(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("phraseidx") / "idx")
    df = (
        spark.createDataFrame(DOCS, "doc_id long, text string")
        .select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"),
        store_term_vectors=True,
        store_positions=True,
    ).build(df, d)
    return d


def test_phrase_hits_and_holes(docs_df):
    got = {
        r["doc_id"]: r["score"]
        for r in phrase_bm25_topk(docs_df, "london bridge", k=10).collect()
    }
    # docs 0 (tf=2) and 3 (tf=1) match; 1/2 (hole), 4 (reversed) don't
    assert set(got) == {0, 3}


def test_phrase_scores_first_principles(docs_df):
    rows = phrase_bm25_topk(docs_df, "london bridge", k=10).collect()
    got = {r["doc_id"]: r["score"] for r in rows}
    # analyzed dls (stopwords removed): 8, 3, 2, 5, 4
    n = 5
    avgdl = (8 + 3 + 2 + 5 + 4) / 5.0
    idf_sum = idf(n, 5) + idf(n, 5)  # both terms appear in all 5 docs
    def bm25(tf, dl):
        return idf_sum * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
    assert got[0] == pytest.approx(round(bm25(2, 8), 6), abs=1e-6)
    assert got[3] == pytest.approx(round(bm25(1, 5), 6), abs=1e-6)


def test_index_path_matches_corpus_path(spark, docs_df, indexed):
    s = Searcher(spark, indexed)
    for phrase in ["london bridge", "falling down", "bridge london", "nohit phrase"]:
        via_corpus = [
            (r["doc_id"], r["score"])
            for r in phrase_bm25_topk(docs_df, phrase, k=10).collect()
        ]
        for method in ("term_vectors", "postings"):
            via_index = [
                (r["doc_id"], round(r["score"], 6))
                for r in s.search_phrase(phrase, k=10, method=method).collect()
            ]
            assert via_index == via_corpus, (phrase, method)


def test_phrase_postings_plan_has_no_corpus_join(spark, indexed):
    """The scale path's plan: pushed In(term) scan of the postings (with
    their pos_enc column) -> per-shard Arrow task ->
    TakeOrderedAndProject. No join of any kind — the old term_vectors
    path built an n-way doc_id join."""
    s = Searcher(spark, indexed)
    plan = (
        s.search_phrase("london bridge", k=10, method="postings")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    scans = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("term" in ln and "In(" in ln for ln in scans), scans
    assert all("/postings" in ln and "pos_enc" in ln for ln in scans), scans
    # auto dispatch prefers the postings path when they carry positions
    auto = [
        (r["doc_id"], round(r["score"], 6))
        for r in s.search_phrase("london bridge", k=10).collect()
    ]
    via_postings = [
        (r["doc_id"], round(r["score"], 6))
        for r in s.search_phrase("london bridge", k=10, method="postings").collect()
    ]
    assert auto == via_postings


def test_phrase_without_term_vectors_raises(spark, tmp_path, docs_df):
    df = docs_df.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("u").alias("role"), "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    d = str(tmp_path / "novec")
    IndexBuilder().build(df, d)
    with pytest.raises(ValueError, match="term_vectors"):
        Searcher(spark, d).search_phrase("london bridge")


def test_phrase_across_stopword_hole(spark, tmp_path):
    """A phrase holding a stopword keeps the stopword's position on the
    query side too (Lucene's query builder keeps the position
    increment): "silver and gold" matches verse 3, which holds that
    exact text, on every phrase path with the same score, while "silver
    gold" (no hole) matches nothing."""
    from nlp4l_spark.data import LONDON_BRIDGE_VERSES
    from nlp4l_spark.data.fixtures import transcripts_df
    from nlp4l_spark.oracle import OracleIndex

    d = str(tmp_path / "verses")
    IndexBuilder(store_term_vectors=True, store_positions=True).build(
        transcripts_df(spark), d
    )
    s = Searcher(spark, d)
    ix = OracleIndex.build(list(enumerate(LONDON_BRIDGE_VERSES)))
    tf = LONDON_BRIDGE_VERSES[3].lower().count("silver and gold")
    idf_sum = ix.idf("silver") + ix.idf("gold")
    want = idf_sum * tf * (K1 + 1) / (
        tf + K1 * (1 - B + B * ix.doc_lens[3] / ix.avgdl)
    )

    def paths(q):
        return {
            "auto": s.search_phrase(q, k=10),
            "postings": s.search_phrase(q, k=10, method="postings"),
            "term_vectors": s.search_phrase(q, k=10, method="term_vectors"),
            "query tree": s.search_lucene(f'"{q}"', k=10),
        }

    for name, df in paths("silver and gold").items():
        rows = [(r["doc_id"], r["score"]) for r in df.collect()]
        assert [doc for doc, _ in rows] == [3], (name, rows)
        assert abs(rows[0][1] - want) <= 1e-9, (name, rows, want)
    for name, df in paths("silver gold").items():
        assert df.collect() == [], name


# ---------------- k-term sloppy phrase (session 13) ------------------------ #
SLOPPY3_DOCS = [
    (0, "alpha beta gamma end"),                   # exact: L=0 -> tf 1
    (1, "alpha x beta y gamma"),                   # L=2 -> tf 1/3
    (2, "alpha beta x x x x x gamma"),             # L=5 > slop 3 -> miss
    (3, "gamma beta alpha"),                       # out of order -> miss
    (4, "alpha beta gamma alpha beta gamma"),      # multiple tuples
    (5, "alpha alpha beta gamma"),                 # two starts
]


def test_sloppy_phrase_multi_matches_bruteforce(spark, tmp_path):
    """Engine k=3 sloppy tf/scoring == a brute-force tuple enumeration
    with the same contract (in-order, all qualifying tuples,
    1/(1+matchLength)); parser '"a b c"~N' routes to the same frame."""
    import re

    d = str(tmp_path / "idx")
    df = spark.createDataFrame(
        SLOPPY3_DOCS, "doc_id long, text string"
    ).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"), store_term_vectors=True
    ).build(df, d)
    s = Searcher(spark, d)
    slop = 3
    got = {
        r["doc_id"]: r["score"]
        for r in s.search_sloppy_phrase_multi(
            "alpha beta gamma", slop=slop, k=10
        ).collect()
    }

    dls = {r["doc_id"]: r["dl"] for r in s.cat.read(spark, "doc_lens").collect()}
    stored = {
        r["doc_id"]: r["text"]
        for r in s.cat.read(spark, "stored").select("doc_id", "text").collect()
    }
    n = len(stored)
    avgdl = sum(dls.values()) / n
    terms = ["alpha", "beta", "gamma"]
    dfc = {
        t: sum(
            1
            for txt in stored.values()
            if t in re.findall(r"[a-z0-9]+", txt.lower())
        )
        for t in terms
    }
    idf_total = sum(idf(n, dfc[t]) for t in terms)
    want = {}
    for did, txt in stored.items():
        ft = re.findall(r"[a-z0-9]+", txt.lower())
        pos = {t: [i for i, x in enumerate(ft) if x == t] for t in terms}
        tf = 0.0
        for p0 in pos["alpha"]:
            for p1 in pos["beta"]:
                if p1 > p0 and p1 - p0 - 1 <= slop:
                    for p2 in pos["gamma"]:
                        if p2 > p1 and p2 - p0 - 2 <= slop:
                            tf += 1.0 / (p2 - p0 - 2 + 1)
        if tf > 0:
            dl = dls[did]
            want[did] = (
                idf_total
                * tf
                * (K1 + 1.0)
                / (tf + K1 * (1.0 - B + B * dl / avgdl))
            )
    assert set(got) == set(want) == {0, 1, 4, 5}
    for did, sc in want.items():
        assert got[did] == pytest.approx(sc, abs=1e-9)

    # parser route: '"alpha beta gamma"~3' must produce the same frame
    via_parser = {
        r["doc_id"]: r["score"]
        for r in s.search_lucene('"alpha beta gamma"~3', k=10).collect()
    }
    assert via_parser == got


def test_span_near_multi_counts(spark, tmp_path):
    """k=3 in-order span-near: n_spans counts start positions with an
    in-order completion within total slop — hand-checked fixture."""
    d = str(tmp_path / "idx_sn3")
    df = spark.createDataFrame(
        SLOPPY3_DOCS, "doc_id long, text string"
    ).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"), store_term_vectors=True
    ).build(df, d)
    s = Searcher(spark, d)
    got = {
        r["doc_id"]: r["n_spans"]
        for r in s.search_span_near_multi(
            ["alpha", "beta", "gamma"], slop=3, k=10
        ).collect()
    }
    # doc0 exact (1 start), doc1 L=2 (1), doc2 L=5 miss, doc3 reversed
    # miss, doc4 two phrases but FIRST alpha also completes via the
    # second beta/gamma? positions a@0,b@1,g@2,a@3,b@4,g@5: start 0
    # completes (L=0); start 3 completes (L=0) -> 2. doc5 a@0,a@1 both
    # complete -> 2.
    assert got == {0: 1, 1: 1, 4: 2, 5: 2}


def test_sloppy_multi_k2_equals_pairwise(spark, tmp_path):
    """The k-term fold at k=2 must be the SAME function as the original
    pairwise frame — search_sloppy_phrase_multi dispatches to it, and
    the general fold's k=2 case is score-identical."""
    d = str(tmp_path / "idx_k2")
    df = spark.createDataFrame(
        SLOPPY3_DOCS, "doc_id long, text string"
    ).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"), store_term_vectors=True
    ).build(df, d)
    s = Searcher(spark, d)
    via_pair = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.search_sloppy_phrase("alpha", "beta", slop=2, k=10).collect()
    ]
    via_multi = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.search_sloppy_phrase_multi("alpha beta", slop=2, k=10).collect()
    ]
    # and the general fold itself at k=2 (bypassing the dispatch)
    frame = s._sloppy_phrase_frame_multi(["alpha", "beta"], 2, 1.0)
    via_fold = [
        (r["doc_id"], round(r["score"], 9))
        for r in frame.orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    ]
    assert via_pair == via_multi == via_fold
