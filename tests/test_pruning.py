"""Static impact-ordered index pruning (index/pruning.py) vs a
brute-force referee implementing the same contract: per-term top-P
postings by (BM25 impact DESC, doc_id ASC), full-index stats, score =
sum of kept idf*impact contributions."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from nlp4l_spark.data.transcripts import synth_transcripts
from nlp4l_spark.index import build_index
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.index.pruning import prune_postings
from nlp4l_spark.search import Searcher
from nlp4l_spark.search.wand import bm25_impact

QUERY = "w00001 w00454 needle03"


@pytest.fixture(scope="module")
def pruned_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("prune") / "idx")
    build_index(synth_transcripts(spark, 4000, num_partitions=8), path)
    return path


def _referee_topk(spark, path, terms, keep, k):
    """Brute-force pruned scoring from the decoded FULL postings."""
    s = Searcher(spark, path)
    decoded = s._decoded(s._matching_postings(terms)).collect()
    dfs = s._term_stats(terms)
    from nlp4l_spark.search.engine import idf as idf_fn

    per_term: dict[str, list] = {}
    for r in decoded:
        per_term.setdefault(r["term"], []).append(
            (int(r["doc_id"]), float(r["tf"]), float(r["dl"]))
        )
    scores: dict[int, float] = {}
    for t, rows in per_term.items():
        d = np.array([x[0] for x in rows])
        tf = np.array([x[1] for x in rows])
        dl = np.array([x[2] for x in rows])
        imp = bm25_impact(tf, dl, s.avgdl)
        sel = np.lexsort((d, -imp))[:keep]
        w = idf_fn(s.num_docs, dfs[t])
        for i in sel:
            scores[int(d[i])] = scores.get(int(d[i]), 0.0) + w * float(imp[i])
    items = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return items[:k]


def test_huge_p_is_identity(spark, pruned_idx):
    t = prune_postings(spark, pruned_idx, 10**6, table="pp_all")
    full = Searcher(spark, pruned_idx).search(QUERY, k=10, method="wand").collect()
    pr = Searcher(spark, pruned_idx, postings_table=t).search(
        QUERY, k=10, method="wand"
    ).collect()
    assert [r["doc_id"] for r in full] == [r["doc_id"] for r in pr]
    assert all(abs(a["score"] - b["score"]) < 1e-9 for a, b in zip(full, pr))


@pytest.mark.parametrize("keep", [16, 64])
def test_pruned_matches_referee(spark, pruned_idx, keep):
    t = prune_postings(spark, pruned_idx, keep)
    s = Searcher(spark, pruned_idx, postings_table=t)
    terms = sorted(set(s.analyzer.tokenize(QUERY)))
    got = s.search(QUERY, k=10, method="wand").collect()
    want = _referee_topk(spark, pruned_idx, terms, keep, 10)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    assert all(abs(r["score"] - sc) < 1e-9 for r, (_, sc) in zip(got, want))
    # all three scoring paths agree on the pruned tier
    df_res = s.search(QUERY, k=10, method="dataframe").collect()
    ms_res = s.search(QUERY, k=10, method="maxscore").collect()
    assert [r["doc_id"] for r in df_res] == [r["doc_id"] for r in got]
    assert [r["doc_id"] for r in ms_res] == [r["doc_id"] for r in got]


def test_bound_and_counters(spark, pruned_idx):
    t = prune_postings(spark, pruned_idx, 64)
    cat = IndexCatalog(pruned_idx)
    man = cat.manifest(t)
    assert man["counters"]["keep_per_term"] == 64
    assert man["counters"]["postings_kept"] <= man["counters"]["postings_full"]
    mx = (
        cat.read(spark, t)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .agg(F.max("df"))
        .collect()[0][0]
    )
    assert mx <= 64


def test_kept_contributions_identical(spark, pruned_idx):
    """The pruning contract: a kept (term, doc) pair contributes EXACTLY
    its full-index BM25 term score (stats never rebuilt)."""
    t = prune_postings(spark, pruned_idx, 16, table="pp16c")
    s_pr = Searcher(spark, pruned_idx, postings_table=t)
    s_full = Searcher(spark, pruned_idx)
    terms = sorted(set(s_full.analyzer.tokenize(QUERY)))
    kept = s_pr._decoded(s_pr._matching_postings(terms)).collect()
    full = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in s_full._decoded(s_full._matching_postings(terms)).collect()
    }
    assert kept, "pruned tier lost every query-term posting"
    for r in kept:
        assert full[(r["term"], r["doc_id"])] == (r["tf"], r["dl"])


def test_search_tiered(spark, pruned_idx):
    """Tiered = pruned first pass window + EXACT full-index rescore:
    with a window covering the full candidate set it equals the
    unpruned top-k bit-for-bit; with a tight window it equals the
    two-phase referee."""
    prune_postings(spark, pruned_idx, 16, table="pp16t")
    s = Searcher(spark, pruned_idx)
    full = s.search(QUERY, k=10, method="wand").collect()
    wide = s.search_tiered(
        QUERY, k=10, window=10**6, tier_table="pp16t"
    ).collect()
    assert [r["doc_id"] for r in wide] == [r["doc_id"] for r in full]
    assert all(
        abs(a["score"] - b["score"]) < 1e-9 for a, b in zip(wide, full)
    )
    # tight window: first pass picks rounded top-5 from the pruned tier,
    # exact rescore within — referee replays both phases
    tight = s.search_tiered(QUERY, k=5, window=5, tier_table="pp16t").collect()
    terms = sorted(set(s.analyzer.tokenize(QUERY)))
    first = _referee_topk(spark, pruned_idx, terms, 16, 10**6)
    win = sorted(
        [(d, round(sc, 6)) for d, sc in first], key=lambda x: (-x[1], x[0])
    )[:5]
    win_docs = {d for d, _ in win}
    exact = {
        r["doc_id"]: r["score"]
        for r in s.search(QUERY, k=10**6, method="dataframe").collect()
        if r["doc_id"] in win_docs
    }
    want = sorted(exact.items(), key=lambda x: (-x[1], x[0]))[:5]
    assert [r["doc_id"] for r in tight] == [d for d, _ in want]
    assert all(
        abs(r["score"] - sc) < 1e-9 for r, (_, sc) in zip(tight, want)
    )


def test_search_tiered_oov_term(spark, pruned_idx):
    """A mixed query (indexed terms + a term absent from the corpus)
    must not KeyError in the exact-rescore phase (_term_stats omits
    absent terms); the OOV term contributes nothing, so the result
    equals the same query without it. Round-4 ADVICE.md regression."""
    prune_postings(spark, pruned_idx, 16, table="pp16t")
    s = Searcher(spark, pruned_idx)
    base = s.search_tiered(QUERY, k=5, window=20, tier_table="pp16t").collect()
    mixed = s.search_tiered(
        QUERY + " zz_no_such_term_zz", k=5, window=20, tier_table="pp16t"
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in mixed] == [
        (r["doc_id"], r["score"]) for r in base
    ]
    # all-OOV query: empty result, stable schema
    none = s.search_tiered(
        "zz_no_such_term_zz", k=5, window=20, tier_table="pp16t"
    )
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == ["doc_id", "score", "rank"]


def test_resume_returns_committed(spark, pruned_idx):
    t1 = prune_postings(spark, pruned_idx, 64)
    t2 = prune_postings(spark, pruned_idx, 64)  # no rebuild
    assert t1 == t2 == "postings_pruned64"


def _straddle_docs() -> list[tuple[str, str]]:
    """29 docs, 114 tokens (avgdl = 114/29), hand-searched so the two
    best matches of "zqx zqy" score 1.62836943 (doc 1: zqx, dl 12, df 1)
    and 1.62836915 (doc 0: zqy, dl 7, df 3): different exact scores, the
    same 6 dp rounded score, and the higher exact score on the higher
    doc id."""
    pad = lambda n: " zpad" * n  # noqa: E731
    docs = ["zqy" + pad(6), "zqx" + pad(11), "zqy" + pad(29), "zqy" + pad(29)]
    docs += ["zpad"] * 15 + ["zpad zpad"] * 10
    return [(f"c{i:02d}", text) for i, text in enumerate(docs)]


def test_rounded_window_cut_straddling_tie(spark, tmp_path):
    """A 6 dp rounded tie straddling the window boundary: the window is
    the first ``window`` docs in (round(score, 6) DESC, doc_id ASC)
    order — the oracle's cut — so with window=1 the lower doc id wins
    the tie even though its exact score is lower. Both search_tiered and
    search_rescore cut the window this way."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.search.engine import _round6

    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(_straddle_docs(), "conv_id string, text string")
    IndexBuilder(sort_cols=("conv_id", "turn_idx"), store_term_vectors=True).build(
        docs.select(
            "conv_id",
            F.lit(0).alias("turn_idx"),
            F.lit("u").alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        ),
        path,
    )
    s = Searcher(spark, path)
    q = "zqx zqy"
    full = [(r["doc_id"], r["score"]) for r in s.search(q, k=5).orderBy("rank").collect()]
    # the premise: exact order puts doc 1 first, rounding ties the pair
    (d1, s1), (d0, s0) = full[:2]
    assert (d1, d0) == (1, 0) and s1 > s0 and _round6(s1) == _round6(s0), full
    assert full[2][1] < s0

    tiered = s.search_tiered(q, k=1, window=1, tier_table="postings").collect()
    assert [(r["doc_id"], r["score"]) for r in tiered] == [(0, s0)]
    res = s.search_rescore(q, "zqx zqy", k=1, window=1, weight=1.0).collect()
    assert [(r["doc_id"], r["score"]) for r in res] == [(0, _round6(s0))]
