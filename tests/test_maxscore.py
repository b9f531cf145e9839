"""MaxScore dynamic pruning: result-identity vs WAND and brute force.

The engine ships both of Lucene's dynamic-pruning strategies (WANDScorer
shape = wand_topk, MaxScoreBulkScorer shape = maxscore_topk); they must be
result-identical on every input — same docs, same scores bit for bit,
same (-score, doc_id) tie order."""

from __future__ import annotations

import numpy as np
import pytest

from nlp4l_spark.search import wand as wand_mod
from nlp4l_spark.search.wand import bm25_impact, maxscore_topk, wand_topk


def _rand_postings(rng, n_docs, n_terms, density, avgdl, skew=False):
    """Synthetic per-term postings with realistic block-max metadata."""
    tps = []
    for t in range(n_terms):
        p = density if not skew or t else min(1.0, density * 20)
        mask = rng.random(n_docs) < p
        docs = np.nonzero(mask)[0].astype(np.int64)
        if docs.size == 0:
            docs = np.array([int(rng.integers(n_docs))], dtype=np.int64)
        tfs = rng.integers(1, 8, size=docs.size).astype(np.int64)
        dls = rng.integers(5, 60, size=docs.size).astype(np.int64)
        idf = float(rng.uniform(0.1, 4.0))
        imp = bm25_impact(tfs, dls, avgdl)
        bm = []
        for s in range(0, docs.size, 128):
            e = min(s + 128, docs.size)
            bm.append(
                {
                    "last_doc": int(docs[e - 1]),
                    "max_impact": float(imp[s:e].max()),
                }
            )
        tps.append((idf, docs, tfs, dls, bm))
    return tps


def _brute_topk(tps, k, avgdl, threshold=0.0):
    scores: dict[int, float] = {}
    for idf, docs, tfs, dls, _ in tps:
        imp = idf * bm25_impact(tfs, dls, avgdl)
        for d, s in zip(docs.tolist(), imp.tolist()):
            scores[d] = scores.get(d, 0.0) + s
    items = [(d, s) for d, s in scores.items() if s > threshold]
    items.sort(key=lambda t: (-t[1], t[0]))
    return items[:k]


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize(
    "n_docs,n_terms,density,k,skew",
    [
        (2000, 3, 0.05, 10, False),
        (2000, 6, 0.02, 5, True),  # one head term, five rare
        (5000, 2, 0.15, 25, False),
        (300, 8, 0.3, 7, False),  # dense, many terms
        (50, 1, 0.5, 100, False),  # k > candidates, single term
    ],
)
def test_maxscore_equals_wand_and_brute(seed, n_docs, n_terms, density, k, skew):
    rng = np.random.default_rng(seed * 1000 + n_docs + n_terms)
    avgdl = 30.0
    tps = _rand_postings(rng, n_docs, n_terms, density, avgdl, skew)
    brute = _brute_topk(tps, k, avgdl)
    wand = wand_topk(tps, k, avgdl)
    ms = maxscore_topk(tps, k, avgdl)
    assert [d for d, _ in ms] == [d for d, _ in wand] == [d for d, _ in brute]
    for (_, a), (_, b) in zip(ms, brute):
        assert abs(a - b) < 1e-9
    # both kernels add a doc's impacts in term order: equal bit for bit
    assert ms == wand


@pytest.mark.parametrize("seed", [7, 8])
def test_maxscore_shard_threshold(seed):
    """threshold > 0 (the cross-shard floor handoff) prunes identically."""
    rng = np.random.default_rng(seed)
    avgdl = 25.0
    tps = _rand_postings(rng, 1500, 4, 0.08, avgdl)
    full = _brute_topk(tps, 10, avgdl)
    thr = full[4][1]  # floor strictly above half the results
    brute = _brute_topk(tps, 10, avgdl, threshold=thr)
    assert [d for d, _ in maxscore_topk(tps, 10, avgdl, threshold=thr)] == [
        d for d, _ in brute
    ]
    assert [d for d, _ in wand_topk(tps, 10, avgdl, threshold=thr)] == [
        d for d, _ in brute
    ]


def test_maxscore_no_block_metadata():
    """Missing block_max falls back to the (K1+1)-bound whole-list block."""
    docs = np.array([3, 9, 40], dtype=np.int64)
    tfs = np.array([2, 1, 5], dtype=np.int64)
    dls = np.array([10, 20, 30], dtype=np.int64)
    tps = [(1.5, docs, tfs, dls, [])]
    assert maxscore_topk(tps, 2, 20.0) == wand_topk(tps, 2, 20.0)


def test_maxscore_empty():
    assert maxscore_topk([], 5, 10.0) == []


def test_searcher_method_maxscore(spark, tmp_path):
    """End-to-end: Searcher(method='maxscore') is row-identical to wand
    and dataframe on a multi-shard synthetic index, over the bench query
    shapes (head/rare/OR/needle/stopword-only/unknown)."""
    from nlp4l_spark.data.transcripts import synth_queries, synth_transcripts
    from nlp4l_spark.index import build_index
    from nlp4l_spark.search import Searcher

    path = str(tmp_path / "ms_idx")
    build_index(synth_transcripts(spark, 4000, num_partitions=8), path)
    s = Searcher(spark, path)
    qset = synth_queries(8)
    ms = s.search_batch(qset, method="maxscore").collect()
    wd = s.search_batch(qset, method="wand").collect()
    key = lambda r: (r["qid"], r["rank"])  # noqa: E731
    assert sorted(ms, key=key) == sorted(wd, key=key)
    one = s.search("w00001 w00454 needle03", k=5, method="maxscore").collect()
    two = s.search("w00001 w00454 needle03", k=5, method="dataframe").collect()
    assert [r["doc_id"] for r in one] == [r["doc_id"] for r in two]
    assert all(abs(a["score"] - b["score"]) < 1e-9 for a, b in zip(one, two))
