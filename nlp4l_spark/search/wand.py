"""Block-max WAND top-k over decoded posting shards (pure NumPy).

Reference semantics: ISearcher.search -> Lucene IndexSearcher top-k with
BM25 and docID-asc tie-break (/root/reference/app/org/nlp4l/lucene/
ISearcher.scala:42-43); Lucene 7's collector uses (Block-Max) WAND-style
skipping internally. We score one (query, doc_id-shard) pair per call:

* per-term posting arrays (doc_ids, tfs, dls) + idf weights,
* block (last_doc, max_impact) metadata -> score upper bounds,
* a document-at-a-time merge that skips blocks whose summed upper bound
  cannot beat the current k-th score.

The implementation is vectorized per block-run rather than per-doc: terms
are merged via np.searchsorted joins on candidate docs surviving the
block-max filter. Ties: (-score, doc_id) ordering, exactly the oracle's.
"""

from __future__ import annotations

import heapq

import numpy as np

from nlp4l_spark.index.bm25 import K1, bm25_impact


def wand_topk(
    term_postings: list[tuple[float, np.ndarray, np.ndarray, np.ndarray, list]],
    k: int,
    avgdl: float,
    threshold: float = 0.0,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for one query over one shard.

    term_postings: per query term (idf, doc_ids, tfs, dls, block_max)
    where block_max is a list of dicts {last_doc, max_impact}.
    threshold: scores must exceed this (e.g. k-th score from other shards)
    to be emitted — lets the global merge stay cheap.
    """
    if not term_postings:
        return []
    # Upper bound if every term hit at its global max impact: quick reject.
    # Work block-aligned: evaluate candidate docs in block-sized spans,
    # skipping spans whose summed block max can't beat the heap floor.
    n_terms = len(term_postings)
    idfs = np.array([tp[0] for tp in term_postings])
    docs = [tp[1] for tp in term_postings]
    impacts = [
        idfs[i] * bm25_impact(term_postings[i][2], term_postings[i][3], avgdl)
        for i in range(n_terms)
    ]
    # block tables: per term, arrays (block_last_doc, block_ub)
    blk_last, blk_ub = [], []
    for i, tp in enumerate(term_postings):
        bm = tp[4]
        if bm:
            blk_last.append(np.array([b["last_doc"] for b in bm], dtype=np.int64))
            blk_ub.append(idfs[i] * np.array([b["max_impact"] for b in bm]))
        else:  # no metadata: one block covering everything, max possible impact
            blk_last.append(np.array([docs[i][-1]], dtype=np.int64))
            blk_ub.append(np.array([idfs[i] * (K1 + 1.0)]))

    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k

    def floor() -> float:
        return heap[0][0] if len(heap) >= k else threshold

    # Candidate doc ranges: walk the union of block boundaries.
    boundaries = np.unique(np.concatenate(blk_last))
    lo = -1
    for hi in boundaries:
        # upper bound of any doc in (lo, hi]: sum over terms of the ub of
        # the block containing this range
        ub = 0.0
        for i in range(n_terms):
            j = np.searchsorted(blk_last[i], lo + 1)
            if j < blk_last[i].size:
                ub += blk_ub[i][j]
        if ub <= floor():
            lo = hi
            continue
        # score this span exactly: gather postings in (lo, hi] per term,
        # sum per doc vectorized (np.unique + add.at)
        parts_d, parts_i = [], []
        for i in range(n_terms):
            d = docs[i]
            s = np.searchsorted(d, lo + 1)
            e = np.searchsorted(d, hi, side="right")
            if s < e:
                parts_d.append(d[s:e])
                parts_i.append(impacts[i][s:e])
        if parts_d:
            all_d = np.concatenate(parts_d)
            all_i = np.concatenate(parts_i)
            uniq, inv = np.unique(all_d, return_inverse=True)
            sums = np.zeros(uniq.size)
            np.add.at(sums, inv, all_i)
            for doc, sc in zip(uniq.tolist(), sums.tolist()):
                if len(heap) < k:
                    if sc > threshold:
                        heapq.heappush(heap, (sc, -doc))
                elif (sc, -doc) > heap[0]:
                    heapq.heapreplace(heap, (sc, -doc))
        lo = hi

    out = sorted(((sc, -nd) for sc, nd in heap), key=lambda t: (-t[0], t[1]))
    return [(int(doc), float(sc)) for sc, doc in out]


def maxscore_topk(
    term_postings: list[tuple[float, np.ndarray, np.ndarray, np.ndarray, list]],
    k: int,
    avgdl: float,
    threshold: float = 0.0,
) -> list[tuple[int, float]]:
    """Block-max MaxScore (Turtle & Flood) top-k — same contract, same
    tie-break, and the same span-skip rule as wand_topk, so the two are
    result-identical at the default ``threshold=0.0``; only the pruning
    strategy differs. MaxScore's pruning filters accumulate a doc's score
    essential-terms-first then non-essential, while wand sums in term
    order; the docs that survive the filters are re-summed in term order
    before they enter the heap, so returned scores equal wand's bit for
    bit. The filters themselves compare the essential-first sums, so
    with a NONZERO entry threshold a doc whose exact score EQUALS the
    threshold can still be dropped on a 1-2 ulp difference: a
    cross-shard floor handoff that feeds another shard's floor in as
    ``threshold`` must quantize both sides (e.g. round to 6 dp, the
    harness convention) before comparing, or accept ulp-level admission
    skew at exact-tie scores. Within each
    surviving span, terms are split at the current heap floor into a
    NON-ESSENTIAL prefix (ascending span upper bounds whose running sum
    cannot alone beat the floor — their postings are never enumerated)
    and an ESSENTIAL tail that supplies the candidate docs; candidates
    then take non-essential contributions via binary-search lookups with
    a progressively tightening upper-bound filter (candidates are
    dropped as soon as score-so-far + remaining non-essential bound
    falls to the floor). Lucene 8+ ships exactly this pair of dynamic
    pruning strategies (WANDScorer / MaxScoreBulkScorer); which wins
    depends on term-count and score skew, so the engine exposes both
    (Searcher.search method="maxscore")."""
    if not term_postings:
        return []
    n_terms = len(term_postings)
    idfs = np.array([tp[0] for tp in term_postings])
    docs = [tp[1] for tp in term_postings]
    impacts = [
        idfs[i] * bm25_impact(term_postings[i][2], term_postings[i][3], avgdl)
        for i in range(n_terms)
    ]
    blk_last, blk_ub = [], []
    for i, tp in enumerate(term_postings):
        bm = tp[4]
        if bm:
            blk_last.append(
                np.array([b["last_doc"] for b in bm], dtype=np.int64)
            )
            blk_ub.append(idfs[i] * np.array([b["max_impact"] for b in bm]))
        else:
            blk_last.append(np.array([docs[i][-1]], dtype=np.int64))
            blk_ub.append(np.array([idfs[i] * (K1 + 1.0)]))

    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k

    def floor() -> float:
        return heap[0][0] if len(heap) >= k else threshold

    boundaries = np.unique(np.concatenate(blk_last))
    lo = -1
    for hi in boundaries:
        # per-term upper bound inside (lo, hi]
        span_ub = np.zeros(n_terms)
        for i in range(n_terms):
            j = np.searchsorted(blk_last[i], lo + 1)
            if j < blk_last[i].size:
                span_ub[i] = blk_ub[i][j]
        th = floor()
        if span_ub.sum() <= th:
            lo = hi
            continue
        # MaxScore split: ascending-UB prefix whose cumulative bound
        # stays STRICTLY below the floor is non-essential — a doc
        # matching only those terms scores < floor, and the heap's
        # replace rule `(sc, -doc) > heap[0]` admits a floor-equal score
        # on a doc_id tie, so equality must stay essential to remain
        # result-identical with wand_topk.
        order = np.argsort(span_ub, kind="stable")
        cum = np.cumsum(span_ub[order])
        n_noness = int(np.searchsorted(cum, th, side="left"))
        ess = np.sort(order[n_noness:])  # term order, as wand_topk sums
        noness = order[:n_noness]
        # candidates: docs appearing in any essential list in the span
        parts_d, parts_i = [], []
        for i in ess:
            d = docs[i]
            s = np.searchsorted(d, lo + 1)
            e = np.searchsorted(d, hi, side="right")
            if s < e:
                parts_d.append(d[s:e])
                parts_i.append(impacts[i][s:e])
        if parts_d:
            all_d = np.concatenate(parts_d)
            all_i = np.concatenate(parts_i)
            cand, inv = np.unique(all_d, return_inverse=True)
            score = np.zeros(cand.size)
            np.add.at(score, inv, all_i)
            # progressive non-essential lookups, largest bound first:
            # remaining[j] = UB still addable after taking term noness[j]
            if noness.size:
                desc = noness[::-1]
                taken = np.cumsum(span_ub[desc])
                remaining = taken[-1] - taken  # UB still addable after j
                alive = score + (cum[n_noness - 1] if n_noness else 0.0) >= th
                cand, score = cand[alive], score[alive]
                for j, i in enumerate(desc):
                    if cand.size == 0:
                        break
                    d = docs[i]
                    pos = np.searchsorted(d, cand)
                    pos_c = np.minimum(pos, d.size - 1)
                    hit = d[pos_c] == cand
                    score = score + np.where(hit, impacts[i][pos_c], 0.0)
                    alive = score + remaining[j] >= th
                    cand, score = cand[alive], score[alive]
                # the non-essential terms were added last: re-sum the
                # survivors in term order, as wand_topk sums them
                score = np.zeros(cand.size)
                for d, imp in zip(docs, impacts):
                    pos = np.minimum(np.searchsorted(d, cand), d.size - 1)
                    score = score + np.where(d[pos] == cand, imp[pos], 0.0)
            for doc, sc in zip(cand.tolist(), score.tolist()):
                if len(heap) < k:
                    if sc > threshold:
                        heapq.heappush(heap, (sc, -doc))
                elif (sc, -doc) > heap[0]:
                    heapq.heapreplace(heap, (sc, -doc))
        lo = hi

    out = sorted(((sc, -nd) for sc, nd in heap), key=lambda t: (-t[0], t[1]))
    return [(int(doc), float(sc)) for sc, doc in out]
