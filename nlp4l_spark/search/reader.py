"""Driver-resident index reader: BM25 top-k without a Spark job.

Reference semantics: NLP4L answers a top-k from an in-process Lucene
``IndexReader`` (its app/org/nlp4l/lucene/ISearcher.scala:31-49). On a
5k-turn index a query's kernel work is about half a millisecond, while
every Spark job costs a scheduling floor of hundreds of milliseconds, so
``Searcher`` answers ``method="auto"`` calls from this reader whenever
its size gate admits them and keeps the Spark plans (``wand``,
``maxscore``, ``dataframe``, phrase ``postings``) as the fallback and as
the explicitly named methods.

What the reader holds, all read on the driver with pyarrow through
``IndexCatalog`` (same committed-snapshot check as ``read``):

* pyarrow datasets over the scored posting table (``postings`` or a
  pruned tier) and, for phrases, ``postings`` with its ``pos_enc``
  column, read with a pushed ``term in (...)`` filter that parquet
  row-group statistics prune on; the row-group term ranges and
  per-column byte sizes come from the parquet footers at open;
* the searcher's collection statistics and tombstones.

The reader is a point-in-time view: ``Searcher`` checks the snapshot ids
of the tables behind its stats, tombstones and reader at the entry of
``search``, ``search_batch`` and ``search_phrase``, and reopens all three
together when one changed. A table rewritten in place (``expunge_deletes``,
or ``IndexBuilder.build`` / ``prune_postings`` with ``resume=False``)
gets a new snapshot id and loses the part files the datasets list.

Term statistics are not held: the searcher reads them per call with the
same pushed filter over ``term_stats``, on every path.

The per-shard kernels are plain functions over posting-row tuples, so
both harnesses score with the same code and their scores are equal bit
for bit: ``topk_rows`` (OR, by WAND or MaxScore) and
``conjunction_rows`` (AND, and exact phrases on top of the same
conjunction, as Lucene's ``ExactPhraseMatcher`` sits on its
``ConjunctionDISI``). The reader calls them directly on the rows it reads
with pyarrow, with no pandas on the way; the Spark plans call them per
group through the one ``applyInPandas`` adapter in search/engine.py.

Size gate: a call is admitted only when the column chunks it reads of
the posting row groups its term filter selects, summed from the footers'
byte sizes, stay under ``MAX_POSTING_BYTES`` (in the style of
microbuild's ``MAX_ROWS`` cap): an OR call never counts ``pos_enc``.
"""

from __future__ import annotations

from bisect import bisect_left
from operator import itemgetter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from nlp4l_spark.index import codec
from nlp4l_spark.index.bm25 import bm25_impact
from nlp4l_spark.index.builder import has_positions
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.search.wand import wand_topk

# Posting row-group bytes one call reads. Memory, not latency, sets it:
# on a 4-core VM with synthetic indexes of 5k-160k turns (2.5-68 MB
# selected) the driver answered 5-20x faster than the Spark plans at every
# size, while the driver's peak RSS grew about 4.5x the selected bytes
# (200 MB for 44 MB), so this cap holds one call near 1.2 GB.
MAX_POSTING_BYTES = 256 << 20

# result schemas, field for field what the Spark plans return
_BATCH_SCHEMA = pa.schema(
    [
        pa.field("qid", pa.int32()),
        pa.field("rank", pa.int32(), nullable=False),
        pa.field("doc_id", pa.int64()),
        pa.field("score", pa.float64()),
    ]
)
_RANKED_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64()),
        pa.field("score", pa.float64()),
        pa.field("rank", pa.int32(), nullable=False),
    ]
)

_OR_COLUMNS = ["term", "shard", "doc_ids_enc", "tfs_enc", "dls_enc", "block_max"]
# a posting row as the OR kernel takes it
_TOPK_COLUMNS = ["qid", "shard", "term", "idf"] + _OR_COLUMNS[2:]
_AND_COLUMNS = ["term", "min_doc", "doc_ids_enc", "tfs_enc", "dls_enc"]
PHRASE_COLUMNS = _AND_COLUMNS + ["pos_enc"]


# --------------------------------------------------------------------- #
# Kernels over posting rows (Spark and driver harness)
# --------------------------------------------------------------------- #
def topk_rows(
    rows,
    k: int,
    avgdl: float,
    dels: np.ndarray | None = None,
    topk_fn=wand_topk,
    block_avgdl: float | None = None,
) -> tuple[list[int], list[int], list[float]]:
    """The OR kernel over posting rows (qid, shard, term, idf,
    doc_ids_enc, tfs_enc, dls_enc, block_max): per (qid, shard) group,
    decode, drop tombstoned docs, run ``topk_fn`` (``wand_topk`` or
    ``maxscore_topk``) -> each group's local top-k as parallel (qid,
    doc_id, score) lists.

    Terms enter the kernel in term order, so a doc's score sums its terms
    in one fixed order whichever harness grouped the rows. Deleted docs
    are dropped from the decoded arrays before scoring; block-max metadata
    is then stale-aligned, so it is dropped (upper-bound pruning degrades,
    correctness does not — the trade Lucene makes consulting liveDocs
    inside its scorers).

    ``block_avgdl`` is the avgdl the stored block maxima were computed
    under (default ``avgdl``). Scoring under a larger avgdl, as a
    federation does under the union's, raises every impact by at most
    ``avgdl / block_avgdl``, so the maxima are scaled by that ratio to
    stay upper bounds."""
    bound_scale = (
        avgdl / block_avgdl if block_avgdl and avgdl > block_avgdl else 1.0
    )
    groups: dict[tuple[int, int], list] = {}
    for qid, shard, _t, w, d_enc, tf_enc, dl_enc, blocks in sorted(
        rows, key=itemgetter(0, 1, 2)
    ):
        d = codec.decode_doc_ids(d_enc)
        tf = codec.decode_tfs(tf_enc)
        dl = codec.decode_tfs(dl_enc)
        bm = list(blocks) if blocks is not None else []
        if bound_scale != 1.0:
            bm = [
                {"last_doc": b["last_doc"],
                 "max_impact": b["max_impact"] * bound_scale}
                for b in bm
            ]
        if dels is not None:
            live = ~np.isin(d, dels)
            if not live.all():
                d, tf, dl, bm = d[live], tf[live], dl[live], []
            if d.size == 0:
                continue
        groups.setdefault((qid, shard), []).append((float(w), d, tf, dl, bm))
    out_qid, out_doc, out_score = [], [], []
    for (qid, _shard), tps in groups.items():
        for doc, sc in topk_fn(tps, k, avgdl):
            out_qid.append(int(qid))
            out_doc.append(doc)
            out_score.append(sc)
    return out_qid, out_doc, out_score


def conjunction_rows(
    rows,
    qterms: list[tuple[str, float]],
    k: int,
    avgdl: float,
    dels: np.ndarray | None = None,
    offsets: list[int] | None = None,
) -> tuple[list[int], list[float]]:
    """The AND and phrase kernel over posting rows (term, min_doc,
    doc_ids_enc, tfs_enc, dls_enc[, pos_enc]) -> the local top-k as
    parallel (doc_id, score) lists, score DESC, doc_id ASC.

    ``qterms`` are the query's (term, idf) pairs. Each term's rows are
    stacked in min_doc order (disjoint doc ranges by construction), and
    the candidates are the live docs holding every term. Without
    ``offsets`` (AND) a candidate scores the sum of ``idf *
    bm25_impact(tf, dl)`` in ``qterms`` order. With ``offsets`` (a phrase,
    ``qterms`` in query order with ``offsets[i]`` the i-th term's position
    in the query, so a stopword hole in the query asks for the same hole
    in the doc) a match is a start p with every term at p + its offset,
    and a candidate scores ``idf_sum * bm25_impact(phrase_freq, dl)``."""
    runs: dict[str, list] = {}
    for t, _min_doc, *encs in sorted(rows, key=itemgetter(0, 1)):
        runs.setdefault(t, []).append(encs)
    if any(t not in runs for t, _ in qterms):
        return [], []
    decoded: dict[str, tuple] = {}
    for t, encs in runs.items():
        d_encs, tf_encs, dl_encs, *p_encs = zip(*encs)
        d = np.concatenate([codec.decode_doc_ids(x) for x in d_encs])
        tf = np.concatenate([codec.decode_tfs(x) for x in tf_encs])
        dl = np.concatenate([codec.decode_tfs(x) for x in dl_encs])
        decoded[t] = (d, tf, dl)
        if p_encs:
            # a posting's position run has length tf
            pstarts = np.zeros(tf.size + 1, dtype=np.int64)
            np.cumsum(tf, out=pstarts[1:])
            flat = codec.decode_positions(b"".join(p_encs[0]), tf)
            decoded[t] += (flat, pstarts)
    cand = None
    for t in dict.fromkeys(t for t, _ in qterms):
        d = decoded[t][0]
        cand = d if cand is None else np.intersect1d(cand, d, assume_unique=True)
    if dels is not None and cand.size:
        cand = cand[~np.isin(cand, dels)]  # live-docs mask
    if offsets is None:
        score = np.zeros(cand.size)
        for t, w in qterms:
            d, tf, dl = decoded[t]
            j = np.searchsorted(d, cand)
            score += w * bm25_impact(tf[j], dl[j], avgdl)
    else:
        freq = np.zeros(cand.size, dtype=np.int64)
        for i, doc in enumerate(cand.tolist()):
            inter = None
            for (t, _), off in zip(qterms, offsets):
                d, _, _, flat, pstarts = decoded[t]
                j = int(np.searchsorted(d, doc))
                ps = flat[pstarts[j] : pstarts[j + 1]] - off
                inter = ps if inter is None else np.intersect1d(
                    inter, ps, assume_unique=True
                )
                if inter.size == 0:
                    break
            freq[i] = inter.size
        cand, freq = cand[freq > 0], freq[freq > 0]
        d, _, dl = decoded[qterms[0][0]][:3]
        idf_sum = sum(w for _, w in qterms)
        score = idf_sum * bm25_impact(freq, dl[np.searchsorted(d, cand)], avgdl)
    top = np.lexsort((cand, -score))[:k]
    return cand[top].tolist(), score[top].tolist()


# --------------------------------------------------------------------- #
class _PostingTable:
    """A posting table's dataset plus each row group's (min term, max
    term, bytes per top-level column) from the parquet footers — the
    gate's byte count."""

    def __init__(self, dataset):
        self.dataset = dataset
        self.groups: list[tuple[str | None, str | None, dict[str, int]]] = []
        for frag in dataset.get_fragments():
            frag.ensure_complete_metadata()
            meta = frag.metadata
            for rg in frag.row_groups:
                st = (rg.statistics or {}).get("term") or {}
                chunks = meta.row_group(rg.id)
                sizes: dict[str, int] = {}
                for j in range(chunks.num_columns):
                    col = chunks.column(j)
                    name = col.path_in_schema.split(".", 1)[0]
                    sizes[name] = sizes.get(name, 0) + col.total_uncompressed_size
                self.groups.append((st.get("min"), st.get("max"), sizes))

    def selected_bytes(
        self, terms: list[str], columns: list[str] = _OR_COLUMNS
    ) -> int:
        """Bytes of ``columns`` in the row groups whose term range holds a
        query term (a group without statistics always counts)."""
        ts = sorted(terms)
        total = 0
        for lo, hi, sizes in self.groups:
            if lo is not None and hi is not None:
                i = bisect_left(ts, lo)
                if not (i < len(ts) and ts[i] <= hi):
                    continue
            total += sum(sizes.get(c, 0) for c in columns)
        return total

    def read(self, terms: list[str], columns: list[str]) -> pa.Table:
        return self.dataset.to_table(
            columns=columns, filter=pc.field("term").isin(sorted(set(terms)))
        )


class IndexReader:
    """The in-process reader one ``Searcher`` opens on its first routed
    call. pyarrow/NumPy, no pandas: results come back as pyarrow Tables with the Spark plans' schemas, which the
    searcher returns as driver-held DataFrames (``engine._LocalFrame``)."""

    def __init__(
        self,
        cat: IndexCatalog,
        postings_table: str,
        avgdl: float,
        deleted: frozenset[int],
    ):
        self.avgdl = avgdl
        self.dels = (
            np.fromiter(deleted, dtype=np.int64) if deleted else None
        )
        self.postings = _PostingTable(cat.dataset(postings_table))
        # phrases read the full postings, whatever tier scores OR/AND
        if not has_positions(cat):
            self.positions = None
        elif postings_table == "postings":
            self.positions = self.postings
        else:
            self.positions = _PostingTable(cat.dataset("postings"))

    # ---- gate -------------------------------------------------------- #
    def admits(self, terms, positions: bool = False) -> bool:
        """Whether one call over ``terms`` fits the driver: the column
        chunks it reads of the posting row groups it selects stay under
        ``MAX_POSTING_BYTES`` — the OR columns (AND reads fewer), or with
        ``positions`` the phrase columns, ``pos_enc`` included."""
        table, columns = (
            (self.positions, PHRASE_COLUMNS)
            if positions
            else (self.postings, _OR_COLUMNS)
        )
        if table is None:
            return False
        return table.selected_bytes(list(terms), columns) <= MAX_POSTING_BYTES

    # ---- queries ----------------------------------------------------- #
    def search_batch(
        self,
        rows: list[tuple[int, str, float]],
        ks: dict[int, int],
        avgdl: float | None = None,
    ) -> pa.Table:
        """OR top-k per query by block-max WAND: (qid, term, idf) rows of
        present terms -> (qid, rank, doc_id, score). ``avgdl`` overrides
        the reader's own, under which its block maxima were stored (a
        federation scores under the union's)."""
        avgdl = self.avgdl if avgdl is None else avgdl
        post = self.postings.read([t for _, t, _ in rows], _OR_COLUMNS)
        by_term: dict[str, list] = {}
        for t, *row in zip(*(post[c].to_pylist() for c in _OR_COLUMNS)):
            by_term.setdefault(t, []).append(row)
        # the (qid, term, idf) x posting-row join, in _TOPK_COLUMNS order
        qid, doc, score = topk_rows(
            (
                (q, shard, t, w, *encs)
                for q, t, w in rows
                for shard, *encs in by_term.get(t, ())
            ),
            max(ks.values()),
            avgdl,
            self.dels,
            block_avgdl=self.avgdl,
        )
        qid = np.array(qid, dtype=np.int64)
        doc = np.array(doc, dtype=np.int64)
        score = np.array(score, dtype=np.float64)
        order = np.lexsort((doc, -score, qid))
        qid, doc, score = qid[order], doc[order], score[order]
        # rank within each qid's run of the (qid, -score, doc_id) order
        rank = np.arange(qid.size) - np.searchsorted(qid, qid) + 1
        keep = rank <= np.array([ks[x] for x in qid.tolist()], dtype=np.int64)
        return pa.table(
            {
                "qid": qid[keep].astype(np.int32),
                "rank": rank[keep].astype(np.int32),
                "doc_id": doc[keep],
                "score": score[keep],
            },
            schema=_BATCH_SCHEMA,
        )

    def search_conjunctive(
        self,
        qterms: list[tuple[str, float]],
        k: int,
        offsets: list[int] | None = None,
    ) -> pa.Table:
        """AND top-k over the (term, idf) rows -> (doc_id, score, rank);
        with ``offsets``, the exact-phrase top-k over the positions in
        ``postings`` (``conjunction_rows`` has both contracts)."""
        table, columns = (
            (self.postings, _AND_COLUMNS)
            if offsets is None
            else (self.positions, PHRASE_COLUMNS)
        )
        post = table.read([t for t, _ in qterms], columns)
        doc, score = conjunction_rows(
            zip(*(post[c].to_pylist() for c in columns)),
            qterms,
            k,
            self.avgdl,
            self.dels,
            offsets,
        )
        return pa.table(
            {
                "doc_id": doc,
                "score": score,
                "rank": np.arange(1, len(doc) + 1, dtype=np.int32),
            },
            schema=_RANKED_SCHEMA,
        )
