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

The per-shard kernels are plain functions over posting rows, so both
harnesses score with the same code and WAND-routed OR scores are equal
bit for bit. The OR kernel ``topk_rows`` takes the rows as tuples:
Spark's ``applyInPandas`` calls it per (query, shard) group through its
pandas adapter ``shard_topk``, and the reader calls it directly on the
rows it joins from a pyarrow read, with no pandas on the way.
``phrase_matches`` (exact phrases) takes a pandas frame in both.

Size gate: a call is admitted only when the column chunks it reads of
the posting row groups its term filter selects, summed from the footers'
byte sizes, stay under ``MAX_POSTING_BYTES`` (in the style of
microbuild's ``MAX_ROWS`` cap): an OR call never counts ``pos_enc``.
"""

from __future__ import annotations

from bisect import bisect_left
from operator import itemgetter

import numpy as np
import pandas as pd
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
_SCORED_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.int64()), pa.field("score", pa.float64())]
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
    bound_scale: float = 1.0,
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

    ``bound_scale`` multiplies the stored block maxima: scoring under an
    avgdl larger than the one the index was built with raises every
    impact by at most that ratio, so the scaled maxima stay upper
    bounds."""
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


def shard_topk(
    pdf: pd.DataFrame,
    k: int,
    avgdl: float,
    dels: np.ndarray | None = None,
    topk_fn=wand_topk,
    bound_scale: float = 1.0,
) -> pd.DataFrame:
    """``topk_rows`` over a pandas frame of posting rows, for the Spark
    plan's ``applyInPandas`` -> (qid, doc_id, score)."""
    qid, doc, score = topk_rows(
        zip(*(pdf[c].tolist() for c in _TOPK_COLUMNS)),
        k,
        avgdl,
        dels,
        topk_fn=topk_fn,
        bound_scale=bound_scale,
    )
    return pd.DataFrame(
        {"qid": pd.Series(qid, dtype="int64"),
         "doc_id": pd.Series(doc, dtype="int64"),
         "score": pd.Series(score, dtype="float64")}
    )


def phrase_matches(
    pdf: pd.DataFrame,
    terms: list[str],
    offsets: list[int],
    dels: np.ndarray | None = None,
) -> pd.DataFrame:
    """Exact-phrase matches in position-carrying posting rows (term,
    min_doc, doc_ids_enc, tfs_enc, dls_enc, pos_enc) -> (doc_id, tf, dl)
    with tf = the phrase frequency. ``offsets[i]`` is ``terms[i]``'s
    position in the query, so a stopword hole in the query asks for the
    same hole in the doc. Each term's rows are stacked in min_doc order
    (disjoint doc ranges by construction), candidate docs are those
    holding every term, and a match is a start p with ``terms[i]`` at
    p + offsets[i] for every i."""
    empty = pd.DataFrame(
        {"doc_id": pd.Series([], dtype="int64"),
         "tf": pd.Series([], dtype="int64"),
         "dl": pd.Series([], dtype="int64")}
    )
    per_term: dict[str, list] = {}
    segs = pdf.sort_values("min_doc")
    for t, *encs in zip(
        segs["term"], segs["doc_ids_enc"], segs["tfs_enc"],
        segs["dls_enc"], segs["pos_enc"],
    ):
        per_term.setdefault(t, []).append(encs)
    if len(per_term) < len(set(terms)):
        return empty
    decoded: dict[str, tuple] = {}
    for t, rows in per_term.items():
        d_encs, tf_encs, dl_encs, p_encs = zip(*rows)
        d = np.concatenate([codec.decode_doc_ids(x) for x in d_encs])
        dl = np.concatenate([codec.decode_tfs(x) for x in dl_encs])
        # a posting's position run has length tf
        tf = np.concatenate([codec.decode_tfs(x) for x in tf_encs])
        flat = codec.decode_positions(b"".join(p_encs), tf)
        pstarts = np.zeros(tf.size + 1, dtype=np.int64)
        np.cumsum(tf, out=pstarts[1:])
        decoded[t] = (d, dl, flat, pstarts)
    cand = None
    for t in set(terms):
        cand = decoded[t][0] if cand is None else np.intersect1d(
            cand, decoded[t][0], assume_unique=True
        )
    if dels is not None and cand.size:
        cand = cand[~np.isin(cand, dels)]  # live-docs mask
    out_doc, out_tf, out_dl = [], [], []
    for doc in cand.tolist():
        inter = None
        for t, off in zip(terms, offsets):
            d, _, flat, pstarts = decoded[t]
            j = int(np.searchsorted(d, doc))
            ps = flat[pstarts[j] : pstarts[j + 1]] - off
            inter = ps if inter is None else np.intersect1d(
                inter, ps, assume_unique=True
            )
            if inter.size == 0:
                break
        if inter.size:
            d0, dl0 = decoded[terms[0]][:2]
            out_doc.append(doc)
            out_tf.append(int(inter.size))
            out_dl.append(int(dl0[int(np.searchsorted(d0, doc))]))
    if not out_doc:
        return empty
    return pd.DataFrame(
        {"doc_id": pd.Series(out_doc, dtype="int64"),
         "tf": pd.Series(out_tf, dtype="int64"),
         "dl": pd.Series(out_dl, dtype="int64")}
    )


def _ranked(doc_ids: np.ndarray, scores: np.ndarray, k: int):
    """Indices of the top k under score DESC, doc_id ASC."""
    return np.lexsort((doc_ids, -scores))[:k]


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
    call. pyarrow/NumPy (pandas only in the phrase kernel): results come
    back as pyarrow Tables with the Spark plans' schemas, which the
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
        the reader's own (a federation scores under the union's); the
        block maxima, stored under the reader's own, are scaled to
        stay upper bounds."""
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
            bound_scale=avgdl / self.avgdl if avgdl > self.avgdl else 1.0,
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
        self, rows: list[tuple[str, float]], k: int
    ) -> pa.Table:
        """AND top-k: docs holding every (term, idf) row's term, scored by
        the BM25 sum over those terms -> (doc_id, score, rank)."""
        post = self.postings.read([t for t, _ in rows], _AND_COLUMNS).sort_by(
            [("term", "ascending"), ("min_doc", "ascending")]
        )
        runs: dict[str, list] = {}
        for t, _min_doc, *encs in zip(*(post[c].to_pylist() for c in _AND_COLUMNS)):
            runs.setdefault(t, []).append(encs)
        decoded = {}
        for t, encs in runs.items():
            d_encs, tf_encs, dl_encs = zip(*encs)
            d = np.concatenate([codec.decode_doc_ids(x) for x in d_encs])
            tf = np.concatenate([codec.decode_tfs(x) for x in tf_encs])
            dl = np.concatenate([codec.decode_tfs(x) for x in dl_encs])
            decoded[t] = (d, tf, dl)
        cand = None
        for t, _ in rows:
            d = decoded[t][0] if t in decoded else np.empty(0, np.int64)
            cand = d if cand is None else np.intersect1d(cand, d, assume_unique=True)
        if self.dels is not None and cand.size:
            cand = cand[~np.isin(cand, self.dels)]
        score = np.zeros(cand.size)
        for t, w in rows:
            if cand.size:
                d, tf, dl = decoded[t]
                j = np.searchsorted(d, cand)
                score += w * bm25_impact(tf[j], dl[j], self.avgdl)
        top = _ranked(cand, score, k)
        return pa.table(
            {
                "doc_id": cand[top],
                "score": score[top],
                "rank": np.arange(1, top.size + 1, dtype=np.int32),
            },
            schema=_RANKED_SCHEMA,
        )

    def search_phrase(
        self, terms: list[str], offsets: list[int], idf_sum: float, k: int
    ) -> pa.Table:
        """Exact-phrase top-k over the positions in ``postings`` ->
        (doc_id, score); the phrase scores as one term of weight
        ``idf_sum`` and tf = the phrase frequency."""
        pdf = self.positions.read(terms, PHRASE_COLUMNS).to_pandas()
        m = phrase_matches(pdf, terms, offsets, self.dels)
        doc = m["doc_id"].to_numpy()
        score = idf_sum * bm25_impact(
            m["tf"].to_numpy(), m["dl"].to_numpy(), self.avgdl
        )
        top = _ranked(doc, score, k)
        return pa.table(
            {"doc_id": doc[top], "score": score[top]}, schema=_SCORED_SCHEMA
        )
