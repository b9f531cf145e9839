"""Static impact-ordered index pruning (Carmel et al., SIGIR'01): a
bounded top-P-postings-per-term tier of the committed postings table.

Reference scope: the reference engine (NLP4L wrapping Lucene 7) has no
pruned tier, but this is the standard way a 10^12-turn deployment serves
a cheap first pass — per-term posting lists bounded at P, so worst-case
query cost is O(|q| * P) regardless of corpus size, with the full index
kept for rescoring (Searcher.search_rescore) or exact tails.  The tier
rides the existing layout: same POSTINGS_SCHEMA, same (term, shard) row
shape, same block-max metadata, so WAND/MaxScore and the dataframe
scorer run on it unchanged via ``Searcher(postings_table=...)``.

Pruning contract (what the DuckDB oracle mirrors):

* rank each term's postings by BM25 impact
  ``tf*(k1+1)/(tf + k1*(1-b + b*dl/avgdl))`` DESC, doc_id ASC
  (idf is constant within a term, so raw impact ordering == score
  ordering), keep the top ``keep_per_term``;
* collection stats (num_docs, avgdl) and term_stats (df -> idf) are NOT
  rebuilt — pruning changes the candidate set, never the scoring model,
  so kept documents score IDENTICALLY to the full index.

Scale shape: one pruned-scan pass over the postings table (per-row
NumPy decode -> local top-P — safe because global top-P is a subset of
the union of per-(term, shard) top-Ps), one JVM hash exchange of the
bounded survivors keyed by term (<= P postings/term crosses the wire),
one Arrow re-encode pass.  No per-group Python (collect_list keeps the
group assembly JVM-side); nothing driver-resident.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.compute as pc

from pyspark.sql import SparkSession, functions as F

from nlp4l_spark.index import codec
from nlp4l_spark.index.bm25 import bm25_impact
from nlp4l_spark.index.builder import POSTINGS_SCHEMA
from nlp4l_spark.index.catalog import IndexCatalog

_CAND_SCHEMA = (
    "term string, shard long, doc_ids array<long>, tfs array<long>, "
    "dls array<long>, impacts array<double>"
)


def _local_top(avgdl: float, keep: int):
    """mapInPandas: decode each (term, shard) row, keep its local top-P
    postings by (impact DESC, doc_id ASC)."""

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            rows: dict[str, list] = {
                "term": [], "shard": [], "doc_ids": [], "tfs": [],
                "dls": [], "impacts": [],
            }
            # column-wise iteration (no per-row pandas Series): a 10^8
            # -term dictionary pays this loop once per (term, shard)
            for term, shard, d_enc, tf_enc, dl_enc in zip(
                pdf["term"].tolist(),
                pdf["shard"].tolist(),
                pdf["doc_ids_enc"].tolist(),
                pdf["tfs_enc"].tolist(),
                pdf["dls_enc"].tolist(),
            ):
                d = codec.decode_doc_ids(d_enc)
                tf = codec.decode_tfs(tf_enc)
                dl = codec.decode_tfs(dl_enc)
                imp = bm25_impact(tf.astype(np.float64), dl, avgdl)
                if d.size > keep:
                    # stable top-P under (impact DESC, doc_id ASC):
                    # lexsort's last key is primary; doc_ids ascending
                    # within equal impacts because input is doc-sorted
                    # and kind is stable via lexsort semantics
                    order = np.lexsort((d, -imp))[:keep]
                    order.sort()  # back to doc_id order for the arrays
                    d, tf, dl, imp = d[order], tf[order], dl[order], imp[order]
                rows["term"].append(term)
                rows["shard"].append(int(shard))
                rows["doc_ids"].append(d.tolist())
                rows["tfs"].append(tf.tolist())
                rows["dls"].append(dl.tolist())
                rows["impacts"].append(imp.tolist())
            yield pd.DataFrame(rows)

    return run


def _global_prune(avgdl: float, keep: int):
    """mapInPandas over collect_list-assembled per-term rows: global
    top-P across shards, re-encoded as one posting row per surviving
    (term, shard)."""

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            terms = pdf["term"].to_numpy(dtype=object)
            parts = []
            for i, segs in enumerate(pdf["segs"].tolist()):
                d, tf, dl, im = (
                    np.concatenate([np.asarray(s[k]) for s in segs])
                    for k in ("doc_ids", "tfs", "dls", "impacts")
                )
                sh = np.repeat(
                    [s["shard"] for s in segs], [len(s["doc_ids"]) for s in segs]
                )
                if d.size > keep:
                    sel = np.lexsort((d, -im))[:keep]
                    d, tf, dl, sh = d[sel], tf[sel], dl[sel], sh[sel]
                parts.append((np.full(d.size, i), sh, d, tf, dl))
            code, sh, d, tf, dl = (
                np.concatenate(x).astype(np.int64) for x in zip(*parts)
            )
            # runs: (term, shard), docs ascending inside each
            order = np.lexsort((d, sh, code))
            code, sh, d, tf, dl = (x[order] for x in (code, sh, d, tf, dl))
            change = 1 + np.flatnonzero((np.diff(code) != 0) | (np.diff(sh) != 0))
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [d.size]))
            yield pd.DataFrame(
                {
                    "term": terms[code[starts]],
                    "shard": sh[starts],
                    **codec.encode_runs(d, tf, dl, starts, ends, avgdl=avgdl),
                }
            )

    return run


def prune_postings(
    spark: SparkSession,
    index_dir: str,
    keep_per_term: int,
    table: str | None = None,
    *,
    resume: bool = True,
) -> str:
    """Materialize the pruned tier as committed table ``table`` (default
    ``postings_pruned{P}``) in the same catalog; returns the table name.
    Resumable like every builder stage (manifest-committed)."""
    name = table or f"postings_pruned{keep_per_term}"
    cat = IndexCatalog(index_dir)
    if resume and cat.is_committed(name):
        return name
    avgdl = float(cat.read_arrow("field_stats", ["avgdl"])["avgdl"][0].as_py())
    # the tier keeps min(df, keep_per_term) postings of every term
    df = cat.read_arrow("term_stats", ["df"])["df"]
    n_full = pc.sum(df).as_py() or 0
    n_kept = pc.sum(pc.min_element_wise(df, keep_per_term)).as_py() or 0
    # a pruned tier has no positions: pos_enc is projected away
    full = cat.read(spark, "postings").select(
        "term", "shard", "df", "doc_ids_enc", "tfs_enc", "dls_enc"
    )
    cand = full.mapInPandas(_local_top(avgdl, keep_per_term), _CAND_SCHEMA)
    per_term = cand.groupBy("term").agg(
        F.collect_list(
            F.struct("shard", "doc_ids", "tfs", "dls", "impacts")
        ).alias("segs")
    )
    pruned = per_term.mapInPandas(
        _global_prune(avgdl, keep_per_term), POSTINGS_SCHEMA
    )
    cat.write(
        pruned,
        name,
        sort_by=["term"],
        counters={
            "keep_per_term": keep_per_term,
            "postings_full": n_full,
            "postings_kept": n_kept,
        },
    )
    return name
