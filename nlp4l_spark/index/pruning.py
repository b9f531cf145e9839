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
    top-P across shards, re-encode per surviving (term, shard)."""

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out: dict[str, list] = {f.name: [] for f in POSTINGS_SCHEMA.fields}
            for term, segs in zip(pdf["term"].tolist(), pdf["segs"].tolist()):
                d = np.concatenate([np.asarray(s["doc_ids"], dtype=np.int64) for s in segs])
                tf = np.concatenate([np.asarray(s["tfs"], dtype=np.int64) for s in segs])
                dl = np.concatenate([np.asarray(s["dls"], dtype=np.int64) for s in segs])
                im = np.concatenate([np.asarray(s["impacts"], dtype=np.float64) for s in segs])
                sh = np.concatenate(
                    [np.full(len(s["doc_ids"]), s["shard"], dtype=np.int64) for s in segs]
                )
                if d.size > keep:
                    sel = np.lexsort((d, -im))[:keep]
                    d, tf, dl, sh = d[sel], tf[sel], dl[sel], sh[sel]
                for shard in np.unique(sh):
                    m = sh == shard
                    ds, tfs, dls = d[m], tf[m], dl[m]
                    o = np.argsort(ds)
                    ds, tfs, dls = ds[o], tfs[o], dls[o]
                    imp = bm25_impact(tfs.astype(np.float64), dls, avgdl)
                    bm = []
                    for s0 in range(0, ds.size, codec.BLOCK_SIZE):
                        e0 = min(s0 + codec.BLOCK_SIZE, ds.size)
                        bm.append(
                            {
                                "last_doc": int(ds[e0 - 1]),
                                "max_impact": float(imp[s0:e0].max()),
                            }
                        )
                    out["term"].append(term)
                    out["shard"].append(int(shard))
                    out["df"].append(int(ds.size))
                    out["cf"].append(int(tfs.sum()))
                    out["min_doc"].append(int(ds[0]))
                    out["max_doc"].append(int(ds[-1]))
                    out["doc_ids_enc"].append(codec.encode_doc_ids(ds))
                    out["tfs_enc"].append(codec.encode_tfs(tfs))
                    out["dls_enc"].append(codec.encode_tfs(dls))
                    out["block_max"].append(bm)
            yield pd.DataFrame(out)

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
    fs = cat.read(spark, "field_stats").collect()[0]
    avgdl = float(fs["avgdl"])
    # a pruned tier has no positions: pos_enc is projected away
    full = cat.read(spark, "postings").select(
        "term", "shard", "df", "doc_ids_enc", "tfs_enc", "dls_enc"
    )
    n_full = full.select(F.sum("df")).collect()[0][0] or 0
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
            "postings_full": int(n_full),
        },
    )
    import json

    n_kept = cat.read(spark, name).select(F.sum("df")).collect()[0][0] or 0
    man = cat.manifest(name)
    man["counters"]["postings_kept"] = int(n_kept)
    with open(cat.manifest_path(name), "w", encoding="utf-8") as fh:
        json.dump(man, fh)
    return name
