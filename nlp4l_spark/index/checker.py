"""Index integrity checker — the Lucene CheckIndex analogue for the
parquet index layout.

Reference semantics (what, not how): Lucene ships CheckIndex to validate
segment invariants (posting order, stat rollups, norms) for the indexes
the reference writes via IWriter (/root/reference/app/org/nlp4l/lucene/
IWriter.scala:56-72); this validates OUR layout's invariants:

* structural (pure JVM aggregates):
  - field_stats.num_docs == |doc_lens| == |stored|, docIDs dense [0, N)
  - field_stats.sum_dl == Σ doc_lens.dl, avgdl consistent
  - field_stats.uniq_terms == |term_stats| == |distinct postings.term|
  - per-term df/cf rollups: Σ over postings shards == term_stats
  - per-term shard ranges ordered and non-overlapping (global docID sort)
* deep (one Arrow decode pass over the posting blobs):
  - decoded doc_ids strictly increasing, first/last == min_doc/max_doc
  - row df == decoded length, row cf == Σ decoded tfs, tfs >= 1
  - block_max metadata: each block's stored last_doc matches the decoded
    boundary and stored max_impact equals the recomputed BM25 impact max
    (the WAND upper bound MUST dominate every true block score)
  - decoded per-posting dl agrees with the doc_lens table
  - with positions: each posting's pos_enc run holds tf strictly
    ascending positions

Scale shape: every check is an aggregate (violation COUNTS cross the
wire, never row lists); the deep pass is one mapInPandas scan of the
postings table plus one doc_id-keyed join for the dl crosscheck — the
same order of work as a full-index WAND scan, run on demand like
Lucene's CheckIndex (an offline maintenance tool, not a query-path
cost).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from nlp4l_spark.index import codec
from nlp4l_spark.index.bm25 import bm25_impact
from nlp4l_spark.index.builder import has_positions
from nlp4l_spark.index.catalog import IndexCatalog

_DEEP_SCHEMA = T.StructType(
    [
        T.StructField("bad_sort", T.LongType()),
        T.StructField("bad_bounds", T.LongType()),
        T.StructField("bad_df", T.LongType()),
        T.StructField("bad_cf", T.LongType()),
        T.StructField("bad_tf", T.LongType()),
        T.StructField("bad_blocks", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("dl", T.LongType()),
    ]
)


def _deep_decoder(avgdl: float):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bad = {k: 0 for k in ("sort", "bounds", "df", "cf", "tf", "blocks")}
            pair_doc: list[np.ndarray] = []
            pair_dl: list[np.ndarray] = []
            for df, cf, min_doc, max_doc, d_enc, f_enc, l_enc, blocks in zip(
                pdf["df"], pdf["cf"], pdf["min_doc"], pdf["max_doc"],
                pdf["doc_ids_enc"], pdf["tfs_enc"], pdf["dls_enc"],
                pdf["block_max"],
            ):
                try:
                    d = codec.decode_doc_ids(d_enc)
                    f = codec.decode_tfs(f_enc)
                    l = codec.decode_tfs(l_enc)
                except Exception:
                    # undecodable blob: count one violation per category
                    # it blocks (sort/bounds/df unverifiable) and skip
                    bad["sort"] += 1
                    bad["bounds"] += 1
                    bad["df"] += 1
                    continue
                if d.size > 1 and not (np.diff(d) > 0).all():
                    bad["sort"] += 1
                if d.size and (
                    int(d[0]) != int(min_doc) or int(d[-1]) != int(max_doc)
                ):
                    bad["bounds"] += 1
                if d.size != int(df):
                    bad["df"] += 1
                if int(f.sum()) != int(cf):
                    bad["cf"] += 1
                if f.size and int(f.min()) < 1:
                    bad["tf"] += 1
                if blocks is not None and d.size:
                    impact = bm25_impact(f, l, avgdl)
                    starts = np.arange(0, d.size, codec.BLOCK_SIZE)
                    ends = np.concatenate((starts[1:], [d.size]))
                    if len(blocks) != starts.size:
                        bad["blocks"] += 1
                    else:
                        for i, blk in enumerate(blocks):
                            true_max = float(impact[starts[i] : ends[i]].max())
                            if int(blk["last_doc"]) != int(d[ends[i] - 1]) or (
                                float(blk["max_impact"]) < true_max - 1e-9
                            ):
                                bad["blocks"] += 1
                                break
                pair_doc.append(d.astype(np.int64))
                pair_dl.append(l.astype(np.int64))
            docs = (
                np.concatenate(pair_doc) if pair_doc else np.array([], np.int64)
            )
            dls = (
                np.concatenate(pair_dl) if pair_dl else np.array([], np.int64)
            )
            out = pd.DataFrame({"doc_id": docs, "dl": dls})
            for k in ("sort", "bounds", "df", "cf", "tf", "blocks"):
                out[f"bad_{k}"] = 0
            if len(out) == 0:
                out = pd.DataFrame(
                    {
                        "doc_id": [-1],
                        "dl": [-1],
                        **{f"bad_{k}": [bad[k]] for k in bad},
                    }
                )
            else:
                for k in bad:
                    out.loc[out.index[0], f"bad_{k}"] = bad[k]
            yield out[
                [
                    "bad_sort", "bad_bounds", "bad_df", "bad_cf",
                    "bad_tf", "bad_blocks", "doc_id", "dl",
                ]
            ]

    return run


def check_index(
    spark: SparkSession, path: str, deep: bool = True
) -> DataFrame:
    """Validate an index directory; returns DataFrame(check, ok, detail)
    ordered by check name — every row ok=True for a healthy index."""
    cat = IndexCatalog(path)
    doc_lens = cat.read(spark, "doc_lens")
    stored = cat.read(spark, "stored")
    term_stats = cat.read(spark, "term_stats")
    postings = cat.read(spark, "postings")
    fs = cat.read(spark, "field_stats").collect()[0]

    results: list[tuple[str, bool, str]] = []

    def add(check: str, ok: bool, detail: str) -> None:
        results.append((check, bool(ok), detail))

    dl_row = doc_lens.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
        F.sum("dl").alias("s"),
    ).collect()[0]
    n_stored = stored.count()
    add(
        "doc_count",
        fs["num_docs"] == dl_row["n"] == n_stored,
        f"field_stats={fs['num_docs']} doc_lens={dl_row['n']} stored={n_stored}",
    )
    # an expunging compaction (index/mergepolicy.py) keeps surviving
    # docIDs stable, leaving declared holes: density relaxes to a bound
    expunged = int(
        cat.manifest("stored").get("counters", {}).get("expunged", 0)
    )
    add(
        "dense_doc_ids",
        dl_row["nd"] == dl_row["n"]
        and dl_row["mn"] >= 0
        and dl_row["mx"] <= dl_row["n"] - 1 + expunged
        and (expunged > 0 or dl_row["mn"] == 0),
        f"distinct={dl_row['nd']} min={dl_row['mn']} max={dl_row['mx']}"
        + (f" expunged={expunged}" if expunged else ""),
    )
    add(
        "sum_dl",
        int(fs["sum_dl"]) == int(dl_row["s"])
        and abs(fs["avgdl"] - fs["sum_dl"] / max(fs["num_docs"], 1)) < 1e-9,
        f"field_stats={fs['sum_dl']} doc_lens={dl_row['s']}",
    )
    n_terms = term_stats.count()
    n_pterms = postings.select("term").distinct().count()
    add(
        "uniq_terms",
        fs["uniq_terms"] == n_terms == n_pterms,
        f"field_stats={fs['uniq_terms']} term_stats={n_terms} postings={n_pterms}",
    )
    rollup = (
        postings.groupBy("term")
        .agg(F.sum("df").alias("_df"), F.sum("cf").alias("_cf"))
        .join(term_stats, "term", "full")
        .filter(
            (F.col("_df") != F.col("df"))
            | (F.col("_cf") != F.col("cf"))
            | F.col("_df").isNull()
            | F.col("df").isNull()
        )
        .count()
    )
    add("df_cf_rollup", rollup == 0, f"mismatched_terms={rollup}")
    w = Window.partitionBy("term").orderBy("shard")
    overlaps = (
        postings.select(
            "term", "shard", "min_doc", "max_doc",
            F.lag("max_doc").over(w).alias("_prev"),
        )
        .filter(
            (F.col("min_doc") > F.col("max_doc"))
            | (F.col("_prev").isNotNull() & (F.col("_prev") >= F.col("min_doc")))
        )
        .count()
    )
    add("shard_order", overlaps == 0, f"violations={overlaps}")

    if cat.is_committed("term_vectors"):
        tv = cat.read(spark, "term_vectors")
        tv_roll = (
            tv.groupBy("term")
            .agg(
                F.countDistinct("doc_id").alias("_df"),
                F.sum("tf").alias("_cf"),
            )
            .join(term_stats, "term", "full")
            .filter(
                (F.col("_df") != F.col("df"))
                | (F.col("_cf") != F.col("cf"))
                | F.col("_df").isNull()
                | F.col("df").isNull()
            )
            .count()
        )
        add(
            "term_vectors_rollup",
            tv_roll == 0,
            f"mismatched_terms={tv_roll}",
        )
        pos_bad = tv.filter(
            F.col("positions").isNotNull()
            & (F.size("positions") != F.col("tf"))
        ).count()
        add(
            "term_vectors_positions",
            pos_bad == 0,
            f"rows_with_pos_tf_mismatch={pos_bad}",
        )

    if deep and has_positions(cat):

        def pos_check(batches: Iterator[pd.DataFrame]):
            for pdf in batches:
                bads = []
                for tf_enc, p_enc in zip(pdf["tfs_enc"], pdf["pos_enc"]):
                    # an undecodable / inconsistent blob IS the violation
                    # being hunted — count it, don't crash
                    try:
                        # every posting's run: tf strictly ascending positions
                        tfs = codec.decode_tfs(tf_enc)
                        pos = codec.decode_positions(p_enc, tfs)
                        inner = np.ones(pos.size, dtype=bool)
                        inner[np.cumsum(tfs) - tfs] = False  # run starts
                        bad = pos.size != int(tfs.sum()) or bool(
                            (np.diff(pos) <= 0)[inner[1:]].any()
                        )
                    except Exception:
                        bad = True
                    bads.append(int(bad))
                yield pd.DataFrame({"bad": bads}, dtype="int64")

        n_bad = int(
            postings.select("tfs_enc", "pos_enc")
            .mapInPandas(pos_check, "bad long")
            .agg(F.sum("bad"))
            .collect()[0][0]
            or 0
        )
        add("positions_decode", n_bad == 0, f"bad_rows={n_bad}")

    if deep:
        decoded = postings.select(
            "df", "cf", "min_doc", "max_doc",
            "doc_ids_enc", "tfs_enc", "dls_enc", "block_max",
        ).mapInPandas(_deep_decoder(float(fs["avgdl"])), _DEEP_SCHEMA)
        decoded.cache()
        bad = decoded.agg(
            *[
                F.sum(c).alias(c)
                for c in (
                    "bad_sort", "bad_bounds", "bad_df",
                    "bad_cf", "bad_tf", "bad_blocks",
                )
            ]
        ).collect()[0]
        for c in ("sort", "bounds", "df", "cf", "tf", "blocks"):
            add(
                f"postings_{c}",
                int(bad[f"bad_{c}"] or 0) == 0,
                f"bad_rows={int(bad[f'bad_{c}'] or 0)}",
            )
        dl_bad = (
            decoded.filter(F.col("doc_id") >= 0)
            .select("doc_id", "dl")
            .distinct()
            .join(
                doc_lens.select(
                    "doc_id", F.col("dl").cast("long").alias("_dl")
                ),
                "doc_id",
                "left",
            )
            .filter(F.col("_dl").isNull() | (F.col("_dl") != F.col("dl")))
            .count()
        )
        decoded.unpersist()
        add("dl_crosscheck", dl_bad == 0, f"mismatched_pairs={dl_bad}")

    return spark.createDataFrame(
        results, "check string, ok boolean, detail string"
    ).orderBy("check")


def index_stats(spark: SparkSession, path: str) -> DataFrame:
    """Index observability report — the segment/size view Lucene exposes
    through SegmentInfos + CheckIndex output: collection stats, posting
    row/shard counts, encoded blob bytes, and compression-shape ratios.
    One aggregate over each small table + one over postings (JVM-only,
    blob sizes via length(); the blobs themselves are never decoded).
    Output (stat, value) ordered by stat name, all values double."""
    cat = IndexCatalog(path)
    fs = cat.read(spark, "field_stats").collect()[0]
    p = cat.read(spark, "postings").agg(
        F.count("*").alias("rows"),
        F.sum("df").alias("postings"),
        F.sum("cf").alias("tokens"),
        F.max("df").alias("max_row_df"),
        F.sum(
            F.length("doc_ids_enc")
            + F.length("tfs_enc")
            + F.length("dls_enc")
        ).alias("blob_bytes"),
    ).collect()[0]
    shards = (
        cat.read(spark, "postings")
        .groupBy("term")
        .agg(F.count("*").alias("_s"))
        .agg(F.max("_s").alias("mx"), F.avg("_s").alias("av"))
        .collect()[0]
    )
    n_postings = float(p["postings"] or 0.0)
    rows = [
        ("num_docs", float(fs["num_docs"])),
        ("sum_dl", float(fs["sum_dl"])),
        ("avgdl", float(fs["avgdl"])),
        ("uniq_terms", float(fs["uniq_terms"])),
        ("posting_rows", float(p["rows"])),
        ("postings", n_postings),
        ("tokens", float(p["tokens"] or 0.0)),
        ("max_row_df", float(p["max_row_df"] or 0.0)),
        ("blob_bytes", float(p["blob_bytes"] or 0.0)),
        (
            "bytes_per_posting",
            float(p["blob_bytes"] or 0.0) / n_postings if n_postings else 0.0,
        ),
        ("max_shards_per_term", float(shards["mx"] or 0.0)),
        ("avg_shards_per_term", float(shards["av"] or 0.0)),
    ]
    return spark.createDataFrame(
        rows, "stat string, value double"
    ).orderBy("stat")
