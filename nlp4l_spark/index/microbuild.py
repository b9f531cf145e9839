"""Driver-side micro-generation builder: one Spark job per ingest.

The distributed ``IndexBuilder`` commits ~8 snapshot tables, each its own
Spark job; on a micro-batch (thousands of turns) every one of those jobs
is ~0.3 s of scheduler/commit floor and the build runs ~10x slower than
its data volume justifies (VERDICT r3 task 6: 1.5k turns/s vs 14.8k
batch). This module is the Lucene answer — an in-memory segment flush:
collect the micro-batch with ONE job (Arrow), tokenize it on the driver
with the tokenize UDF's own function (``Analyzer.term_counts_frame``),
encode segments and postings in one pass (``_encode_micro``: for one
doc-sorted partition, the bytes ``builder._segment_builder`` and
``builder._segment_merger`` would write) and write every catalog table
directly with pyarrow, bit-compatible with a distributed build of the
same batch (same docID rank order, same codec bytes, same manifest
layout — federation identity tests cover the mix). Positions are not
written here: a ``store_positions`` ingest takes the distributed
builder.

Scale note: this path is gated to batches ≤ ``MAX_ROWS`` rows; anything
larger falls back to the distributed builder. The cap is a
driver-residency bound in the plans/caps.py sense — the micro-batch is
small BY DESIGN (a streaming trigger interval's worth of turns), while
generation compaction and full rebuilds stay distributed.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, types as T

from nlp4l_spark.analysis import STANDARD_ANALYZER, Analyzer
from nlp4l_spark.index import codec
from nlp4l_spark.index.bm25 import bm25_impact
from nlp4l_spark.index.builder import POSTINGS_SCHEMA, SEGMENT_SCHEMA
from nlp4l_spark.index.catalog import MANIFEST, IndexCatalog

# Rows one micro-batch may hold (the driver-residency cap); a bigger
# batch falls back to the distributed builder.
MAX_ROWS = 64_000

_PA_BLOCK_MAX = pa.list_(
    pa.struct(
        [
            pa.field("last_doc", pa.int64()),
            pa.field("max_impact", pa.float64()),
        ]
    )
)

_PA_SEGMENTS = pa.schema(
    [
        ("term", pa.string()),
        ("shard", pa.int64()),
        ("pid", pa.int32()),
        ("df", pa.int64()),
        ("cf", pa.int64()),
        ("min_doc", pa.int64()),
        ("max_doc", pa.int64()),
        ("doc_ids_enc", pa.binary()),
        ("tfs_enc", pa.binary()),
        ("dls_enc", pa.binary()),
    ]
)

_PA_POSTINGS = pa.schema(
    [
        ("term", pa.string()),
        ("shard", pa.int64()),
        ("df", pa.int64()),
        ("cf", pa.int64()),
        ("min_doc", pa.int64()),
        ("max_doc", pa.int64()),
        ("doc_ids_enc", pa.binary()),
        ("tfs_enc", pa.binary()),
        ("dls_enc", pa.binary()),
        ("block_max", _PA_BLOCK_MAX),
    ]
)

_PA_FWD = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("terms", pa.list_(pa.string())),
        ("tfs", pa.list_(pa.int32())),
        ("dl", pa.int32()),
    ]
)

_FWD_SPARK = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("tfs", T.ArrayType(T.IntegerType())),
        T.StructField("dl", T.IntegerType()),
    ]
)

_PA_DOC_LENS = pa.schema([("doc_id", pa.int64()), ("dl", pa.int32())])
_DOC_LENS_SPARK = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dl", T.IntegerType()),
    ]
)

_PA_TERM_STATS = pa.schema(
    [
        ("term", pa.string()),
        ("df", pa.int64()),
        ("cf", pa.int64()),
        ("tlen", pa.int32()),
    ]
)
_TERM_STATS_SPARK = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
        T.StructField("tlen", T.IntegerType()),
    ]
)

_PA_FIELD_STATS = pa.schema(
    [
        ("field", pa.string()),
        ("num_docs", pa.int64()),
        ("sum_dl", pa.int64()),
        ("avgdl", pa.float64()),
        ("uniq_terms", pa.int64()),
    ]
)
_FIELD_STATS_SPARK = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("num_docs", T.LongType()),
        T.StructField("sum_dl", T.LongType()),
        T.StructField("avgdl", T.DoubleType()),
        T.StructField("uniq_terms", T.LongType()),
    ]
)

_PA_LINEAGE = pa.schema(
    [
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("turns_tokenized", pa.int32()),
        ("postings_emitted", pa.int64()),
        ("bytes_compressed", pa.int64()),
    ]
)
_LINEAGE_SPARK = T.StructType(
    [
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("turns_tokenized", T.IntegerType()),
        T.StructField("postings_emitted", T.LongType()),
        T.StructField("bytes_compressed", T.LongType()),
    ]
)


def _commit(
    cat: IndexCatalog,
    name: str,
    table: pa.Table,
    spark_schema: T.StructType,
    counters: dict | None = None,
) -> None:
    """Write one parquet file + the catalog manifest — same layout and
    manifest fields as ``IndexCatalog.write`` without a Spark job
    (including its overwrite semantics: any prior table dir is cleared,
    so a rebuild into a reused directory can't accumulate part files)."""
    import shutil

    path = cat.table_path(name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    t0 = time.time()
    pq.write_table(
        table,
        os.path.join(path, f"part-00000-{uuid.uuid4().hex}.parquet"),
        compression="snappy",
    )
    man = {
        "table": name,
        "snapshot_id": uuid.uuid4().hex,
        "write_secs": round(time.time() - t0, 3),
        "committed_at": time.time(),
        "schema": spark_schema.jsonValue(),
        "partition_by": [],
        "counters": counters or {},
    }
    with open(os.path.join(path, MANIFEST), "w", encoding="utf-8") as fh:
        json.dump(man, fh, indent=1)


def _encode_micro(
    fwd: pd.DataFrame, avgdl: float, docs_per_shard: int
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """One pass from the forward index to BOTH the segments and postings
    frames of a single-partition build.

    Why fusing is exact: ``_segment_builder`` encodes each (term, shard)
    run doc-sorted with per-run gap reset, and ``_segment_merger`` —
    given the one segment per run that a single partition produces —
    decodes, re-sorts (a no-op: already doc-sorted), and re-encodes with
    the same reset rule, yielding byte-identical buffers. So the merged
    posting row is the segment row plus ``block_max``, computed here
    directly with the merger's impact formula. The distributed identity
    is pinned by tests (same tables, same bytes, same search scores)."""
    doc_ids = fwd["doc_id"].to_numpy(dtype=np.int64)
    dls = fwd["dl"].to_numpy(dtype=np.int64)
    lens = fwd["terms"].map(len).to_numpy(dtype=np.int64)
    empty_segs = pd.DataFrame({f.name: [] for f in _PA_SEGMENTS})
    empty_post = pd.DataFrame({f.name: [] for f in _PA_POSTINGS})
    if lens.sum() == 0:
        return empty_segs, empty_post
    d = np.repeat(doc_ids, lens)
    l = np.repeat(dls, lens)
    t = np.concatenate(
        [np.asarray(x, dtype=object) for x in fwd["terms"] if len(x)]
    )
    f = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in fwd["tfs"] if len(x)]
    )
    shards = d // docs_per_shard
    # term-sorted codes so the output frames are term-ordered directly
    codes, uniq_terms = pd.factorize(t, sort=True)
    order = np.lexsort((d, shards, codes))
    d, l, f = d[order], l[order], f[order]
    codes, shards = codes[order], shards[order]
    change = np.flatnonzero((np.diff(codes) != 0) | (np.diff(shards) != 0))
    starts = np.concatenate(([0], change + 1))
    ends = np.concatenate((change + 1, [codes.size]))
    gaps = np.empty(d.size, dtype=np.uint64)
    gaps[1:] = (d[1:] - d[:-1]).astype(np.uint64)
    gaps[starts] = (d[starts] + 1).astype(np.uint64)  # run-start reset
    doc_buf, doc_len = codec.varbyte_encode_with_lengths(gaps)
    tf_buf, tf_len = codec.varbyte_encode_with_lengths(f.astype(np.uint64))
    dl_buf, dl_len = codec.varbyte_encode_with_lengths(l.astype(np.uint64))
    doc_cum = np.concatenate(([0], np.cumsum(doc_len)))
    tf_cum = np.concatenate(([0], np.cumsum(tf_len)))
    dl_cum = np.concatenate(([0], np.cumsum(dl_len)))
    s_l, e_l = starts.tolist(), ends.tolist()
    base = {
        "term": uniq_terms[codes[starts]],
        "shard": shards[starts],
        "df": ends - starts,
        "cf": np.add.reduceat(f, starts),
        "min_doc": d[starts],
        "max_doc": d[ends - 1],
        "doc_ids_enc": [
            doc_buf[doc_cum[s] : doc_cum[e]] for s, e in zip(s_l, e_l)
        ],
        "tfs_enc": [
            tf_buf[tf_cum[s] : tf_cum[e]] for s, e in zip(s_l, e_l)
        ],
        "dls_enc": [
            dl_buf[dl_cum[s] : dl_cum[e]] for s, e in zip(s_l, e_l)
        ],
    }
    segs = pd.DataFrame(
        {
            **{k: base[k] for k in ("term", "shard")},
            "pid": np.zeros(starts.size, dtype=np.int32),
            **{k: base[k] for k in (
                "df", "cf", "min_doc", "max_doc",
                "doc_ids_enc", "tfs_enc", "dls_enc",
            )},
        }
    )
    # block-max metadata (the merger's impact formula)
    impact = bm25_impact(f, l, avgdl)
    bsz = codec.BLOCK_SIZE
    blk_starts = np.concatenate(
        [np.arange(s, e, bsz) for s, e in zip(s_l, e_l)]
    )
    blk_ends = np.concatenate((blk_starts[1:], [d.size]))
    blk_max = np.maximum.reduceat(impact, blk_starts)
    blk_last = d[blk_ends - 1]
    blocks_per_run = (ends - starts + bsz - 1) // bsz
    cum = np.concatenate(([0], np.cumsum(blocks_per_run))).tolist()
    flat = [
        {"last_doc": ld, "max_impact": mi}
        for ld, mi in zip(blk_last.tolist(), blk_max.tolist())
    ]
    post = pd.DataFrame(
        {**base, "block_max": [flat[a:b] for a, b in zip(cum[:-1], cum[1:])]}
    )
    return segs, post


def _seg_table(pdf: pd.DataFrame, schema: pa.Schema) -> pa.Table:
    cols = []
    for f in schema:
        vals = pdf[f.name].tolist() if len(pdf) else []
        cols.append(pa.array(vals, type=f.type))
    return pa.Table.from_arrays(cols, schema=schema)


def try_micro_build(
    df: DataFrame,
    index_dir: str,
    analyzer: Analyzer | None = None,
    *,
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    sort_desc: tuple[bool, ...] | None = None,
    docs_per_shard: int = 1 << 24,
    text_col: str = "text",
) -> IndexCatalog | None:
    """Build a complete index generation on the driver, or return None
    when the batch is too big (> ``MAX_ROWS``) or a sort key holds NULLs
    — the caller then falls back to the distributed builder. One Spark
    job total: the limited Arrow collect."""
    analyzer = analyzer or STANDARD_ANALYZER
    sort_desc = sort_desc or tuple(False for _ in sort_cols)

    # ONE Spark job: the limited Arrow collect. Tokenization happens on
    # the driver via the SAME function the distributed tokenize UDF
    # wraps (Analyzer.term_counts_frame) — measured faster than riding
    # the UDF on the collect (the A/B: 0.55 s vs 0.91 s per 8k batch;
    # the UDF variant pays Arrow python-worker round trips plus a ~4x
    # larger driver transfer for the exploded term arrays)
    arrow = df.limit(MAX_ROWS + 1).toArrow()
    if arrow.num_rows > MAX_ROWS:
        return None  # not a micro-batch; distributed build
    for c in sort_cols:
        if arrow.column(c).null_count:
            return None  # pa sort can't mirror Spark's per-key NULL order

    # -- docIDs: global rank under the stable sort key (== assign_doc_ids)
    order = pc.sort_indices(
        arrow,
        sort_keys=[
            (c, "descending" if d else "ascending")
            for c, d in zip(sort_cols, sort_desc)
        ],
    )
    arrow = arrow.take(order).combine_chunks()
    n = arrow.num_rows
    doc_id_arr = pa.array(np.arange(n, dtype=np.int64), type=pa.int64())
    arrow = arrow.append_column("doc_id", doc_id_arr)
    cat = IndexCatalog(index_dir)
    stored_spark = T.StructType(
        list(df.schema.fields) + [T.StructField("doc_id", T.LongType())]
    )
    _commit(
        cat,
        "stored",
        arrow,
        stored_spark,
        counters={
            "num_docs": n,
            "index_sort": list(sort_cols),
            "index_sort_desc": list(sort_desc),
        },
    )

    # -- forward index (same frame the tokenize UDF would produce)
    texts = arrow.column(text_col).to_pylist()
    fwd = analyzer.term_counts_frame(texts)
    fwd.insert(0, "doc_id", np.arange(n, dtype=np.int64))
    fwd_cols = [
        pa.array(fwd["doc_id"].to_numpy(), type=pa.int64()),
        pa.array(fwd["terms"].tolist(), type=pa.list_(pa.string())),
        pa.array(fwd["tfs"].tolist(), type=pa.list_(pa.int32())),
        pa.array(fwd["dl"].tolist(), type=pa.int32()),
    ]
    _commit(
        cat,
        "doc_terms_fwd",
        pa.Table.from_arrays(fwd_cols, schema=_PA_FWD),
        _FWD_SPARK,
    )

    # -- doc_lens + collection stats
    sum_dl = int(fwd["dl"].sum())
    avgdl = (sum_dl / n) if n else 0.0
    _commit(
        cat,
        "doc_lens",
        pa.Table.from_arrays([fwd_cols[0], fwd_cols[3]], schema=_PA_DOC_LENS),
        _DOC_LENS_SPARK,
        counters={"num_docs": n, "sum_dl": sum_dl},
    )

    # -- segments + postings in ONE encode pass (see _encode_micro: for a
    # single doc-sorted partition the merged posting bytes EQUAL the
    # segment bytes, so the distributed build/merge round trip is skipped;
    # tests/test_generations.py pins table identity vs the distributed
    # builder)
    segs, post = _encode_micro(fwd, avgdl, docs_per_shard)
    _commit(cat, "segments", _seg_table(segs, _PA_SEGMENTS), SEGMENT_SCHEMA)
    _commit(cat, "postings", _seg_table(post, _PA_POSTINGS), POSTINGS_SCHEMA)

    # -- term dictionary. A micro-batch of n <= docs_per_shard docs is a
    # single shard, so postings already hold one row per term and the
    # dictionary is a projection; the groupby only runs for a
    # caller-shrunken docs_per_shard.
    if not len(post):
        ts = pd.DataFrame({"term": [], "df": [], "cf": [], "tlen": []})
    elif n <= docs_per_shard:
        ts = post[["term", "df", "cf"]].copy()
        ts["tlen"] = ts["term"].str.len().astype(np.int32)
    else:
        ts = (
            post.groupby("term", sort=True)
            .agg(df=("df", "sum"), cf=("cf", "sum"))
            .reset_index()
        )
        ts["tlen"] = ts["term"].str.len().astype(np.int32)
    uniq = len(ts)
    _commit(
        cat,
        "term_stats",
        pa.Table.from_arrays(
            [
                pa.array(ts["term"].tolist(), type=pa.string()),
                pa.array(ts["df"].tolist(), type=pa.int64()),
                pa.array(ts["cf"].tolist(), type=pa.int64()),
                pa.array(ts["tlen"].tolist(), type=pa.int32()),
            ],
            schema=_PA_TERM_STATS,
        ),
        _TERM_STATS_SPARK,
    )

    # -- field stats
    _commit(
        cat,
        "field_stats",
        pa.Table.from_arrays(
            [
                pa.array([text_col], type=pa.string()),
                pa.array([n], type=pa.int64()),
                pa.array([sum_dl], type=pa.int64()),
                pa.array([avgdl], type=pa.float64()),
                pa.array([uniq], type=pa.int64()),
            ],
            schema=_PA_FIELD_STATS,
        ),
        _FIELD_STATS_SPARK,
    )

    # -- lineage (segments stage, the one driver partition)
    bytes_comp = int(
        segs["doc_ids_enc"].str.len().sum()
        + segs["tfs_enc"].str.len().sum()
        + segs["dls_enc"].str.len().sum()
    ) if len(segs) else 0
    _commit(
        cat,
        "_lineage",
        pa.Table.from_arrays(
            [
                pa.array(["segments"], type=pa.string()),
                pa.array([0], type=pa.int32()),
                pa.array([n], type=pa.int32()),
                pa.array([int(segs["df"].sum()) if len(segs) else 0],
                         type=pa.int64()),
                pa.array([bytes_comp], type=pa.int64()),
            ],
            schema=_PA_LINEAGE,
        ),
        _LINEAGE_SPARK,
    )
    return cat
