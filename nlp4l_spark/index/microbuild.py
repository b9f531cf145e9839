"""Driver-side micro-generation builder: one Spark job per ingest.

The distributed ``IndexBuilder`` commits ~8 snapshot tables, each its own
Spark job; on a micro-batch (thousands of turns) every one of those jobs
is ~0.3 s of scheduler/commit floor and the build runs ~10x slower than
its data volume justifies (VERDICT r3 task 6: 1.5k turns/s vs 14.8k
batch). This module is the Lucene answer — an in-memory segment flush —
in two parts:

* ``try_micro_build``, the front: collect the micro-batch with ONE job
  (Arrow), assign docIDs, tokenize on the driver with the tokenize UDF's
  own function (``Analyzer.term_counts_frame``, or
  ``term_positions_frame`` for a ``store_positions`` batch) and commit
  ``stored`` and ``doc_terms_fwd``;
* ``write_searchable_arrow``: the pyarrow twin of
  ``builder.write_searchable`` (the Spark harness), with the same
  contract, from the committed forward index to ``doc_lens``,
  ``postings`` (with ``pos_enc`` when the forward index has positions),
  ``term_stats`` and ``field_stats``.

Both harnesses encode posting rows with ``codec.encode_runs``, take each
table's schema from its one Spark declaration in builder.py and commit
through the catalog, so a micro generation is table-identical to a
distributed build of the same batch (same docID rank order, same codec
bytes, same manifest layout; tests/test_generations.py and
tests/test_mergepolicy.py pin it, positions included). A micro generation
commits no ``segments``: that table is the distributed build's resume
checkpoint, and nothing reads it from a micro generation.

Scale note: this path is gated to batches ≤ ``MAX_ROWS`` rows; anything
larger falls back to the distributed builder. The cap is a
driver-residency bound in the plans/caps.py sense — the micro-batch is
small BY DESIGN (a streaming trigger interval's worth of turns), while
generation compaction and full rebuilds stay distributed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from nlp4l_spark.analysis import STANDARD_ANALYZER, Analyzer
from nlp4l_spark.index import codec
from nlp4l_spark.index.builder import (
    DOC_LENS_SCHEMA,
    FIELD_STATS_SCHEMA,
    LINEAGE_SCHEMA,
    POSTINGS_SCHEMA,
    TERM_STATS_SCHEMA,
    with_positions,
)
from nlp4l_spark.index.catalog import IndexCatalog

# Rows one micro-batch may hold (the driver-residency cap); a bigger
# batch falls back to the distributed builder.
MAX_ROWS = 64_000


def write_searchable_arrow(
    cat: IndexCatalog,
    num_docs: int,
    sum_dl: int,
    *,
    text_col: str,
    docs_per_shard: int,
) -> pa.Table:
    """The driver harness of ``builder.write_searchable``: the same
    stages from a committed ``doc_terms_fwd`` to ``doc_lens``,
    ``postings``, ``term_stats`` and ``field_stats``, written with pyarrow
    and no Spark job. The whole forward index is one partition, so each
    (term, shard) run is encoded once, straight into its posting row.
    Returns the committed postings, which the caller's ``_lineage``
    reads."""
    avgdl = (sum_dl / num_docs) if num_docs else 0.0
    fwd = cat.read_arrow("doc_terms_fwd")
    cat.write_arrow(
        {"doc_id": fwd["doc_id"], "dl": fwd["dl"]},
        "doc_lens",
        schema=DOC_LENS_SCHEMA,
        counters={"num_docs": num_docs, "sum_dl": sum_dl},
    )

    # flat postings, grouped into (term, shard) runs of ascending docs;
    # term codes are term-sorted so the rows come out term-ordered
    terms = fwd["terms"].combine_chunks()
    lens = pc.list_value_length(terms).to_numpy(zero_copy_only=False)
    d = np.repeat(fwd["doc_id"].to_numpy(), lens)
    l = np.repeat(fwd["dl"].to_numpy(), lens)
    f = fwd["tfs"].combine_chunks().flatten().to_numpy().astype(np.int64)
    flat_terms = terms.flatten()
    uniq = pc.unique(flat_terms)
    uniq = uniq.take(pc.array_sort_indices(uniq))
    codes = pc.index_in(flat_terms, value_set=uniq).to_numpy()
    shards = d // docs_per_shard
    order = np.lexsort((d, shards, codes))
    positions = "positions" in fwd.column_names
    p = None
    if positions:
        p = fwd["positions"].combine_chunks().flatten().to_numpy()
        p = p[codec.gather_runs(f, order)]
    d, l, f = d[order], l[order], f[order]
    codes, shards = codes[order], shards[order]
    starts = np.flatnonzero(np.diff(codes, prepend=-1) | np.diff(shards, prepend=-1))
    ends = np.append(starts[1:], d.size) if starts.size else starts
    schema = with_positions(POSTINGS_SCHEMA, positions)
    post = pa.table(
        {
            "term": uniq.take(codes[starts]),
            "shard": shards[starts],
            **codec.encode_runs(d, f, l, starts, ends, positions=p, avgdl=avgdl),
        },
        schema=to_arrow_schema(schema),
    )
    cat.write_arrow(post, "postings", schema=schema)

    ts = (
        post.select(["term", "df", "cf"])
        .group_by("term")
        .aggregate([("df", "sum"), ("cf", "sum")])
        .sort_by("term")
    )
    cat.write_arrow(
        {
            "term": ts["term"],
            "df": ts["df_sum"],
            "cf": ts["cf_sum"],
            "tlen": pc.utf8_length(ts["term"]),
        },
        "term_stats",
        schema=TERM_STATS_SCHEMA,
    )
    cat.write_arrow(
        {
            "field": [text_col],
            "num_docs": [num_docs],
            "sum_dl": [sum_dl],
            "avgdl": [avgdl],
            "uniq_terms": [ts.num_rows],
        },
        "field_stats",
        schema=FIELD_STATS_SCHEMA,
    )
    return post


def try_micro_build(
    df: DataFrame,
    index_dir: str,
    analyzer: Analyzer | None = None,
    *,
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    sort_desc: tuple[bool, ...] | None = None,
    docs_per_shard: int = 1 << 24,
    text_col: str = "text",
    store_positions: bool = False,
) -> IndexCatalog | None:
    """Build a complete index generation on the driver, or return None
    when the batch is too big (> ``MAX_ROWS``) or a sort key holds NULLs
    — the caller then falls back to the distributed builder. One Spark
    job total: the limited Arrow collect."""
    analyzer = analyzer or STANDARD_ANALYZER
    sort_desc = sort_desc or tuple(False for _ in sort_cols)

    # ONE Spark job: the limited Arrow collect. Tokenization happens on
    # the driver via the SAME function the distributed tokenize UDF
    # wraps — measured faster than riding the UDF on the collect (the
    # A/B: 0.55 s vs 0.91 s per 8k batch; the UDF variant pays Arrow
    # python-worker round trips plus a ~4x larger driver transfer for the
    # exploded term arrays)
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
    doc_ids = np.arange(n, dtype=np.int64)
    arrow = arrow.append_column("doc_id", pa.array(doc_ids))
    cat = IndexCatalog(index_dir)
    cat.write_arrow(
        arrow,
        "stored",
        schema=T.StructType(
            list(df.schema.fields) + [T.StructField("doc_id", T.LongType())]
        ),
        counters={
            "num_docs": n,
            "index_sort": list(sort_cols),
            "index_sort_desc": list(sort_desc),
        },
    )

    # -- forward index (the frame the tokenize UDF would produce)
    frame = (
        analyzer.term_positions_frame
        if store_positions
        else analyzer.term_counts_frame
    )
    fwd = frame(arrow.column(text_col).to_pylist())
    cat.write_arrow(
        {"doc_id": doc_ids, **fwd},
        "doc_terms_fwd",
        schema=T.StructType(
            [T.StructField("doc_id", T.LongType())]
            + analyzer.term_counts_schema(store_positions).fields
        ),
    )

    post = write_searchable_arrow(
        cat,
        n,
        int(fwd["dl"].sum()),
        text_col=text_col,
        docs_per_shard=docs_per_shard,
    )

    # -- lineage: the one driver partition's counters
    enc_bytes = sum(
        pc.sum(pc.binary_length(post[c])).as_py() or 0
        for c in ("doc_ids_enc", "tfs_enc", "dls_enc")
    )
    cat.write_arrow(
        {
            "stage": ["segments"],
            "partition_id": [0],
            "turns_tokenized": [n],
            "postings_emitted": [pc.sum(post["df"]).as_py() or 0],
            "bytes_compressed": [enc_bytes],
        },
        "_lineage",
        schema=LINEAGE_SCHEMA,
    )
    return cat
