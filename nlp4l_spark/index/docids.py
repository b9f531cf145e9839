"""Deterministic dense docID assignment by stable (conv_id, turn_idx) order.

Reference semantics: Lucene assigns segment-local docIDs in insertion order
(/root/reference/app/org/nlp4l/lucene/IWriter.scala:56-63); the reference's
single-threaded writer makes that deterministic for free. Distributed, a
naive ``monotonically_increasing_id`` varies with partitioning (SURVEY.md
§7.3), so we compute the *global rank* under the stable sort key:

1. ``repartitionByRange(sort_cols)`` + ``sortWithinPartitions`` — a single
   range shuffle yields a globally sorted frame (partition p holds a
   contiguous key range).
2. Per-partition local row index from ``monotonically_increasing_id`` (a
   per-partition counter in the low 33 bits — no shuffle, no Python).
3. Per-partition row counts (tiny agg, one row per partition) -> cumulative
   offsets on the driver (O(P), never O(rows)) -> broadcast join.

doc_id = offset[partition] + local_index == rank in (conv_id, turn_idx)
order, independent of parallelism level — the same input yields the same
IDs at local[8] and local[32] (tested in tests/test_docids.py), which the
north_rule's two-cluster-size run requires.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, functions as F

_LOCAL_IDX_MASK = (1 << 33) - 1  # monotonically_increasing_id: low 33 bits


def assign_doc_ids(
    df: DataFrame,
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    doc_id_col: str = "doc_id",
    sort_desc: tuple[bool, ...] | None = None,
) -> DataFrame:
    """Add a dense 0-based int64 ``doc_id`` = rank under ``sort_cols``.

    The sort key must be unique per row (it is for transcripts:
    (conv_id, turn_idx) is the primary key per FIXTURES.md §1).

    ``sort_desc`` flips individual key columns descending — Lucene's
    SortField(..., reverse=true) inside an index sort
    (IndexWriterConfig.setIndexSort): docID order then equals e.g.
    "newest first", and a matching query sort early-terminates
    (Searcher.search_sorted) instead of sorting matches.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    if sort_desc is None:
        sort_desc = tuple(False for _ in sort_cols)
    if len(sort_desc) != len(sort_cols):
        raise ValueError("sort_desc must match sort_cols length")
    cols = [
        F.col(c).desc() if d else F.col(c).asc()
        for c, d in zip(sort_cols, sort_desc)
    ]

    ranged = (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lidx", F.monotonically_increasing_id().bitwiseAND(F.lit(_LOCAL_IDX_MASK))
        )
    )
    # Cache: the counts pass and the output must see identical partitioning.
    ranged = ranged.persist()
    counts = ranged.groupBy("_pid").count().collect()  # O(P) rows, never O(N)
    offsets: dict[int, int] = {}
    running = 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = running
        running += row["count"]
    offset_df = F.broadcast(
        spark.createDataFrame(
            [(p, o) for p, o in offsets.items()], "_pid int, _offset long"
        )
    )
    out = (
        ranged.join(offset_df, "_pid")
        .withColumn(doc_id_col, (F.col("_offset") + F.col("_lidx")).cast("long"))
        .drop("_pid", "_lidx", "_offset")
    )
    # caller should unpersist after materializing `out` once (the builder
    # does, right after the stored-table write)
    out._docid_cache = ranged  # type: ignore[attr-defined]
    out._total_rows = running  # row count, already known — saves an action
    return out


def doc_bases(cats) -> list[int]:
    """Lucene MultiReader numbering of the indexes behind ``cats`` (each
    an ``IndexCatalog``), in list order: each index's docBase is the sum
    of the preceding indexes' maxDoc, and the last of the K + 1 entries
    is the federation's maxDoc. An index's maxDoc is the span of its
    docIDs: its live docs plus the holes an expunging compaction left,
    ``num_docs + expunged`` in the stored manifest (no scan). Tombstoned
    docs that are not yet expunged still count in ``num_docs``."""
    spans = (
        int(c["num_docs"]) + int(c.get("expunged", 0))
        for c in (cat.manifest("stored")["counters"] for cat in cats)
    )
    return list(accumulate(spans, initial=0))
