"""ES `_reindex` / Solr reindexing: build a NEW index from an existing
index's STORED fields — no access to the original corpus required.

Reference surface: the reference rebuilds indexes by re-running
LuceneIndexingProcessor over a source
(/root/reference/app/org/nlp4l/framework/builtin/lucene/
LuceneIndexingProcessor.scala); ES generalizes that as the _reindex API
(source query + ingest pipeline -> destination index), which is the
shape reproduced here:

* ``where`` — a SQL filter over the stored columns (ES reindex's
  source.query).
* ``transform`` — an optional DataFrame -> DataFrame callable (the
  ingest-pipeline / script slot: rename, derive, redact).
* tombstoned docs NEVER survive (live docs only), and doc ids are
  renumbered dense under the destination builder's sort order — exactly
  what Lucene merges do when segments are copied.

Scale shape: one pass over the stored table (filter/transform are
narrow), then the normal resumable distributed build of the destination
— nothing is ever materialized on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nlp4l_spark.index.builder import IndexBuilder, has_positions
from nlp4l_spark.index.catalog import IndexCatalog


def reindex(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    *,
    where: str | None = None,
    transform=None,
    builder: IndexBuilder | None = None,
) -> IndexCatalog:
    """Rebuild ``src_dir``'s live stored docs into a fresh index at
    ``dst_dir``. ``builder`` must be passed when the destination needs
    a non-default analyzer/text_col/sort_cols (same contract as
    expunge_deletes); by default the term_vectors/positions flags are
    recovered from the source's committed tables."""
    cat = IndexCatalog(src_dir)
    stored: DataFrame = cat.read(spark, "stored")
    if cat.is_committed("tombstones"):
        tomb = cat.read(spark, "tombstones").select("doc_id")
        stored = stored.join(tomb, "doc_id", "left_anti")
    if where is not None:
        stored = stored.filter(where)
    if transform is not None:
        stored = transform(stored)
    if "doc_id" in stored.columns:
        stored = stored.drop("doc_id")  # destination assigns dense ids
    if builder is None:
        builder = IndexBuilder(
            store_term_vectors=cat.is_committed("term_vectors"),
            store_positions=has_positions(cat),
        )
    return builder.build(stored, dst_dir)
