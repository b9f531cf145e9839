from nlp4l_spark.index.builder import (
    IndexBuilder,
    build_index,
    build_index_from_schema,
)
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.index.checker import check_index, index_stats
from nlp4l_spark.index.deletes import (
    delete_by_term,
    delete_docs,
    deleted_count,
    expunge_deletes,
)
from nlp4l_spark.index.docids import assign_doc_ids
from nlp4l_spark.index.generations import GenerationLog, stream_into_generations
from nlp4l_spark.index.mergepolicy import TieredMergePolicy, compact
from nlp4l_spark.index.reindex import reindex
from nlp4l_spark.index.snapshot import restore, snapshot, verify_snapshot

__all__ = [
    "IndexBuilder",
    "build_index",
    "build_index_from_schema",
    "IndexCatalog",
    "check_index",
    "index_stats",
    "assign_doc_ids",
    "delete_docs",
    "delete_by_term",
    "deleted_count",
    "expunge_deletes",
    "GenerationLog",
    "stream_into_generations",
    "TieredMergePolicy",
    "compact",
]
