"""Per-document deletes over the immutable index: Lucene's live-docs model.

Reference surface: IWriter supports write/deleteAll/forceMerge
(/root/reference/app/org/nlp4l/lucene/IWriter.scala); Lucene's
IndexWriter additionally has deleteDocuments(Term) and forceMergeDeletes,
which this module reproduces on the parquet index:

* ``delete_docs`` / ``delete_by_term`` tombstone doc ids into a small
  committed ``tombstones`` table (the live-docs bitset analogue).
* Every Searcher query path consults the tombstones at CANDIDATE time
  (engine._not_deleted + array masks inside the WAND/phrase tasks), while
  collection statistics (num_docs, df, avgdl) stay frozen — exactly
  Lucene's behavior, where deleted docs still count toward stats until
  segments merge.
* ``expunge_deletes`` is forceMergeDeletes: rebuild the index from the
  surviving stored docs (stats recomputed, doc ids renumbered — Lucene
  merges renumber internal docids the same way), then drop the
  tombstones.

Scale shape: the tombstone table is deletes-since-last-expunge, NEVER
corpus-sized (expunge resets it); the searcher ships it as a NOT-In
filter / numpy mask under 10k ids and as a broadcast anti-join beyond.
The expunge rebuild is a full (resumable) index build — the same cost
Lucene pays for forceMerge.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterable

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from nlp4l_spark.index.catalog import IndexCatalog

_TOMBSTONES = T.StructType([T.StructField("doc_id", T.LongType())])


def deleted_count(index_dir: str) -> int:
    cat = IndexCatalog(index_dir)
    if not cat.is_committed("tombstones"):
        return 0
    return int(cat.manifest("tombstones")["counters"]["n_deleted"])


def delete_docs(
    spark: SparkSession, index_dir: str, doc_ids: Iterable[int]
) -> int:
    """Tombstone the given doc ids (idempotent union with any existing
    tombstones). Returns the total tombstoned count. The id set is
    driver-side — bounded by deletes-since-last-expunge, the same
    information Lucene keeps in RAM as live-docs bitsets. Read and
    written on the driver with pyarrow (one parquet file), so the call
    runs no Spark job."""
    cat = IndexCatalog(index_dir)
    ids = {int(d) for d in doc_ids}
    if cat.is_committed("tombstones"):
        ids |= set(cat.read_arrow("tombstones", ["doc_id"])["doc_id"].to_pylist())
    cat.write_arrow(
        {"doc_id": sorted(ids)},
        "tombstones",
        schema=_TOMBSTONES,
        counters={"n_deleted": len(ids)},
    )
    return len(ids)


def delete_by_term(
    spark: SparkSession, index_dir: str, term: str, analyzer=None
) -> int:
    """Lucene ``IndexWriter.deleteDocuments(Term)``: tombstone every doc
    whose postings contain the analyzed term — a pushed-In(term) postings
    lookup, never a corpus scan. Returns the total tombstoned count."""
    from nlp4l_spark.search.engine import Searcher

    s = Searcher(spark, index_dir, analyzer=analyzer)
    terms = sorted(set(s.analyzer.tokenize(term)))
    if not terms:
        return deleted_count(index_dir)
    docs = [
        int(r[0])
        for r in s._decoded(s._matching_postings(terms))
        .select("doc_id")
        .distinct()
        .collect()
    ]
    return delete_docs(spark, index_dir, docs)


def expunge_deletes(
    spark: SparkSession, index_dir: str, builder=None
) -> int:
    """Lucene ``forceMergeDeletes``: rewrite the index without the
    tombstoned docs. Stats (num_docs, df, avgdl) are recomputed and doc
    ids renumbered (dense 0..n-1 under the original sort order — Lucene
    merges renumber docids identically). Builds into a sibling temp dir
    via the normal resumable build, then swaps directories (old dir is
    renamed aside first, so a crash mid-swap leaves either the old or
    the new index recoverable on disk — never neither).

    ``builder``: the IndexBuilder the index was ORIGINALLY built with —
    required whenever the build used a non-default analyzer, text_col or
    sort_cols (a default rebuild would silently re-tokenize with the
    standard analyzer and break, e.g., stemmed-analyzer searches). When
    omitted, a default builder is used with the term_vectors/positions
    flags recovered from the existing tables. Returns the number of
    surviving docs."""
    from nlp4l_spark.index.builder import IndexBuilder, has_positions

    cat = IndexCatalog(index_dir)
    if not cat.is_committed("tombstones") or deleted_count(index_dir) == 0:
        return int(cat.manifest("doc_lens")["counters"]["num_docs"])
    stored = cat.read(spark, "stored")
    tomb = cat.read(spark, "tombstones").select("doc_id")
    survivors = stored.join(tomb, "doc_id", "left_anti").drop("doc_id")
    if builder is None:
        builder = IndexBuilder(
            store_term_vectors=cat.is_committed("term_vectors"),
            store_positions=has_positions(cat),
        )
    tmp = index_dir.rstrip("/") + ".expunge"
    old = index_dir.rstrip("/") + ".expunged-old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    # the old directory is only read by the build's FIRST stage (the new
    # 'stored' snapshot); every later stage reads tmp's own tables, and
    # the swap happens only after the whole build commits — no
    # corpus-sized driver materialization needed
    new_cat = builder.build(survivors, tmp)
    n = int(new_cat.manifest("doc_lens")["counters"]["num_docs"])
    os.rename(index_dir, old)  # keep the old index until the new is live
    os.rename(tmp, index_dir)
    shutil.rmtree(old)
    return n
