"""Index build pipeline: transcripts -> inverted index tables.

Reference semantics rebuilt (what, not how): LuceneIndexingProcessor +
IWriter — analyze each doc's text, accumulate per-segment posting lists,
then merge segments (/root/reference/app/org/nlp4l/framework/builtin/lucene/
LuceneIndexingProcessor.scala:88-117, /root/reference/app/org/nlp4l/lucene/
IWriter.scala:56-72). The rebuild is the north_star pipeline
(BASELINE.json:6): Arrow-UDF tokenization, per-partition posting segments,
an explicit segment-merge pass, delta-gap+varbyte blocks, block-max
metadata.

Stages (each a snapshot-committed table; resume skips committed stages):

  stored         doc_id + original transcript columns ("stored fields";
                 per-turn text round-trip invariant is tested on this)
  doc_terms_fwd  (doc_id, terms[], tfs[], dl) — forward index / term
                 vectors analogue, written by the Arrow tokenize UDF; a
                 checkpoint between tokenize and segment building
                 (measured ~2x faster than fusing the two python stages)
                 and the input compaction rebuilds from. With
                 ``store_positions`` the same UDF pass also writes
                 ``positions[]``: flat, term-major, term i's run of tfs[i]
  doc_lens       (doc_id, dl) — a projection of the forward index
  segments       per-input-partition, per-doc_id-shard encoded posting
                 segments — this IS the salted two-phase aggregation: the
                 per-posting explosion never crosses the network; only
                 compressed segments shuffle, keyed (term, shard)
  postings       merged, globally doc_id-sorted, varbyte posting lists with
                 per-block (last_doc, max_impact) skip metadata; with
                 positions, a ``pos_enc`` column holds each posting's
                 run of tf positions (codec.encode_positions), carried
                 from the forward index by the same segment build/merge
  term_stats     (term, df, cf) — the term dictionary (FST analogue)
  field_stats    (field, num_docs, sum_dl, avgdl, uniq_terms)
  _lineage       per-stage / per-partition counters (turns tokenized,
                 postings emitted, bytes compressed)

doc_lens through field_stats are ``write_searchable``: the one Spark path
from a committed forward index to the searchable tables, which
``mergepolicy.compact`` runs as well; ``microbuild.write_searchable_arrow``
is its driver twin. Every posting row is encoded by ``codec.encode_runs``.

Scale notes (10^12 turns):
* The only wide shuffles are the docID range partition and the
  groupBy(term, shard) of *compressed segments*. Head-term skew ("the"
  appears in ~every doc) is bounded by sharding on doc_id range: no merge
  task ever sees more than DOCS_PER_SHARD postings for one term, and a
  term's segments-per-shard is bounded by input partitions overlapping
  that shard. No driver-resident state is O(corpus): the driver holds only
  per-partition counts (docIDs) and scalar stats.
* dl is stored inline per posting (dls_enc), trading ~1 byte/posting for
  eliminating the 10^12-row doc_lens join at query time — Spark has no
  random-access norms file, so self-contained posting shards keep scoring
  embarrassingly parallel.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field, fields
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from nlp4l_spark.analysis import Analyzer, STANDARD_ANALYZER
from nlp4l_spark.index import codec
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.index.docids import assign_doc_ids

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("pid", T.IntegerType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
        T.StructField("doc_ids_enc", T.BinaryType()),
        T.StructField("tfs_enc", T.BinaryType()),
        T.StructField("dls_enc", T.BinaryType()),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("shard", T.LongType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
        T.StructField("doc_ids_enc", T.BinaryType()),
        T.StructField("tfs_enc", T.BinaryType()),
        T.StructField("dls_enc", T.BinaryType()),
        T.StructField(
            "block_max",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("last_doc", T.LongType()),
                        T.StructField("max_impact", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


DOC_LENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dl", T.IntegerType()),
    ]
)

TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
        T.StructField("tlen", T.IntegerType()),
    ]
)

FIELD_STATS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("num_docs", T.LongType()),
        T.StructField("sum_dl", T.LongType()),
        T.StructField("avgdl", T.DoubleType()),
        T.StructField("uniq_terms", T.LongType()),
    ]
)

# the build's _lineage stage (turns_tokenized is an int below 2^31 docs)
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("turns_tokenized", T.IntegerType()),
        T.StructField("postings_emitted", T.LongType()),
        T.StructField("bytes_compressed", T.LongType()),
    ]
)


def _conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """``df``'s columns in ``schema``'s order and types."""
    return df.select([F.col(f.name).cast(f.dataType) for f in schema])


def with_positions(schema: T.StructType, positions: bool) -> T.StructType:
    """``schema`` plus, with ``positions``, the optional ``pos_enc``
    column: each posting's run of tf positions, gap-reset per posting
    (codec.encode_positions), so rows of disjoint doc ranges
    concatenate."""
    if not positions:
        return schema
    return T.StructType(
        schema.fields + [T.StructField("pos_enc", T.BinaryType())]
    )


def has_positions(cat: IndexCatalog) -> bool:
    """Whether the index's ``postings`` carry positions (the phrase
    postings path) — the one predicate every reader of them uses."""
    return cat.is_committed("postings") and "pos_enc" in cat.columns("postings")


@dataclass
class IndexBuilder:
    """Builds the inverted index for one text field of a transcripts table."""

    analyzer: Analyzer = field(default_factory=lambda: STANDARD_ANALYZER)
    text_col: str = "text"
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    # Lucene IndexWriterConfig.setIndexSort reverse flags: per-sort_cols
    # descending order. docIDs are assigned in (sort_cols, sort_desc)
    # order either way; recording the sort in the stored manifest lets
    # Searcher.search_sorted early-terminate a matching query sort.
    sort_desc: tuple[bool, ...] | None = None
    docs_per_shard: int = 1 << 24  # bounds any merge/scoring task
    num_partitions: int | None = None
    # Lucene FieldType(termVectors, termPositions, termOffsets) analogue
    # (/root/reference/app/org/nlp4l/lucene/Schema.scala:88-90): opt-in
    # because BM25 does not need positions; when set, a `term_vectors`
    # table (doc_id, term, tf, positions, start_offsets, end_offsets) is
    # written alongside the postings.
    store_term_vectors: bool = False
    # opt-in positions IN the postings (their pos_enc column): the phrase
    # scale path. search_phrase joins per-term position lists from
    # term_vectors — an n-way corpus-sized join; with positions riding in
    # the (term, shard) posting rows the adjacency check runs INSIDE the
    # per-shard task (Searcher._phrase_postings), plan = pushed In(term)
    # scan -> grouped Arrow task -> TakeOrdered. Lucene stores positions
    # in the postings the same way (FieldType.termPositions). Positions
    # come from the one tokenize pass that writes doc_terms_fwd.
    store_positions: bool = False
    # Lucene keyword fields (StringField / ES `keyword` type): each named
    # stored column is ALSO indexed as untokenized terms namespaced
    # "<field>:<lowercased value>" — ':' cannot appear in analyzed text
    # tokens ([a-z0-9]+), so the namespaces never collide. Keyword terms
    # carry tf=1 and do NOT count toward dl (they must not move BM25
    # length normalization; text stats stay exactly as without the
    # option). Values are lowercased (an ES `lowercase` normalizer;
    # Searcher.search_filtered_indexed applies the same fold at query
    # time). Nulls are simply not indexed — the ES missing-value rule.
    # Enables postings-only filter intersection (search_filtered_indexed)
    # instead of the stored-table scan.
    keyword_fields: tuple[str, ...] = ()

    # ------------------------------------------------------------------ #
    def build(
        self,
        df: DataFrame,
        index_dir: str,
        *,
        resume: bool = True,
        fail_after_stage: str | None = None,  # test hook for kill/restart
    ) -> IndexCatalog:
        spark = df.sparkSession
        cat = IndexCatalog(index_dir)
        # a positions build that finds a forward index committed without
        # positions re-runs doc_terms_fwd and every later stage
        stale = (
            self.store_positions
            and cat.is_committed("doc_terms_fwd")
            and "positions" not in cat.columns("doc_terms_fwd")
        )

        def done(stage: str) -> bool:
            return (
                resume
                and cat.is_committed(stage)
                and (stage == "stored" or not stale)
            )

        # -- stage 1: docIDs + stored fields --------------------------------
        if not done("stored"):
            with_ids = assign_doc_ids(
                df,
                self.sort_cols,
                num_partitions=self.num_partitions,
                sort_desc=self.sort_desc,
            )
            n = with_ids._total_rows  # known from the offsets pass
            cat.write(
                with_ids,
                "stored",
                sort_by=["doc_id"],
                counters={
                    "num_docs": n,
                    "index_sort": list(self.sort_cols),
                    "index_sort_desc": list(
                        self.sort_desc
                        or (False,) * len(self.sort_cols)
                    ),
                },
            )
            cache = getattr(with_ids, "_docid_cache", None)
            if cache is not None:
                cache.unpersist()
        self._check_fail(fail_after_stage, "stored")
        stored = cat.read(spark, "stored")

        # -- stage 2: tokenize -> materialized forward index ----------------
        # A checkpoint between the two python stages (tokenize, segment
        # build): measured ~2x faster than one fused stage relaying Arrow
        # batches between two python workers; compaction rebuilds from it.
        if not done("doc_terms_fwd"):
            with _clamped_splits(spark, cat, "stored"):
                fwd = self._tokenized(cat.read(spark, "stored"))
                cat.write(fwd, "doc_terms_fwd", sort_by=["doc_id"])
        self._check_fail(fail_after_stage, "doc_terms_fwd")

        # -- stages 3-7: doc_lens -> field_stats (shared with compaction) ----
        # collection stats: an agg over the forward index's dl column, or
        # the committed doc_lens counters when resuming past that stage
        if done("doc_lens"):
            lens_man = cat.manifest("doc_lens")["counters"]
            num_docs, sum_dl = int(lens_man["num_docs"]), int(lens_man["sum_dl"])
        else:
            stats = (
                cat.read(spark, "doc_terms_fwd")
                .agg(F.count("*").alias("num_docs"), F.sum("dl").alias("sum_dl"))
                .collect()[0]
            )
            num_docs, sum_dl = stats["num_docs"], int(stats["sum_dl"] or 0)
        segs = write_searchable(
            spark,
            cat,
            num_docs,
            sum_dl,
            text_col=self.text_col,
            docs_per_shard=self.docs_per_shard,
            done=done,
            after=lambda stage: self._check_fail(fail_after_stage, stage),
        )

        # -- optional stage: term vectors (positions + offsets) --------------
        if self.store_term_vectors and not done("term_vectors"):
            from nlp4l_spark.stats.corpus import Corpus

            tv = Corpus(
                stored, text_col=self.text_col, analyzer=self.analyzer
            ).term_vectors()
            cat.write(tv, "term_vectors", sort_by=["doc_id"])
        if self.store_term_vectors:
            self._check_fail(fail_after_stage, "term_vectors")

        # -- stage 8: lineage ---------------------------------------------------
        if not done("_lineage"):
            per_pid = (
                segs.groupBy("pid")
                .agg(
                    F.sum("df").alias("postings_emitted"),
                    (
                        F.sum(F.length("doc_ids_enc"))
                        + F.sum(F.length("tfs_enc"))
                        + F.sum(F.length("dls_enc"))
                    ).alias("bytes_compressed"),
                )
                .select(
                    F.lit("segments").alias("stage"),
                    F.col("pid").alias("partition_id"),
                    F.lit(num_docs).alias("turns_tokenized"),
                    "postings_emitted",
                    "bytes_compressed",
                )
            )
            cat.write(per_pid, "_lineage")
        return cat

    def _tokenized(self, stored: DataFrame) -> DataFrame:
        """(doc_id, terms[], tfs[], dl[, positions[]]) via the Arrow
        tokenize UDF; with ``keyword_fields`` the per-doc term list also
        carries the namespaced keyword terms (tf=1 at position 0, dl
        untouched — see the field note), so keyword postings ride the
        SAME segment build/merge path as text postings with zero extra
        passes."""
        tc = self.analyzer.term_counts_udf(positions=self.store_positions)
        base = stored.select(
            "doc_id",
            *self.keyword_fields,
            tc(F.col(self.text_col)).alias("_tc"),
        )
        terms, tfs = F.col("_tc.terms"), F.col("_tc.tfs")
        positions = F.col("_tc.positions")
        if self.keyword_fields:
            kw = F.filter(
                F.array(
                    *[
                        F.when(
                            F.col(f).isNotNull(),
                            F.concat(
                                F.lit(f + ":"), F.lower(F.col(f).cast("string"))
                            ),
                        )
                        for f in self.keyword_fields
                    ]
                ),
                lambda x: x.isNotNull(),
            )
            terms = F.concat(terms, kw)
            tfs = F.concat(tfs, F.transform(kw, lambda _: F.lit(1).cast("int")))
            positions = F.concat(
                positions, F.transform(kw, lambda _: F.lit(0).cast("int"))
            )
        cols = [terms.alias("terms"), tfs.alias("tfs"), F.col("_tc.dl").alias("dl")]
        if self.store_positions:
            cols.append(positions.alias("positions"))
        return base.select("doc_id", *cols)

    @staticmethod
    def _check_fail(fail_after_stage: str | None, stage: str) -> None:
        if fail_after_stage == stage:
            raise RuntimeError(f"injected failure after stage '{stage}'")


def write_searchable(
    spark,
    cat: IndexCatalog,
    num_docs: int,
    sum_dl: int,
    *,
    text_col: str,
    docs_per_shard: int,
    done=lambda stage: False,
    after=lambda stage: None,
) -> DataFrame:
    """The Spark stages from a committed ``doc_terms_fwd`` to the
    searchable tables: doc_lens -> segments -> postings -> term_stats ->
    field_stats. ``IndexBuilder.build`` and ``mergepolicy.compact`` both
    run them (Lucene's IndexWriter likewise writes flushed and merged
    segments through one path). The caller supplies the collection stats
    (``num_docs``, ``sum_dl``): the builder aggregates them from the
    forward index, compaction sums its inputs' manifests minus the
    tombstoned lengths. ``done(stage)`` skips a committed stage on
    resume; ``after(stage)`` runs once each stage is committed. A
    forward index with a ``positions`` column gives segments and
    postings a ``pos_enc`` column. Returns the committed ``segments``
    table, which the builder's ``_lineage`` stage reads too (each read
    infers the parquet schema with a Spark job). The driver harness,
    ``microbuild.write_searchable_arrow``, writes the same tables on
    the driver under the same contract."""
    avgdl = (sum_dl / num_docs) if num_docs else 0.0
    if not (done("doc_lens") and done("segments")):
        # one read for both stages: each read infers the parquet schema
        # with a Spark job
        fwd = cat.read(spark, "doc_terms_fwd")

    if not done("doc_lens"):
        cat.write(
            _conform(fwd, DOC_LENS_SCHEMA),
            "doc_lens",
            sort_by=["doc_id"],
            counters={"num_docs": num_docs, "sum_dl": sum_dl},
        )
    after("doc_lens")

    # per-partition posting segments. At small corpus sizes the forward
    # index is only a few hundred MB, and the default 128 MB
    # maxPartitionBytes packs it into a handful of read splits — this
    # python-heavy stage would run at parallelism ~5 on a 32-core
    # cluster. Size splits to the cluster instead (files are
    # doc_id-ranged, so packing stays doc-contiguous and delta gaps stay
    # small). At real scale the clamp is a no-op.
    if not done("segments"):
        positions = "positions" in fwd.columns
        with _clamped_splits(spark, cat, "doc_terms_fwd"):
            segs = (
                fwd.sortWithinPartitions("doc_id")
                .mapInPandas(
                    _segment_builder(docs_per_shard, positions),
                    with_positions(SEGMENT_SCHEMA, positions),
                )
            )
            cat.write(segs, "segments")
    after("segments")
    segs = cat.read(spark, "segments")
    positions = "pos_enc" in segs.columns

    # segment merge -> postings. One hash shuffle keyed (term, shard)
    # moves only compressed segments; the merge itself is a run-scan over
    # the sorted partition (mapInPandas), NOT per-group applyInPandas —
    # per-term Python call overhead would dominate at vocab sizes of
    # 10^4-10^6.
    if not done("postings"):
        # explicit numPartitions: AQE would coalesce this exchange by
        # BYTE size (segments are compressed, ~2 B/posting) down to a
        # couple of partitions, serializing the python-heavy merge
        merged = (
            segs.repartition(spark.sparkContext.defaultParallelism, "term", "shard")
            .sortWithinPartitions("term", "shard", "min_doc")
            .mapInPandas(
                _segment_merger(avgdl, positions),
                with_positions(POSTINGS_SCHEMA, positions),
            )
        )
        cat.write(merged, "postings", sort_by=["term"])
    after("postings")

    # term dictionary
    if not done("term_stats"):
        cat.write(
            _conform(
                cat.read(spark, "postings")
                .groupBy("term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                # materialized term length: fuzzy expansion pushes the
                # exact Levenshtein length bound |len - |q|| <= max_edits
                # down to the parquet scan instead of levenshtein()-
                # scanning the whole dictionary (search/engine.py::
                # search_fuzzy)
                .withColumn("tlen", F.length("term")),
                TERM_STATS_SCHEMA,
            ),
            "term_stats",
            sort_by=["term"],
        )
    after("term_stats")

    if not done("field_stats"):
        uniq = cat.row_count("term_stats")  # parquet footers, no job
        cat.write(
            spark.createDataFrame(
                [(text_col, num_docs, sum_dl, avgdl, uniq)], FIELD_STATS_SCHEMA
            ),
            "field_stats",
        )
    after("field_stats")
    return segs


@contextmanager
def _clamped_splits(spark, cat: IndexCatalog, name: str):
    """Lower spark.sql.files.maxPartitionBytes so a scan of table `name`
    yields >= ~defaultParallelism splits; restore on exit. Must stay OPEN
    across the action that scans the table — split planning reads the
    conf lazily at execution time."""
    path = cat.table_path(name)
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    par = max(spark.sparkContext.defaultParallelism, 1)
    key = "spark.sql.files.maxPartitionBytes"
    default = spark.conf.get(key)
    default_bytes = int(default[:-1]) if default.endswith("b") else int(default)
    target = max(min(total // par or 1, default_bytes), 1 << 22)
    if target >= default_bytes:
        yield
        return
    spark.conf.set(key, str(target))
    try:
        yield
    finally:
        spark.conf.set(key, default)


# ---------------------------------------------------------------------- #
CHUNK_POSTINGS = 4_000_000  # flush threshold: bounds builder task memory


def _segment_builder(docs_per_shard: int, positions: bool = False):
    """mapInPandas fn: forward-index partition -> encoded posting segments
    (with ``positions``, each posting's positions ride along as pos_enc).

    Map-side combine done by hand: the (doc_id, term, tf) explosion stays
    inside this task; only (term, shard)-keyed compressed segments leave.
    Postings are flushed in ~CHUNK_POSTINGS chunks (doc ranges are
    contiguous per chunk, so delta gaps stay small) — the Lucene
    per-flush-segment model; peak task memory is O(chunk), not
    O(partition), which matters both at scale and on hosts where large
    anonymous allocations trigger compaction stalls."""

    def _encode_chunk(pid, d, l, t, f, p):
        shards = d // docs_per_shard
        # group by (term, shard), docs ascending inside each run; factorize
        # + lexsort keeps everything in C
        codes, uniq_terms = pd.factorize(t, sort=False)
        order = np.lexsort((d, shards, codes))
        if p is not None:
            p = p[codec.gather_runs(f, order)]
        d, l, f = d[order], l[order], f[order]
        codes, shards = codes[order], shards[order]
        change = np.flatnonzero(
            (np.diff(codes) != 0) | (np.diff(shards) != 0)
        )
        starts = np.concatenate(([0], change + 1))
        ends = np.concatenate((change + 1, [codes.size]))
        return pd.DataFrame(
            {
                "term": uniq_terms[codes[starts]],
                "shard": shards[starts],
                "pid": np.full(starts.size, pid, dtype=np.int32),
                **codec.encode_runs(d, f, l, starts, ends, positions=p),
            }
        )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        doc_parts, dl_parts, term_parts, tf_parts, pos_parts = [], [], [], [], []
        pending = 0
        emitted = False

        def flush():
            d = np.concatenate(doc_parts)
            l = np.concatenate(dl_parts)
            t = np.concatenate(term_parts)
            f = np.concatenate(tf_parts)
            p = np.concatenate(pos_parts) if positions else None
            for parts in (doc_parts, dl_parts, term_parts, tf_parts, pos_parts):
                parts.clear()
            return _encode_chunk(pid, d, l, t, f, p)

        for batch in batches:
            if batch.empty:
                continue
            doc_ids = batch["doc_id"].to_numpy(dtype=np.int64)
            dls = batch["dl"].to_numpy(dtype=np.int64)
            lens = batch["terms"].map(len).to_numpy(dtype=np.int64)
            if lens.sum() == 0:
                continue
            doc_parts.append(np.repeat(doc_ids, lens))
            dl_parts.append(np.repeat(dls, lens))
            term_parts.append(
                np.concatenate(
                    [np.asarray(x, dtype=object) for x in batch["terms"] if len(x)]
                )
            )
            tf_parts.append(
                np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in batch["tfs"] if len(x)]
                )
            )
            if positions:  # row-major, term-major: aligned with tf_parts
                pos_parts.append(
                    np.concatenate(
                        [
                            np.asarray(x, dtype=np.int64)
                            for x in batch["positions"]
                            if len(x)
                        ]
                    )
                )
            pending += int(lens.sum())
            if pending >= CHUNK_POSTINGS:
                emitted = True
                pending = 0
                yield flush()
        if doc_parts:
            yield flush()
        elif not emitted:
            yield pd.DataFrame(
                {f.name: [] for f in with_positions(SEGMENT_SCHEMA, positions)}
            )

    return build


def _segment_merger(avgdl: float, positions: bool = False):
    """mapInPandas fn over a partition hash-keyed by (term, shard) and
    sorted by (term, shard, min_doc): merges each run of same-key segments
    into one globally doc_id-sorted posting row with exact per-block BM25
    max impacts (with ``positions``, the postings' position runs move
    with them into pos_enc).

    impact = bm25_impact(tf, dl, avgdl) (index/bm25.py) — score =
    idf * impact, so block upper bound = idf * max_impact is tight.

    All numeric work is BULK per Arrow batch (one concat varbyte decode,
    one lexsort ordering every run's postings at once, one
    ``codec.encode_runs`` call) — a per-run decode/encode loop is
    numpy-fixed-cost bound at ~10^5 runs per partition. The only carry
    across batches is the last (possibly incomplete) run's decoded
    arrays, so memory stays O(batch + one posting list)."""

    def _process(
        terms: np.ndarray,
        shards: np.ndarray,
        d: np.ndarray,
        f: np.ndarray,
        l: np.ndarray,
        p: np.ndarray | None,
        row_df: np.ndarray,
    ) -> pd.DataFrame:
        """terms/shards per ROW (segments, same-key rows adjacent); d/f/l
        flat decoded values; p the flat position runs (f[i] per posting)
        or None; row_df = values per row. Emits one output row per
        (term, shard) run."""
        n_rows = terms.size
        # run boundaries over rows
        same = np.zeros(n_rows, dtype=bool)
        if n_rows > 1:
            same[1:] = (terms[1:] == terms[:-1]) & (shards[1:] == shards[:-1])
        run_starts = np.flatnonzero(~same)
        run_id_of_row = np.cumsum(~same) - 1
        # flat value -> run id, then ONE lexsort orders every run by doc_id
        run_of_val = np.repeat(run_id_of_row, row_df)
        order = np.lexsort((d, run_of_val))
        if p is not None:
            p = p[codec.gather_runs(f, order)]
        d, f, l = d[order], f[order], l[order]
        run_of_val = run_of_val[order]  # still non-decreasing
        vstarts = np.concatenate(
            ([0], 1 + np.flatnonzero(np.diff(run_of_val) != 0))
        )
        vends = np.concatenate((vstarts[1:], [d.size]))
        return pd.DataFrame(
            {
                "term": terms[run_starts],
                "shard": shards[run_starts],
                **codec.encode_runs(
                    d, f, l, vstarts, vends, positions=p, avgdl=avgdl
                ),
            }
        )

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # carry: decoded values of the last (term, shard) run of the batch
        carry: tuple | None = None  # (term, shard, d, f, l, p)
        for pdf in batches:
            if pdf.empty:
                continue
            terms = pdf["term"].to_numpy(dtype=object)
            shards = pdf["shard"].to_numpy(dtype=np.int64)
            row_df = pdf["df"].to_numpy(dtype=np.int64)
            # bulk decode: concat buffers decode in one pass (varbyte is
            # self-delimiting); per-row gap resets are undone vectorized
            d_all = codec.varbyte_decode(
                b"".join(pdf["doc_ids_enc"])
            ).astype(np.int64)
            f_all = codec.varbyte_decode(b"".join(pdf["tfs_enc"])).astype(np.int64)
            l_all = codec.varbyte_decode(b"".join(pdf["dls_enc"])).astype(np.int64)
            vstarts = np.concatenate(([0], np.cumsum(row_df[:-1])))
            c = np.cumsum(d_all)
            base = c[vstarts] - d_all[vstarts]
            d_all = c - np.repeat(base, row_df) - 1  # undo gap+1 encoding
            # position runs reset per posting, so the joined buffers
            # decode in one pass
            p_all = (
                codec.decode_positions(b"".join(pdf["pos_enc"]), f_all)
                if positions
                else None
            )
            if carry is not None:
                ct, cs, cd, cf_, cl, cp = carry
                terms = np.concatenate(([ct], terms))
                shards = np.concatenate(([cs], shards))
                row_df = np.concatenate(([cd.size], row_df))
                d_all = np.concatenate((cd, d_all))
                f_all = np.concatenate((cf_, f_all))
                l_all = np.concatenate((cl, l_all))
                if positions:
                    p_all = np.concatenate((cp, p_all))
                carry = None
            # hold back the trailing run (may continue in the next batch)
            last_key_rows = (terms == terms[-1]) & (shards == shards[-1])
            # rows are key-sorted, so the trailing same-key rows are a suffix
            n_tail = int(last_key_rows[::-1].cumprod().sum())
            tail_vals = int(row_df[-n_tail:].sum())
            tail_pos = int(f_all[-tail_vals:].sum()) if positions else 0
            carry = (
                terms[-1],
                int(shards[-1]),
                d_all[-tail_vals:],
                f_all[-tail_vals:],
                l_all[-tail_vals:],
                p_all[p_all.size - tail_pos :] if positions else None,
            )
            if terms.size > n_tail:
                yield _process(
                    terms[:-n_tail],
                    shards[:-n_tail],
                    d_all[:-tail_vals],
                    f_all[:-tail_vals],
                    l_all[:-tail_vals],
                    p_all[: p_all.size - tail_pos] if positions else None,
                    row_df[:-n_tail],
                )
        if carry is not None:
            ct, cs, cd, cf_, cl, cp = carry
            yield _process(
                np.array([ct], dtype=object),
                np.array([cs], dtype=np.int64),
                cd,
                cf_,
                cl,
                cp,
                np.array([cd.size], dtype=np.int64),
            )

    return merge


def build_index(
    spark_df: DataFrame,
    index_dir: str,
    analyzer: Analyzer | None = None,
    *,
    store_term_vectors: bool = False,
    **kwargs,
) -> IndexCatalog:
    """Convenience wrapper: IndexBuilder dataclass options (sort_cols,
    keyword_fields, store_positions, ...) pass straight through as
    kwargs alongside build()-call options (resume, fail_after_stage) —
    split by the dataclass field set, so GenerationLog.ingest and the
    streaming sinks can forward either kind."""
    field_names = {f.name for f in fields(IndexBuilder)}
    builder_kwargs = {k: v for k, v in kwargs.items() if k in field_names}
    build_kwargs = {k: v for k, v in kwargs.items() if k not in field_names}
    return IndexBuilder(
        analyzer=analyzer or STANDARD_ANALYZER,
        store_term_vectors=store_term_vectors,
        **builder_kwargs,
    ).build(spark_df, index_dir, **build_kwargs)


def build_index_from_schema(
    spark_df: DataFrame,
    index_dir: str,
    schema,
    field: str = "text",
    **kwargs,
) -> IndexCatalog:
    """Schema-driven build: the field's declared analyzer drives
    tokenization and its termVectors/termPositions/termOffsets flags opt
    into the term_vectors table — the rebuild of LuceneIndexingProcessor's
    cells->schema-fields mapping + IWriter's per-field analyzer dispatch
    (/root/reference/app/org/nlp4l/framework/builtin/lucene/
    LuceneIndexingProcessor.scala:79-110, Schema.perFieldAnalyzer
    Schema.scala:50-52). ``schema`` is an analysis.Schema (load_schema)."""
    ft = schema.field_type(field)
    return IndexBuilder(
        analyzer=ft.analyzer,
        text_col=field,
        store_term_vectors=(
            ft.term_vectors or ft.term_positions or ft.term_offsets
        ),
        # termPositions also rides positions INSIDE the posting shards
        # (Lucene: positions live in the postings; term vectors are the
        # separate forward index) so schema-built indexes get the
        # no-join phrase scale path too
        store_positions=ft.term_positions,
    ).build(spark_df, index_dir, **kwargs)
