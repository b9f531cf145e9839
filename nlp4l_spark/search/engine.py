"""Query engine: BM25 top-k over the postings tables.

Reference semantics: ISearcher.search(query, rows, sort) -> top-k ScoreDocs
under default BM25(k1=1.2, b=0.75), OR over query terms, ties by docID asc
(NLP4L's app/org/nlp4l/lucene/ISearcher.scala:31-49). Three physical
strategies, all returning identical results (tested):

* ``dataframe`` — decode matching postings to (doc_id, tf, dl) rows and let
  Catalyst do the scoring: broadcast (term, idf) join, SQL BM25 expression,
  hash-agg sum per doc, TakeOrderedAndProject top-k. Fully declarative;
  the oracle-comparable path.
* ``wand`` — block-max WAND inside applyInPandas per (qid, shard): only
  compressed shards of the query's terms move, each task prunes blocks by
  score upper bound, emits its local top-k; a global top-k merge finishes.
  This is the 10^12-doc path: work is proportional to the query's posting
  shards, never to the corpus.
* ``driver`` — the same row kernels (``reader.topk_rows`` for OR,
  ``reader.conjunction_rows`` for AND and phrases), which the Spark
  plans run per group through their one ``applyInPandas`` adapter
  ``_pandas_kernel``, run in-process by the driver-resident
  ``IndexReader`` (search/reader.py) over posting rows read with
  pyarrow; the top-k comes back as a pyarrow table held by a
  driver-side DataFrame (``_LocalFrame``), whose ``collect()`` reads the
  table without a Spark job or a JVM call; other DataFrame calls build
  the table's ``LocalRelation`` on first use.

``method="auto"`` (the default of ``search``, ``search_batch`` and
``search_phrase``) takes ``driver`` when the reader's size gate admits
the call — the posting row-group bytes its term filter selects stay
under ``reader.MAX_POSTING_BYTES`` — and otherwise runs the Spark plan
(``wand``; the per-shard conjunction for ``operator="and"``; phrase
``postings``). A named method always runs its Spark plan. Term-dictionary
lookups (``_term_stats``) are a pushed pyarrow read of ``term_stats`` on
the driver, so no path pays a Spark job for them. ``MultiSearcher.search``
routes the same way, gated on the bytes selected across all members: each
member runs ``topk_rows`` under the union's stats, in its ``IndexReader``
or past the gate in its ``wand`` plan, and the local top-k lists, offset
by docBases that sum the preceding members' maxDoc
(``index.docids.doc_bases``), merge into rows equal on both routes.

Query-side joins are all broadcast (queries are tiny); the postings scan is
term-pruned via an ``isin`` filter that parquet row-group stats can skip on
(postings are written term-sorted).

Every BM25 score in this module — both strategies, the phrase, span and
boolean families, ``MultiSearcher`` — is ``idf * bm25_impact(tf, dl,
avgdl)`` from ``nlp4l_spark.index.bm25``, the package's one formula
module (``K1``/``B``/``idf`` are re-exported here for existing imports).
The dataframe path builds that expression as a Spark Column and the WAND
kernel evaluates it over NumPy arrays, so a term's contribution is
bit-identical on both paths.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal
from functools import cached_property, lru_cache, partial, reduce
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window, functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import _create_row
from pyspark.sql.pandas.types import to_arrow_schema

from nlp4l_spark.analysis import Analyzer, STANDARD_ANALYZER
from nlp4l_spark.index import codec
from nlp4l_spark.index.bm25 import B, K1, bm25_impact, idf
from nlp4l_spark.index.builder import has_positions
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.index.docids import doc_bases
from nlp4l_spark.search import reader as reader_mod
from nlp4l_spark.search import wand as wand_mod
from nlp4l_spark.search.reader import (
    _AND_COLUMNS,
    _BATCH_SCHEMA,
    _RANKED_SCHEMA,
    _TOPK_COLUMNS,
    PHRASE_COLUMNS,
    IndexReader,
    conjunction_rows,
    topk_rows,
)

_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("dl", T.IntegerType()),
    ]
)

_TOPK_SCHEMA = "qid int, doc_id long, score double"


def damerau_levenshtein(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein distance (Lowrance-Wagner 1975):
    insert / delete / substitute / adjacent-transposition, transposition
    cost 1 even with later edits between the pair. This is EXACTLY the
    variant DuckDB's damerau_levenshtein implements (probed: 'ca'→'abc'
    is 2, not OSA's 3), so the fuzzy oracle and the engine share one
    distance. Lucene's FuzzyQuery automaton is the OSA restriction —
    deviation documented at Searcher.search_fuzzy."""
    la, lb = len(a), len(b)
    if not la or not lb:
        return la or lb
    inf = la + lb
    da: dict[str, int] = {}
    d = [[inf] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _damerau_udf(q: str):
    """Arrow pass: term column -> Damerau-Levenshtein edits to ``q``.
    Runs only on the tlen-window + Lev-prefiltered candidate rows (a
    handful per query), never the full dictionary."""

    @F.pandas_udf("int")
    def _dl(terms: pd.Series) -> pd.Series:
        return terms.map(lambda t: damerau_levenshtein(t, q))

    return _dl


def _bm25(weight, avgdl: float) -> Column:
    """Per-posting BM25 score over the frame's (tf, dl) columns:
    ``weight`` (a per-term Column such as ``F.col("idf")``, or a float)
    times ``bm25_impact`` — the kernel's expression tree, as a Column."""
    return weight * bm25_impact(F.col("tf"), F.col("dl"), avgdl)


@lru_cache(maxsize=256)
def _arrow_schema(ddl: str):
    return to_arrow_schema(T._parse_datatype_string(ddl))


class _LocalFrame(ClassicDataFrame):
    """A result held on the driver as a pyarrow table. ``collect``
    answers from the table, with the rows Spark's collect would return,
    and crosses no py4j boundary. Every other call goes through the
    ``LocalRelation`` that ``spark.createDataFrame(table)`` builds, on
    first use, so plans built on the frame are the ones built on that
    relation."""

    def __new__(cls, spark: SparkSession, table: pa.Table):
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table: pa.Table):
        self._session = spark
        self._sc = spark.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self._table = table

    @cached_property
    def _jdf(self):
        return self._session.createDataFrame(self._table)._jdf

    def collect(self) -> list[Row]:
        names = self._table.column_names
        return [
            _create_row(names, values)
            for values in zip(*(c.to_pylist() for c in self._table.columns))
        ]


def _pandas_kernel(kernel, columns: list[str], schema: str):
    """The one ``applyInPandas`` adapter: a group's ``columns`` go to
    ``kernel`` as row tuples, and the parallel lists it returns come back
    as a pandas frame of the DDL ``schema``'s fields. Every Spark plan
    calls its row kernel (``reader.topk_rows``,
    ``reader.conjunction_rows``) through it, so it scores as the
    driver-resident reader does."""
    arrow = _arrow_schema(schema)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = kernel(zip(*(pdf[c].tolist() for c in columns)))
        return pa.table(dict(zip(arrow.names, out)), schema=arrow).to_pandas()

    return run


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    """An empty result with the DDL ``schema``, held on the driver
    (``_LocalFrame``): collecting it runs no Spark job and no py4j call."""
    return _LocalFrame(spark, _arrow_schema(schema).empty_table())


def _top(frame: DataFrame, k: int) -> DataFrame:
    """The engine's result order — score DESC, doc_id ASC — cut to k."""
    return frame.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _round6(x: float) -> float:
    """Round a score to 6 dp, HALF_UP on its shortest decimal form — the
    rule Spark's ``F.round(col, 6)`` applies, and DuckDB's ``round(s, 6)``
    apart from some values whose decimal form ends exactly in 5 — so a
    window cut taken in Python agrees with the SQL oracle's cut (Python's
    ``round`` rounds the binary value half-to-even and disagrees far
    more often)."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


class Searcher:
    """Opens a built index (IndexCatalog dir) for BM25 top-k queries."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        analyzer: Analyzer | None = None,
        postings_table: str = "postings",
    ):
        """postings_table: which committed posting table the BM25 scoring
        paths (_matching_postings: search/search_batch wand | maxscore |
        dataframe, count, explain) read — e.g. a statically pruned tier
        from index.pruning.prune_postings. Collection stats (num_docs,
        avgdl) and term_stats idf always come from the FULL index, the
        standard static-pruning contract (Carmel et al.): pruning changes
        the candidate postings, never the scoring model. Term-dictionary
        rewrite paths (prefix/wildcard/range/fuzzy) stay on the full
        table."""
        self.spark = spark
        self.cat = IndexCatalog(index_dir)
        self.analyzer = analyzer or STANDARD_ANALYZER
        self.postings_table = postings_table
        self._opened: dict[str, str | None] | None = None
        self._refresh()

    def _refresh(self) -> None:
        """Point-in-time view: compare the snapshot id of every table
        behind the collection stats, tombstones and reader (one manifest
        read each, no Spark job) with those they were loaded from, and
        reload all three together when one changed — an index rewritten
        in place (``expunge_deletes``, a ``build`` or ``prune_postings``
        with ``resume=False``) or new tombstones. Tombstones and reader
        reload lazily."""
        cat = self.cat
        snapshots = {
            t: cat.manifest(t)["snapshot_id"] if cat.is_committed(t) else None
            for t in ("field_stats", "tombstones", self.postings_table, "postings")
        }
        if snapshots == self._opened:
            return
        self._opened = snapshots
        row = cat.read_arrow(
            "field_stats", ["num_docs", "avgdl", "sum_dl"]
        ).to_pylist()[0]
        self.num_docs = int(row["num_docs"])
        self.avgdl = float(row["avgdl"])
        self.sum_dl = int(row["sum_dl"])
        self._deleted_cache: frozenset[int] | None = None
        self._reader_cache: IndexReader | None = None

    # ---- live docs (Lucene deletes model) ----------------------------- #
    @property
    def deleted_ids(self) -> frozenset[int]:
        """Tombstoned doc ids (index/deletes.py). Lucene's live-docs
        analogue: deletions are a small in-memory set consulted at
        candidate time; collection stats (num_docs, df, avgdl) stay
        FROZEN until expunge_deletes rewrites the index — exactly
        IndexWriter.deleteDocuments + forceMergeDeletes behavior. The
        set is bounded by deletes-since-last-expunge (Lucene holds the
        same information as per-segment bitsets)."""
        if self._deleted_cache is None:
            if self.cat.is_committed("tombstones"):
                ids = self.cat.read_arrow("tombstones", ["doc_id"])["doc_id"]
                self._deleted_cache = frozenset(ids.to_pylist())
            else:
                self._deleted_cache = frozenset()
        return self._deleted_cache

    def _not_deleted(self, df: DataFrame, col: str = "doc_id") -> DataFrame:
        """Drop tombstoned docs. No-op (identical plan) when there are no
        deletes; small delete sets stay a JVM NOT-In filter, large ones
        fall back to an anti-join against the tombstones table."""
        dels = self.deleted_ids
        if not dels:
            return df
        if len(dels) <= 10_000:
            return df.filter(~F.col(col).isin(list(dels)))
        tomb = self.cat.read(self.spark, "tombstones").select(
            F.col("doc_id").alias(col)
        )
        return df.join(tomb, col, "left_anti")

    # ------------------------------------------------------------------ #
    @property
    def _reader(self) -> IndexReader:
        """The driver-resident reader, opened on the first routed call
        (``method="auto"``) so searchers that never route never pay for
        it; ``_refresh`` drops it with the stats it was opened under."""
        if self._reader_cache is None:
            self._reader_cache = IndexReader(
                self.cat, self.postings_table, self.avgdl, self.deleted_ids
            )
        return self._reader_cache

    def _term_stats(self, terms: list[str]) -> dict[str, int]:
        """df per term — a point lookup on the term dictionary."""
        return {t: df for t, (df, _cf) in self._term_stats_full(terms).items()}

    def _matching_postings(self, terms: list[str]) -> DataFrame:
        return self.cat.read(self.spark, self.postings_table).filter(
            F.col("term").isin(terms)
        )

    def _term_stats_full(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """(df, cf) per term, without a Spark job: a pushed term-in read
        of ``term_stats`` on the driver (parquet row-group statistics
        prune it). cf serves the similarities that need collection term
        frequency (LM Dirichlet / Jelinek-Mercer)."""
        if not terms:
            return {}
        ts = self.cat.read_arrow(
            "term_stats",
            ["term", "df", "cf"],
            filter=pc.field("term").isin(list(terms)),
        )
        return {
            t: (int(d), int(c))
            for t, d, c in zip(
                ts["term"].to_pylist(), ts["df"].to_pylist(), ts["cf"].to_pylist()
            )
        }

    def _idf_rows(self, terms: list[str]) -> list[tuple[str, float]]:
        """(term, idf) for those of ``terms`` present in the index — one
        term-dictionary lookup."""
        dfs = self._term_stats(terms)
        return [(t, idf(self.num_docs, dfs[t])) for t in terms if t in dfs]

    def browse_terms(self, seek: str = "", n: int = 20) -> DataFrame:
        """Lucene TermsEnum.seekCeil + next() — the term-dictionary walk
        the reference's Terms surface iterates (/root/reference/app/org/
        nlp4l/lucene/Terms.scala:30-60: termsEnum next/docFreq/
        totalTermFreq): the first ``n`` terms >= ``seek`` in term order,
        with (df, cf). One pushed->= range filter on the sorted term
        dictionary — parquet min/max stats skip every file before the
        seek point, so a page read touches O(page) data at any corpus
        size (exactly a seekCeil)."""
        ts = self.cat.read(self.spark, "term_stats")
        if seek:
            ts = ts.filter(F.col("term") >= seek)
        return (
            ts.select(
                "term", F.col("df").cast("long"), F.col("cf").cast("long")
            )
            .orderBy(F.asc("term"))
            .limit(int(n))
        )

    # ------------------------------------------------------------------ #
    def positions(self, term: str) -> DataFrame:
        """Per-doc positions + offsets of one term — the reference's
        TermDocs/Doc/PosAndOffset walk (/root/reference/app/org/nlp4l/
        lucene/Terms.scala:95-179). Requires the index to have been built
        with ``store_term_vectors=True``. Point lookup on a doc_id-sorted
        table; min/max file stats prune the scan."""
        return (
            self.cat.read(self.spark, "term_vectors")
            .filter(F.col("term") == term)
            .select(
                "doc_id", "tf", "positions", "start_offsets", "end_offsets"
            )
            .orderBy("doc_id")
        )

    def term_vector(self, doc_id: int) -> DataFrame:
        """Forward index for one doc: (term, tf, positions, offsets) —
        reference TermVector.scala:28-59."""
        return (
            self.cat.read(self.spark, "term_vectors")
            .filter(F.col("doc_id") == int(doc_id))
            .select("term", "tf", "positions", "start_offsets", "end_offsets")
        )

    def highlight_indexed(
        self, query: str, k: int = 10, window: int = 8
    ) -> DataFrame:
        """Lucene UnifiedHighlighter served ENTIRELY from the index: BM25
        top-k via the normal postings path, then the best snippet window
        per hit reconstructed from the ``term_vectors`` forward index —
        the stored text is never read and the corpus is never
        re-tokenized. Candidate windows start AT a query-term hit
        position (any max-coverage window can be shifted to one); window
        score = distinct query terms within [p, p+window), ties earliest
        p; matched terms render UPPERCASE (the em-tag stand-in), and
        stopword holes stay holes (they were never indexed — exactly
        what Lucene's offsets-from-postings highlighting mode sees).
        Requires store_term_vectors=True.

        Scale shape: top-k ids collect as k ints; the term_vectors read
        is a pushed In(doc_id) point lookup on the doc-sorted table; all
        window arithmetic is HOFs over k docs' position arrays — corpus
        size never appears after the BM25 stage."""
        qterms = sorted(set(self.analyzer.tokenize(query)))
        top = self.search(query, k=k, method="dataframe").collect()
        if not top:
            return _empty(
                self.spark,
                "doc_id long, score double, start_pos long, "
                "n_hits long, snippet string",
            )
        ids = [int(r["doc_id"]) for r in top]
        scores = {int(r["doc_id"]): float(r["score"]) for r in top}
        tv = self.cat.read(self.spark, "term_vectors").filter(
            F.col("doc_id").isin(ids)
        )
        pt = tv.select(
            "doc_id", "term", F.explode("positions").alias("pos")
        )
        qarr = F.array(*[F.lit(t) for t in qterms])
        agg = pt.groupBy("doc_id").agg(
            F.array_sort(F.collect_list(F.struct("pos", "term"))).alias(
                "_toks"
            ),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.array_contains(qarr, F.col("term")),
                        F.col("pos"),
                    )
                )
            ).alias("_qpos"),
        )

        def wscore(p):
            terms_in = F.transform(
                F.filter(
                    F.col("_toks"),
                    lambda t: (t["pos"] >= p)
                    & (t["pos"] < p + window)
                    & F.array_contains(qarr, t["term"]),
                ),
                lambda t: t["term"],
            )
            return F.size(F.array_distinct(terms_in))

        cands = F.transform(
            F.col("_qpos"),
            lambda p: F.struct(
                wscore(p).alias("sc"), (-p).alias("negp")
            ),
        )
        best = F.array_max(cands)
        scored = agg.withColumn("_best", best).select(
            "doc_id",
            "_toks",
            F.col("_best.sc").cast("long").alias("n_hits"),
            (-F.col("_best.negp")).cast("long").alias("start_pos"),
        )
        snippet = F.array_join(
            F.transform(
                F.filter(
                    F.col("_toks"),
                    lambda t: (t["pos"] >= F.col("start_pos"))
                    & (t["pos"] < F.col("start_pos") + window),
                ),
                lambda t: F.when(
                    F.array_contains(qarr, t["term"]),
                    F.upper(t["term"]),
                ).otherwise(t["term"]),
            ),
            " ",
        )
        smap = F.create_map(
            *[
                x
                for d, s in scores.items()
                for x in (F.lit(d), F.lit(s))
            ]
        )
        return (
            scored.withColumn("snippet", snippet)
            .withColumn("score", F.round(smap[F.col("doc_id")], 6))
            .select("doc_id", "score", "start_pos", "n_hits", "snippet")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def explain(self, query: str, doc_id: int) -> dict:
        """Lucene IndexSearcher.explain parity: the per-term BM25 score
        breakdown for one (query, doc) pair. Returns ``{"doc_id", "score",
        "details": [{term, tf, dl, df, idf, tf_norm, score}, ...]}`` with
        ``score == Σ details[i].score`` — the exact quantities
        ``search()`` sums, so the explanation reconciles with the ranked
        result (tested). Per-displayed-result driver-side op, like
        ``highlight``: one pushed-In(term) postings lookup, no corpus
        work."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        dfs = self._term_stats(terms)
        present = [t for t in terms if t in dfs]
        out = {"doc_id": int(doc_id), "score": 0.0, "details": []}
        if not present:
            return out
        rows = (
            self._decoded(self._matching_postings(present))
            .filter(F.col("doc_id") == int(doc_id))
            .collect()
        )
        for r in sorted(rows, key=lambda r: r["term"]):
            w = idf(self.num_docs, dfs[r["term"]])
            tf, dl = float(r["tf"]), float(r["dl"])
            tf_norm = bm25_impact(tf, dl, self.avgdl)
            s = w * tf_norm
            out["details"].append(
                {
                    "term": r["term"],
                    "tf": tf,
                    "dl": dl,
                    "df": dfs[r["term"]],
                    "idf": w,
                    "tf_norm": tf_norm,
                    "score": s,
                }
            )
            out["score"] += s
        return out

    # ------------------------------------------------------------------ #
    def search(
        self,
        query: str,
        k: int = 10,
        method: str = "auto",
        operator: str = "or",
    ) -> DataFrame:
        """Top-k for one query -> DataFrame(doc_id, score, rank).

        operator: "or" = Lucene BooleanQuery SHOULD (default), "and" =
        MUST — the doc must contain EVERY analyzed query term; scores are
        the same BM25 sum over matching terms either way (Lucene
        semantics: MUST only changes the candidate set).

        method: "auto" answers from the driver-resident reader when its
        size gate admits the query, else runs the Spark plan (WAND for
        OR, the per-shard conjunction for AND); a named method ("wand",
        "maxscore", "dataframe") always runs its Spark plan, which for
        AND is the one per-shard conjunction."""
        self._refresh()
        if operator == "and":
            return self._search_conjunctive(query, k, method)
        if operator != "or":
            raise ValueError(f"unknown operator {operator!r}")
        return self._search_batch(
            [(0, query, k)], method, ["doc_id", "score", "rank"]
        )

    def _search_conjunctive(self, query: str, k: int, method: str) -> DataFrame:
        """AND top-k by the conjunction kernel ``reader.conjunction_rows``:
        in the driver-resident reader when ``method="auto"`` and its gate
        admits the query, else per shard in the Spark plan. A doc lives
        in exactly one shard, so the per-shard conjunction is exact and
        both answer the same rows, bit for bit."""
        if method not in ("auto", "wand", "maxscore", "dataframe"):
            raise ValueError(f"unknown method {method!r}")
        terms = sorted(set(self.analyzer.tokenize(query)))
        dfs = self._term_stats(terms)
        if len(dfs) < len(terms) or not terms:
            # a MUST term missing from the index -> no results
            return _LocalFrame(self.spark, _RANKED_SCHEMA.empty_table())
        rows = [(t, idf(self.num_docs, dfs[t])) for t in terms]
        if method == "auto" and self._reader.admits(terms):
            return _LocalFrame(self.spark, self._reader.search_conjunctive(rows, k))
        # number the k merged rows in one aggregate, sorted on
        # (-score, doc_id): the result order, with no window to plan
        merged = F.sort_array(
            F.collect_list(F.struct(-F.col("score"), "doc_id", "score"))
        )
        return (
            self._conjunction_plan(self.postings_table, _AND_COLUMNS, rows, k)
            .agg(merged.alias("top"))
            .select(F.posexplode("top"))
            .select("col.doc_id", "col.score", (F.col("pos") + 1).alias("rank"))
        )

    def _conjunction_plan(
        self,
        table: str,
        columns: list[str],
        qterms: list[tuple[str, float]],
        k: int,
        offsets: list[int] | None = None,
    ) -> DataFrame:
        """The Spark harness of ``reader.conjunction_rows``: a pushed
        In(term) scan of ``table``'s ``columns``, one kernel task per
        shard emitting its local top-k, and a TakeOrderedAndProject
        merge. Work is proportional to the query terms' postings, never
        to the corpus."""
        dels = (
            np.fromiter(self.deleted_ids, dtype=np.int64)
            if self.deleted_ids
            else None
        )
        kernel = partial(
            conjunction_rows,
            qterms=qterms,
            k=k,
            avgdl=self.avgdl,
            dels=dels,
            offsets=offsets,
        )
        schema = "doc_id long, score double"
        cand = (
            self.cat.read(self.spark, table)
            .filter(F.col("term").isin(sorted({t for t, _ in qterms})))
            .select("shard", *columns)
            .groupBy("shard")
            .applyInPandas(_pandas_kernel(kernel, columns, schema), schema)
        )
        return _top(cand, k)

    def search_block_join(
        self,
        query: str,
        k: int = 10,
        parent_col: str | None = None,
        parent_expr: str | None = None,
    ) -> DataFrame:
        """Lucene ToParentBlockJoinQuery over the index: children are
        scored with the standard BM25 OR query, then folded per parent
        block — ScoreMode.Max as the ranking score, with the Total sum
        (exact integer micros, addition-order independent), matching-
        child count, and the best child's docID (earliest among the
        argmax, Lucene's per-parent best-child collector) as the explain
        surface. Child scores round to 6 dp BEFORE the fold so the
        argmax is deterministic.

        The parent key comes from ``parent_col`` (a stored column — the
        default transcripts index sorts by (conv_id, turn_idx), so
        parent blocks are contiguous docID ranges exactly like Lucene's
        block indexing) or ``parent_expr`` (a SQL expression over
        doc_id, for derived blocks). Plan shape: candidate scoring is
        ∝ query postings; with parent_col the candidate table (df-sized)
        BROADCASTS against a column-pruned stored scan — the corpus is
        never shuffled; the parent fold is one groupBy of candidates.

        Returns (parent, score_max, score_total, n_child, best_child),
        score_max desc / parent asc, limit k."""
        if (parent_col is None) == (parent_expr is None):
            raise ValueError("pass exactly one of parent_col / parent_expr")
        rows = self._idf_rows(sorted(set(self.analyzer.tokenize(query))))
        if not rows:
            return _empty(
                self.spark,
                "parent long, score_max double, score_total double,"
                " n_child long, best_child long",
            )
        child = self._weighted_or_frame(rows).select(
            "doc_id", F.round("score", 6).alias("s")
        )
        if parent_col is not None:
            stored = self.cat.read(self.spark, "stored").select(
                "doc_id", F.col(parent_col).alias("parent")
            )
            child = stored.join(F.broadcast(child), "doc_id")
        else:
            child = child.withColumn("parent", F.expr(parent_expr))
        child = child.withColumn(
            "s_micros", F.round(F.col("s") * 1e6).cast("long")
        )
        w = Window.partitionBy("parent")
        agg = (
            child.withColumn("smax", F.max("s").over(w))
            .groupBy("parent")
            .agg(
                F.max("s").alias("score_max"),
                F.round(F.sum("s_micros") / 1e6, 6).alias("score_total"),
                F.count("*").cast("long").alias("n_child"),
                F.min(
                    F.when(F.col("s") == F.col("smax"), F.col("doc_id"))
                ).alias("best_child"),
            )
        )
        return agg.orderBy(F.desc("score_max"), F.asc("parent")).limit(k)

    # ---- classic query-string surface (queryparser.py) ---------------- #
    def search_lucene(self, query: str, k: int = 10) -> DataFrame:
        """Lucene classic QueryParser surface: parse a query STRING
        (+must/-not, AND/OR/NOT, nested parens, ^boosts, "phrases",
        wild?ards, fuzzy~1, [a TO b] ranges — see
        search/queryparser.py) and compile it onto the existing
        primitives: term leaves are pushed-In(term) BM25 postings
        frames, multi-term leaves (wildcard/range) rewrite against the
        VOCAB-sized dictionary to constant-score frames (Lucene's
        constant-score rewrite), fuzzy leaves reuse the
        length-window-pruned Damerau expansion with Lucene's fuzzy
        boost, phrase leaves score PhraseQuery BM25 from term_vectors,
        and bool groups compose with Lucene BooleanQuery semantics:
        MUST = inner join (scores add), SHOULD with MUSTs present =
        left-join score bonus (optional, Lucene's should-alongside-must),
        SHOULD alone = union + groupBy-sum (>= 1 matches),
        MUST_NOT = anti join, never scores. Every frame is
        postings-sized; the corpus is never scanned."""
        from nlp4l_spark.search.queryparser import parse

        frame = self._qnode_frame(parse(query), 1.0)
        if frame is None:
            return _empty(self.spark, "doc_id long, score double")
        return (
            frame.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_simple(self, query: str, k: int = 10) -> DataFrame:
        """ES simple_query_string / Lucene SimpleQueryParser surface:
        the LENIENT query string (`+` AND, `|` OR, `-` negate,
        "phrases", trailing-* prefix, ( ) groups, word~N fuzzy —
        queryparser.parse_simple) compiled onto exactly the same AST
        machinery as search_lucene. Malformed input never raises; the
        parser discards what it can't use (the property that makes this
        the user-facing search-box parser in ES). Deviations documented
        at queryparser.py: two-term "a b"~N compiles to the sloppy
        frame (longer sloppy phrases match exact), internal wildcards
        literal."""
        from nlp4l_spark.search.queryparser import parse_simple

        node = parse_simple(query)
        frame = self._qnode_frame(node, 1.0) if node is not None else None
        if frame is None:
            return _empty(self.spark, "doc_id long, score double")
        return frame.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _term_scores(
        self,
        rows: list[tuple[str, float]],
        col: str = "idf",
        score: Column | None = None,
    ) -> DataFrame:
        """Per-posting scores of the rows' terms: the broadcast
        (term, <col>) frame ⋈ the decoded postings, with ``_s`` =
        ``score`` over the joined columns — BM25 ``idf * bm25_impact``
        (the weight may fold in a boost) unless another similarity's
        expression is given. Callers fold ``_s`` per doc."""
        qterms = F.broadcast(
            self.spark.createDataFrame(rows, f"term string, {col} double")
        )
        if score is None:
            score = _bm25(F.col("idf"), self.avgdl)
        return (
            self._decoded(self._matching_postings([t for t, _ in rows]))
            .join(qterms, "term")
            .withColumn("_s", score)
        )

    def _weighted_or_frame(
        self,
        rows: list[tuple[str, float]],
        col: str = "idf",
        score: Column | None = None,
    ) -> DataFrame | None:
        """(term, weight) rows -> unlimited (doc_id, score) OR frame, the
        sum per doc of ``_term_scores``; None when no term is present."""
        if not rows:
            return None
        return (
            self._term_scores(rows, col, score)
            .groupBy("doc_id")
            .agg(F.sum("_s").alias("score"))
        )

    def _const_frame(self, postings: DataFrame, boost: float) -> DataFrame:
        """Constant-score frame (multi-term rewrite): distinct matching
        docs at score = boost."""
        return (
            self._decoded(postings)
            .select("doc_id")
            .distinct()
            .select("doc_id", F.lit(float(boost)).alias("score"))
        )

    def _phrase_frame(
        self, terms: list[str], offsets: list[int], boost: float
    ) -> DataFrame | None:
        """Unlimited PhraseQuery BM25 frame from term_vectors (the
        composable form of search_phrase's term_vectors path):
        ``terms[i]`` sits at p + ``offsets[i]`` for a match at p."""
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "phrase search needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        dfs = self._term_stats(terms)
        if any(t not in dfs for t in terms):
            return None
        tv = self.cat.read(self.spark, "term_vectors")
        joined = None
        for i, t in enumerate(terms):
            side = tv.filter(F.col("term") == t).select(
                "doc_id", F.col("positions").alias(f"_p{i}")
            )
            joined = side if joined is None else joined.join(side, "doc_id")

        # phrase starts: p with p + offsets[i] in _pi for all i
        # (transform lambdas must be 1-arg: 2-arg means (element, index))
        def _shift(off: int):
            return lambda p: p - off

        first = F.transform(F.col("_p0"), _shift(offsets[0]))
        for i in range(1, len(terms)):
            first = F.array_intersect(
                first, F.transform(F.col(f"_p{i}"), _shift(offsets[i]))
            )
        cand = self._not_deleted(
            joined.select("doc_id", F.size(first).alias("tf")).filter(
                F.col("tf") > 0
            )
        )
        idf_sum = sum(idf(self.num_docs, dfs[t]) for t in terms)
        dl = self.cat.read(self.spark, "doc_lens")
        score = _bm25(idf_sum * float(boost), self.avgdl)
        return cand.join(dl, "doc_id").select("doc_id", score.alias("score"))

    def _qnode_frame(self, node: dict, boost: float) -> DataFrame | None:
        """Compile one AST node -> unlimited (doc_id, score) frame, or
        None when the node cannot match anything."""
        b = float(boost) * float(node.get("boost", 1.0))
        kind = node["kind"]
        if kind == "term":
            toks = self.analyzer.tokenize(node["text"])
            if not toks:
                return None
            if len(toks) > 1:  # "a.b" analyzes to a phrase, like Lucene
                return self._phrase_frame(*self._phrase_terms(node["text"]), b)
            dfs = self._term_stats(toks)
            if toks[0] not in dfs:
                return None
            return self._weighted_or_frame(
                [(toks[0], idf(self.num_docs, dfs[toks[0]]) * b)]
            )
        if kind == "phrase":
            toks = self.analyzer.tokenize(node["text"])
            if not toks:
                return None
            if len(toks) == 1:
                return self._qnode_frame(
                    {"kind": "term", "text": toks[0]}, b
                )
            slop = int(node.get("slop", 0))
            if slop > 0 and len(toks) == 2:
                # "a b"~N — Lucene sloppy PhraseQuery via the shared
                # fractional-tf frame.
                return self._sloppy_phrase_frame(toks[0], toks[1], slop, b)
            if slop > 0:
                # k-term "..."~N (session 13: the >2-term sloppy matcher
                # — previously a documented fall-through to exact).
                return self._sloppy_phrase_frame_multi(toks, slop, b)
            return self._phrase_frame(*self._phrase_terms(node["text"]), b)
        if kind == "wild":
            import re as _re

            p = node["pattern"].lower()
            rx = "".join(
                ".*" if c == "*" else "." if c == "?" else _re.escape(c)
                for c in p
            )
            lit = p.split("*", 1)[0].split("?", 1)[0]
            stats = self.cat.read(self.spark, "term_stats")
            cond = F.col("term").rlike(f"^{rx}$")
            if lit:
                cond = F.col("term").startswith(lit) & cond
            terms = [r["term"] for r in stats.filter(cond).select("term").limit(1025).collect()]
            if len(terms) > 1024:
                raise ValueError(f"wildcard '{p}' expands to > 1024 terms")
            if not terms:
                return None
            return self._const_frame(self._matching_postings(terms), b)
        if kind == "range":
            t = F.col("term")
            cond = F.lit(True)
            if node["lower"] is not None:
                lo = node["lower"].lower()
                cond = cond & (t >= lo if node["incl_lower"] else t > lo)
            if node["upper"] is not None:
                hi = node["upper"].lower()
                cond = cond & (t <= hi if node["incl_upper"] else t < hi)
            postings = self.cat.read(self.spark, "postings").filter(cond)
            return self._const_frame(postings, b)
        if kind == "fuzzy":
            q = node["text"].lower()
            rows = [
                (
                    r["term"],
                    idf(self.num_docs, int(r["df"])) * float(r["boost"]) * b,
                )
                for r in self._fuzzy_expansion(q, node["max_edits"]).collect()
            ]
            return self._weighted_or_frame(rows)
        if kind == "bool":
            musts, shoulds, nots = [], [], []
            for occ, child in node["clauses"]:
                fr = self._qnode_frame(child, b)
                if occ == "must":
                    if fr is None:
                        return None  # a required clause can never match
                    musts.append(fr)
                elif occ == "must_not":
                    if fr is not None:
                        nots.append(fr)
                else:
                    if fr is not None:
                        shoulds.append(fr)
            base = None
            if musts:
                for fr in musts:
                    if base is None:
                        base = fr
                    else:
                        base = (
                            base.alias("l")
                            .join(fr.alias("r"), "doc_id")
                            .select(
                                "doc_id",
                                (F.col("l.score") + F.col("r.score")).alias(
                                    "score"
                                ),
                            )
                        )
                for fr in shoulds:  # optional score bonus
                    base = (
                        base.alias("l")
                        .join(
                            fr.selectExpr(
                                "doc_id", "score AS _sb"
                            ),
                            "doc_id",
                            "left",
                        )
                        .select(
                            "doc_id",
                            (
                                F.col("score")
                                + F.coalesce(F.col("_sb"), F.lit(0.0))
                            ).alias("score"),
                        )
                    )
            else:
                if not shoulds:
                    return None
                u = shoulds[0]
                for fr in shoulds[1:]:
                    u = u.unionByName(fr)
                base = u.groupBy("doc_id").agg(F.sum("score").alias("score"))
            for fr in nots:
                base = base.join(
                    fr.select("doc_id"), "doc_id", "left_anti"
                )
            return base
        raise ValueError(f"unknown AST node kind: {kind!r}")

    def search_boolean(
        self,
        should: list[str] | None = None,
        must: list[str] | None = None,
        must_not: list[str] | None = None,
        boosts: dict[str, float] | None = None,
        k: int = 10,
        min_should_match: int = 0,
    ) -> DataFrame:
        """Full Lucene BooleanQuery clause surface: SHOULD (scores, optional
        if a MUST exists), MUST (restricts candidates AND scores), MUST_NOT
        (pure exclusion, never scores). Per-term ``boosts`` multiply that
        term's score contribution (BoostQuery). ``min_should_match``
        replicates BooleanQuery.setMinimumNumberShouldMatch: a doc must
        match at least that many distinct SHOULD terms (on top of every
        MUST). All clause terms are single analyzed terms."""
        should = [t for s in (should or []) for t in self.analyzer.tokenize(s)]
        must = [t for s in (must or []) for t in self.analyzer.tokenize(s)]
        must_not = [
            t for s in (must_not or []) for t in self.analyzer.tokenize(s)
        ]
        boosts = boosts or {}
        scoring = sorted(set(should) | set(must))
        dfs = self._term_stats(scoring)
        must_present = [t for t in set(must)]
        if any(t not in dfs for t in must_present):
            return _empty(self.spark, "doc_id long, score double")
        rows = [
            (t, idf(self.num_docs, dfs[t]) * float(boosts.get(t, 1.0)))
            for t in scoring
            if t in dfs
        ]
        if not rows:
            return _empty(self.spark, "doc_id long, score double")
        n_must = F.sum(
            F.when(F.col("term").isin(must_present), 1).otherwise(0)
        )
        should_present = sorted(set(should) & set(dfs))
        if min_should_match > 0 and len(should_present) < min_should_match:
            return _empty(self.spark, "doc_id long, score double")
        n_should = F.sum(
            F.when(F.col("term").isin(should_present), 1).otherwise(0)
        )
        scored = (
            self._term_scores(rows)
            .groupBy("doc_id")
            .agg(
                F.sum("_s").alias("score"),
                n_must.alias("_nm"),
                n_should.alias("_nsm"),
            )
        )
        if must_present:
            scored = scored.filter(F.col("_nm") >= len(must_present))
        if min_should_match > 0:
            scored = scored.filter(F.col("_nsm") >= min_should_match)
        if must_not:
            excl = (
                self._decoded(self._matching_postings(sorted(set(must_not))))
                .select("doc_id")
                .distinct()
            )
            scored = scored.join(excl, "doc_id", "left_anti")
        return (
            scored.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_dismax(
        self,
        query: str,
        tie_breaker: float = 0.0,
        k: int = 10,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """Lucene DisjunctionMaxQuery over the query's terms as disjuncts:
        a doc scores max(disjunct scores) + tie_breaker * (sum of the
        other disjunct scores) — at tie_breaker=0 pure dismax (the best
        single clause wins, the classic fix for term double-counting in
        OR queries), at 1.0 identical to the SHOULD sum. Candidates =
        docs matching >= 1 disjunct, Lucene's DisjunctionMaxScorer
        behavior. Same pruned-postings plan as search_boolean: broadcast
        query terms, In(term) pushdown, one groupBy(doc_id)."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        boosts = boosts or {}
        dfs = self._term_stats(terms)
        rows = [
            (t, idf(self.num_docs, dfs[t]) * float(boosts.get(t, 1.0)))
            for t in terms
            if t in dfs
        ]
        if not rows:
            return _empty(self.spark, "doc_id long, score double")
        return _top(
            self._term_scores(rows)
            .groupBy("doc_id")
            .agg(
                (
                    F.max("_s")
                    + F.lit(float(tie_breaker)) * (F.sum("_s") - F.max("_s"))
                ).alias("score")
            ),
            k,
        )

    def search_rm3(
        self,
        query: str,
        k: int = 10,
        fb_docs: int = 10,
        fb_terms: int = 10,
        alpha: float = 0.5,
    ) -> DataFrame:
        """Pseudo-relevance feedback: BM25 + RM3 (Lavrenko & Croft 2001;
        the standard Anserini recipe). Run the plain BM25 top-``fb_docs``,
        estimate the relevance model RM1(w) = Σ_d P(w|d)·P(d|q) from
        those docs (P(w|d) = tf/dl MLE, P(d|q) = normalized BM25 score),
        keep the top ``fb_terms`` expansion terms, interpolate with the
        uniform original-query model at ``alpha``, and re-run a weighted
        OR search with the mixed weights as per-term boosts. alpha=0
        reproduces the original ranking (uniform down-weight only);
        alpha→1 leans fully on the feedback model.

        Cost shape: the feedback pass touches ``fb_docs`` rows of the
        doc_id-sorted forward index (pushed In(doc_id) point lookups,
        driver receives fb_docs arrays — never corpus data), then one
        normal weighted search over |query| + fb_terms terms."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        if not terms:
            return _empty(self.spark, "doc_id long, score double")
        initial = self.search(query, k=fb_docs, method="dataframe").collect()
        if not initial:
            return _empty(self.spark, "doc_id long, score double")
        total = sum(r["score"] for r in initial) or 1.0
        p_dq = {r["doc_id"]: r["score"] / total for r in initial}
        if self.cat.is_committed("doc_terms_fwd"):
            fwd = (
                self.cat.read(self.spark, "doc_terms_fwd")
                .filter(F.col("doc_id").isin(list(p_dq)))
                .select("doc_id", "terms", "tfs", "dl")
                .collect()
            )
            doc_terms = [
                (r["doc_id"], zip(r["terms"], r["tfs"]), r["dl"]) for r in fwd
            ]
        elif self.cat.is_committed("term_vectors"):
            tv = (
                self.cat.read(self.spark, "term_vectors")
                .filter(F.col("doc_id").isin(list(p_dq)))
                .select("doc_id", "term", "tf")
                .collect()
            )
            by_doc: dict[int, list] = {}
            for r in tv:
                by_doc.setdefault(r["doc_id"], []).append((r["term"], r["tf"]))
            doc_terms = [
                (d, pairs, sum(tf for _, tf in pairs))
                for d, pairs in by_doc.items()
            ]
        else:
            raise ValueError(
                "RM3 needs a forward index: doc_terms_fwd (every build "
                "writes it) or term_vectors (store_term_vectors=True)"
            )
        rm1: dict[str, float] = {}
        for doc, pairs, dl in doc_terms:
            w_d = p_dq.get(doc, 0.0)
            if not dl or not w_d:
                continue
            for t, tf in pairs:
                rm1[t] = rm1.get(t, 0.0) + w_d * (tf / dl)
        top = sorted(rm1.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_terms]
        weights = {t: alpha * w for t, w in top}
        for t in terms:
            weights[t] = weights.get(t, 0.0) + (1.0 - alpha) / len(terms)
        # zero-weight terms (alpha=0 expansion, alpha=1 originals absent
        # from RM1) must not widen the candidate set — same boost>0 rule
        # as search_fuzzy
        weights = {t: w for t, w in weights.items() if w > 0.0}
        return self.search_boolean(
            should=sorted(weights), boosts=weights, k=k
        )

    def search_conversations(
        self, query: str, k: int = 10, agg: str = "max"
    ) -> DataFrame:
        """Conversation-level top-k for the transcripts payload: score ALL
        matching turns (OR BM25), aggregate per conv_id via the stored
        doc->conv mapping (agg = 'max' best-turn or 'sum'), rank
        conversations. Returns (conv_id, score, n_turns_matched). The
        turn->conv join is on doc_id against the doc_id-sorted stored
        table; only matching turns join, never the corpus."""
        rows = self._idf_rows(sorted(set(self.analyzer.tokenize(query))))
        if not rows:
            return _empty(
                self.spark, "conv_id string, score double, n_turns_matched long"
            )
        scored = self._weighted_or_frame(rows)
        conv = self.cat.read(self.spark, "stored").select("doc_id", "conv_id")
        agg_fn = F.max("score") if agg == "max" else F.sum("score")
        return (
            scored.join(conv, "doc_id")
            .groupBy("conv_id")
            .agg(
                agg_fn.alias("score"),
                F.count("*").alias("n_turns_matched"),
            )
            .orderBy(F.desc("score"), F.asc("conv_id"))
            .limit(k)
        )

    def query(self, qstring: str, k: int = 10) -> DataFrame:
        """Parse-and-search a Lucene-classic-syntax subset (see
        ``parse_query``): +must / -must_not / term^boost / bare SHOULD, or
        an entire-query "exact phrase"."""
        parsed = parse_query(qstring)
        if parsed["phrase"] is not None:
            return self.search_phrase(parsed["phrase"], k=k)
        return self.search_boolean(
            should=parsed["should"],
            must=parsed["must"],
            must_not=parsed["must_not"],
            boosts=parsed["boosts"],
            k=k,
        )

    def more_like_this(
        self, doc_id: int, k: int = 10, max_query_terms: int = 10
    ) -> DataFrame:
        """Lucene MoreLikeThisQuery shape: pick the source doc's top terms
        by tf*idf (from the stored text + the term dictionary's df), then
        run an OR BM25 search with them, excluding the source doc itself.
        The term selection is driver-side (one doc); the search is the
        normal distributed path."""
        stored = (
            self.cat.read(self.spark, "stored")
            .filter(F.col("doc_id") == int(doc_id))
            .select("text")
            .collect()
        )
        if not stored:
            raise KeyError(f"doc_id {doc_id} not found")
        toks = self.analyzer.tokenize(stored[0]["text"])
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        dfs = self._term_stats(sorted(counts))
        ranked = sorted(
            (
                (-(tf * idf(self.num_docs, dfs[t])), t)
                for t, tf in counts.items()
                if t in dfs
            ),
        )[:max_query_terms]
        if not ranked:
            return _empty(
                self.spark, "doc_id long, score double, rank int"
            )
        query = " ".join(t for _, t in ranked)
        res = self.search(query, k=k + 1, method="dataframe")
        return (
            res.filter(F.col("doc_id") != int(doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", "score")
        )

    def search_corrected(
        self, query: str, k: int = 10, method: str = "wand"
    ) -> tuple[DataFrame, dict[str, str]]:
        """Spell-corrected search ("did you mean"): query terms absent from
        the term dictionary are replaced by their top spellcheck suggestion
        (ops/spellcheck gram-overlap + levenshtein) before searching.
        Returns (results, corrections_applied)."""
        from nlp4l_spark.ops import spellcheck

        terms = self.analyzer.tokenize(query)
        dfs = self._term_stats(sorted(set(terms)))
        corrections: dict[str, str] = {}
        stats = self.cat.read(self.spark, "term_stats")
        fixed = []
        for t in terms:
            if t in dfs:
                fixed.append(t)
                continue
            cand = spellcheck.suggest(stats, t, k=1).collect()
            if cand:
                corrections[t] = cand[0]["term"]
                fixed.append(cand[0]["term"])
        if not fixed:
            return (
                _empty(
                    self.spark, "doc_id long, score double, rank int"
                ),
                corrections,
            )
        return self.search(" ".join(fixed), k=k, method=method), corrections

    def facets(self, query: str, facet_col: str, k: int = 10) -> DataFrame:
        """Facet counts over the query's matching docs (the Solr
        facet.field surface the reference's log parser extracts,
        FeaturedProcessors.scala:103-130): distinct matching docIDs
        semi-joined to the stored metadata column, grouped. Matching-doc
        set work ∝ query postings; the stored join is doc_id-pruned."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        stats = self._term_stats(terms)  # one collect job for all terms
        present = [t for t in terms if t in stats]
        if not present:
            return _empty(self.spark, f"{facet_col} string, cnt long")
        docs = (
            self._decoded(self._matching_postings(present))
            .select("doc_id")
            .distinct()
        )
        return (
            self.cat.read(self.spark, "stored")
            .join(docs, "doc_id", "left_semi")
            .groupBy(facet_col)
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc(facet_col))
            .limit(k)
        )

    def highlight(
        self,
        query: str,
        doc_id: int,
        pre: str = "<b>",
        post: str = "</b>",
    ) -> str:
        """Highlight the query's terms in one stored document using the
        term_vectors character offsets (Lucene highlighter semantics on
        exact analyzed-term matches; requires
        ``store_term_vectors=True``). Driver-side by design — highlighting
        is a per-displayed-result operation, not a corpus scan."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        if not terms:
            raise ValueError("query analyzed to no terms")
        stored = (
            self.cat.read(self.spark, "stored")
            .filter(F.col("doc_id") == int(doc_id))
            .select("text")
            .collect()
        )
        if not stored:
            raise KeyError(f"doc_id {doc_id} not found")
        text = stored[0]["text"] or ""
        tv = (
            self.cat.read(self.spark, "term_vectors")
            .filter(
                (F.col("doc_id") == int(doc_id)) & F.col("term").isin(terms)
            )
            .select("start_offsets", "end_offsets")
            .collect()
        )
        spans = sorted(
            (s, e)
            for r in tv
            for s, e in zip(r["start_offsets"], r["end_offsets"])
        )
        out, prev = [], 0
        for s, e in spans:
            out.append(text[prev:s])
            out.append(pre + text[s:e] + post)
            prev = e
        out.append(text[prev:])
        return "".join(out)

    def search_prefix(self, prefix: str, k: int = 10) -> DataFrame:
        """Lucene PrefixQuery semantics: docs containing >=1 term with the
        prefix, constant score 1.0 (Lucene rewrites multi-term queries to
        constant-score), docID ascending. The term-dictionary 'range scan'
        is a startswith filter the term-sorted parquet can min/max-prune."""
        matching = self.cat.read(self.spark, "postings").filter(
            F.col("term").startswith(prefix.lower())
        )
        docs = (
            self._decoded(matching)
            .select("doc_id")
            .distinct()
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )
        return docs.select("doc_id", F.lit(1.0).alias("score"))

    def search_constant_score(
        self,
        must_terms: list[str],
        must_not_terms: list[str] = (),
        boost: float = 1.0,
        k: int = 10,
    ) -> DataFrame:
        """Lucene ConstantScoreQuery / ES constant_score over the index:
        a filter-context bool (all MUST terms present, no MUST_NOT term
        present) where every match scores exactly ``boost`` — no
        Similarity, no stats job at all (the whole point of the query
        type). Corpus twin: entry_queries.q_constant_score_topk
        (identity-tested in tests/test_boolean.py).

        Plan: both clause sides are pushed-In(term) postings reads; the
        MUST candidate set is a countDistinct==n filter, MUST_NOT is a
        LEFT ANTI join of distinct doc ids — never row-multiplying."""
        must = sorted({t.lower() for t in must_terms})
        if not must:
            raise ValueError("constant_score needs >=1 must term")
        cand = (
            self._decoded(self._matching_postings(must))
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("_nm"))
            .filter(F.col("_nm") == len(must))
            .select("doc_id")
        )
        mnot = sorted({t.lower() for t in must_not_terms})
        if mnot:
            excl = (
                self._decoded(self._matching_postings(mnot))
                .select("doc_id")
                .distinct()
            )
            cand = cand.join(excl, "doc_id", "left_anti")
        return (
            cand.orderBy(F.asc("doc_id"))
            .limit(k)
            .select("doc_id", F.lit(float(boost)).alias("score"))
        )

    def search_match_bool_prefix(self, query: str, k: int = 10) -> DataFrame:
        """ES match_bool_prefix over the index: the analyzed query's
        LAST token becomes a PrefixQuery, the rest are term queries, all
        SHOULD-joined. Per Lucene's constant-score multi-term rewrite
        the prefix clause contributes exactly 1.0 while the full terms
        score BM25 — so score = BM25(rest) + 1.0·[prefix hit], matching
        requires >=1 clause. Corpus twin:
        entry_queries.q_match_bool_prefix_topk (identity-tested in
        tests/test_boolean.py).

        Plan: one pushed-In(term) postings read for the scored terms +
        one StringStartsWith-pushed dictionary range read for the
        prefix; the two candidate streams union and fold in ONE
        groupBy(doc_id) — no join between the clause sides."""
        toks = self.analyzer.tokenize(query)
        if not toks:
            return _empty(self.spark, "doc_id long, score double")
        prefix, rest = toks[-1], sorted(set(toks[:-1]))
        parts = []
        rows = self._idf_rows(rest) if rest else []
        if rows:
            parts.append(self._term_scores(rows).select("doc_id", "_s"))
        pdocs = (
            self._decoded(
                self.cat.read(self.spark, "postings").filter(
                    F.col("term").startswith(prefix)
                )
            )
            .select("doc_id")
            .distinct()
            .select("doc_id", F.lit(1.0).alias("_s"))
        )
        parts.append(pdocs)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return (
            out.groupBy("doc_id")
            .agg(F.round(F.sum("_s"), 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_wildcard(
        self, pattern: str, k: int = 10, max_expansions: int = 1024
    ) -> DataFrame:
        """Lucene WildcardQuery (* = any run, ? = one char), rewritten like
        Lucene to a constant-score disjunction over the matching dictionary
        terms; docID ascending.

        Scale shape (Lucene's automaton-vs-FST walk, rendered for parquet):
        the pattern is expanded against the VOCAB-sized term dictionary —
        never the postings table — with any literal prefix pushed as a
        startswith range the term-sorted term_stats parquet min/max-prunes;
        the expanded term set then reaches the postings reader as a pushed
        ``In(term)`` filter (same plan as a normal multi-term query).
        Expansions beyond ``max_expansions`` raise, mirroring Lucene's
        TooManyClauses guard (a leading-* pattern over a 10⁹-term
        dictionary would otherwise collect the vocabulary; Lucene's
        ReversedWildcardFilter — a second, reversed-term dictionary — is
        the index-side fix if leading-* must be fast at that scale)."""
        import re as _re

        p = pattern.lower()
        rx = "".join(
            ".*" if c == "*" else "." if c == "?" else _re.escape(c) for c in p
        )
        lit_prefix = p.split("*", 1)[0].split("?", 1)[0]
        stats = self.cat.read(self.spark, "term_stats")
        cond = F.col("term").rlike(f"^{rx}$")
        if lit_prefix:
            # pushed range prune on the term-sorted dictionary
            cond = F.col("term").startswith(lit_prefix) & cond
        expanded = stats.filter(cond).select("term").limit(max_expansions + 1)
        terms = [r["term"] for r in expanded.collect()]
        if len(terms) > max_expansions:
            raise ValueError(
                f"wildcard '{pattern}' expands to > {max_expansions} terms "
                "(Lucene TooManyClauses); narrow the pattern or raise "
                "max_expansions"
            )
        if not terms:
            return _empty(self.spark, "doc_id long, score double")
        matching = self.cat.read(self.spark, "postings").filter(
            F.col("term").isin(terms)
        )
        docs = (
            self._decoded(matching)
            .select("doc_id")
            .distinct()
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )
        return docs.select("doc_id", F.lit(1.0).alias("score"))

    def search_regexp(
        self, pattern: str, k: int = 10, max_expansions: int = 1024
    ) -> DataFrame:
        """Lucene RegexpQuery: the regex must match the WHOLE term
        (Lucene's implicit anchoring), rewritten — like WildcardQuery —
        to a constant-score disjunction over the matching dictionary
        terms; docID ascending.

        Scale shape: identical to search_wildcard — the regex runs
        against the VOCAB-sized term dictionary only, any literal prefix
        of the pattern (the leading run of non-meta chars, excluding a
        char owned by a following quantifier) is pushed as a startswith
        range the term-sorted term_stats parquet min/max-prunes, and the
        expanded term set reaches the postings reader as a pushed
        ``In(term)``. TooManyClauses guard as in search_wildcard."""
        p = pattern.lower()
        meta = set(".^$*+?{}[]()|\\")
        lit = []
        for i, ch in enumerate(p):
            if ch in meta:
                break
            if i + 1 < len(p) and p[i + 1] in "*+?{":
                break  # ch is quantified by the next char, not literal
            lit.append(ch)
        lit_prefix = "".join(lit)
        stats = self.cat.read(self.spark, "term_stats")
        cond = F.col("term").rlike(f"^(?:{p})$")
        if lit_prefix:
            cond = F.col("term").startswith(lit_prefix) & cond
        expanded = stats.filter(cond).select("term").limit(max_expansions + 1)
        terms = [r["term"] for r in expanded.collect()]
        if len(terms) > max_expansions:
            raise ValueError(
                f"regexp '{pattern}' expands to > {max_expansions} terms "
                "(Lucene TooManyClauses); narrow the pattern or raise "
                "max_expansions"
            )
        if not terms:
            return _empty(self.spark, "doc_id long, score double")
        matching = self.cat.read(self.spark, "postings").filter(
            F.col("term").isin(terms)
        )
        docs = (
            self._decoded(matching)
            .select("doc_id")
            .distinct()
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )
        return docs.select("doc_id", F.lit(1.0).alias("score"))

    def search_term_range(
        self,
        lower: str | None,
        upper: str | None,
        k: int = 10,
        include_lower: bool = True,
        include_upper: bool = True,
    ) -> DataFrame:
        """Lucene TermRangeQuery: docs containing >=1 dictionary term in
        the lexicographic range — a pure range predicate the term-sorted
        postings table min/max-prunes; constant score, docID asc. Bounds
        are lowercased to match the all-lowercase term dictionary (same
        normalization as search_prefix / search_wildcard)."""
        t = F.col("term")
        cond = F.lit(True)
        if lower is not None:
            lower = lower.lower()
            cond = cond & (t >= lower if include_lower else t > lower)
        if upper is not None:
            upper = upper.lower()
            cond = cond & (t <= upper if include_upper else t < upper)
        matching = self.cat.read(self.spark, "postings").filter(cond)
        docs = (
            self._decoded(matching)
            .select("doc_id")
            .distinct()
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )
        return docs.select("doc_id", F.lit(1.0).alias("score"))

    def search_fuzzy(
        self,
        term: str,
        k: int = 10,
        max_edits: int = 2,
        prefix_length: int = 0,
    ) -> DataFrame:
        """Lucene FuzzyQuery shape: expand the query term to all dictionary
        terms within ``max_edits`` Damerau-Levenshtein edits (adjacent
        transposition costs 1, matching Lucene's FuzzyQuery default
        transpositions=true), score BM25 per expanded term weighted by
        Lucene's fuzzy boost ``1 - edits / min(|term|, |query|)``, sum per
        doc. (Deviations vs Lucene, documented: no TopTermsBlendedFreq
        rewrite — Lucene blends df across the expanded set and keeps only
        the top 50 terms — and UNRESTRICTED Damerau-Levenshtein rather
        than Lucene's OSA automaton variant, because DuckDB's
        damerau_levenshtein — the oracle's distance — is the unrestricted
        form; the two differ only on pairs where an edit lands between the
        transposed characters, e.g. 'ca'→'abc' is 2 here, 3 under OSA.
        Expanded terms with boost <= 0 — possible for 1-2 char terms at
        max_edits=2 — are dropped rather than contributing zero/negative
        score.)

        Scale path: the dictionary scan is pre-pruned by the exact length
        bound ``|tlen - |q|| <= max_edits`` on the materialized ``tlen``
        column (every DL edit changes length by at most 1) — a range
        predicate pushed to the parquet reader (PushedFilters) so a
        10^9-term dictionary reads only the row groups in the length
        window — then a JVM ``levenshtein() <= 2*max_edits`` prefilter
        (DL >= Lev/2 always) bounds the rows the Arrow DL pass sees.
        Falls back to computed length on pre-``tlen`` indexes."""
        q = term.lower()
        expanded = self._fuzzy_expansion(q, max_edits, prefix_length).collect()
        if not expanded:
            return _empty(self.spark, "doc_id long, score double")
        # fold the boost into the idf column and reuse the OR scorer
        rows = [
            (r["term"], idf(self.num_docs, int(r["df"])) * float(r["boost"]))
            for r in expanded
        ]
        return _top(self._weighted_or_frame(rows), k)

    def _fuzzy_expansion(
        self, q: str, max_edits: int, prefix_length: int = 0
    ) -> DataFrame:
        """Dictionary expansion for search_fuzzy: a tlen range filter
        (pushed to the parquet reader — plan-guarded in tests/test_plans.py)
        prunes the scan to the exact length window, a JVM
        levenshtein() <= 2*max_edits prefilter bounds the candidates
        (Lev <= 2*DL, so no DL neighbor is lost), then the Arrow
        Damerau-Levenshtein pass computes the true edit count the boost
        uses. ``prefix_length`` is Lucene FuzzyQuery's prefixLength:
        the first N chars must match EXACTLY — a startswith predicate
        that also pushes to the reader (StringStartsWith), turning the
        length-window scan into a prefix seek on the term-sorted
        dictionary."""
        stats = self.cat.read(self.spark, "term_stats")
        tlen = F.col("tlen") if "tlen" in stats.columns else F.length("term")
        lev = F.levenshtein(F.col("term"), F.lit(q))
        dl_edits = _damerau_udf(q)(F.col("term"))
        boost = F.lit(1.0) - F.col("edits") / F.least(
            F.length("term"), F.lit(len(q))
        )
        if prefix_length > 0:
            stats = stats.filter(
                F.col("term").startswith(q[:prefix_length])
            )
        return (
            stats.filter(tlen.between(len(q) - max_edits, len(q) + max_edits))
            .filter(lev <= 2 * max_edits)
            .withColumn("edits", dl_edits.cast("double"))
            .filter(F.col("edits") <= max_edits)
            .select("term", "df", (F.lit(0) + boost).alias("boost"))
            .filter(F.col("boost") > 0)
        )

    def match_all(self, k: int = 10) -> DataFrame:
        """MatchAllDocsQuery (the reference ISearcher's default query,
        ISearcher.scala:42): every doc, constant score 1.0, docID asc."""
        return (
            self._not_deleted(self.cat.read(self.spark, "stored"))
            .select("doc_id", F.lit(1.0).alias("score"))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def search_filtered(
        self,
        query: str,
        where: dict[str, object],
        k: int = 10,
    ) -> DataFrame:
        """Lucene BooleanQuery FILTER clause: metadata equality predicates
        on stored fields (role, tool, conv_id, ...) restrict the candidate
        set; BM25 scoring and idf stay corpus-global — FILTER clauses
        never score, exactly Lucene's semantics. Uses full DataFrame
        scoring (not WAND): top-k pruning before the filter would wrongly
        discard filtered-in docs. The allowed-docs side is a pushed-down
        equality scan of the ``stored`` table semi-joined to the scored
        candidates — work ∝ query postings + filter selectivity."""
        rows = self._idf_rows(sorted(set(self.analyzer.tokenize(query))))
        if not rows:
            return _empty(
                self.spark, "doc_id long, score double, rank int"
            )
        scored = self._weighted_or_frame(rows)
        allowed = self.cat.read(self.spark, "stored")
        for c, v in sorted(where.items()):
            allowed = allowed.filter(F.col(c) == F.lit(v))
        out = (
            scored.join(allowed.select("doc_id"), "doc_id", "left_semi")
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return out.withColumn("rank", F.row_number().over(w))

    def search_filtered_indexed(
        self,
        query: str,
        where: dict[str, object],
        k: int = 10,
    ) -> DataFrame:
        """search_filtered's postings-only twin for indexes built with
        ``IndexBuilder(keyword_fields=...)``: every FILTER predicate is a
        pushed term lookup of the namespaced keyword posting
        ("<field>:<lowercased value>"), intersected by a
        countDistinct==n fold — the stored table is never touched, so
        the filter side reads O(Σ posting lengths) instead of scanning a
        stored column (Lucene's actual FILTER execution: a keyword
        TermQuery DocIdSet intersected with the scored iterator).
        Scoring and idf stay corpus-global, identical to
        search_filtered (identity-tested in
        tests/test_keyword_fields.py)."""
        fv = [f"{c}:{str(v).lower()}" for c, v in sorted(where.items())]
        allowed = (
            self._decoded(self._matching_postings(fv))
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("_nf"))
            .filter(F.col("_nf") == len(fv))
            .select("doc_id")
        )
        rows = self._idf_rows(sorted(set(self.analyzer.tokenize(query))))
        if not rows:
            return _empty(
                self.spark, "doc_id long, score double, rank int"
            )
        scored = self._weighted_or_frame(rows)
        out = (
            scored.join(allowed, "doc_id", "left_semi")
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return out.withColumn("rank", F.row_number().over(w))

    def search_exists(self, fld: str, k: int = 10) -> DataFrame:
        """ES exists query over a keyword field: docs where the field
        has ANY value = union of the field's namespaced postings — one
        StringStartsWith-pushed dictionary range read (nulls were never
        indexed, so presence in any "<field>:*" posting IS existence).
        Constant score 1.0, docID ascending (the multi-term
        constant-score rewrite)."""
        matching = self.cat.read(self.spark, "postings").filter(
            F.col("term").startswith(fld + ":")
        )
        return (
            self._decoded(matching)
            .select("doc_id")
            .distinct()
            .orderBy(F.asc("doc_id"))
            .limit(k)
            .select("doc_id", F.lit(1.0).alias("score"))
        )

    def facet_keyword(self, fld: str) -> DataFrame:
        """Keyword-field facet counts from the TERM DICTIONARY ALONE —
        Lucene's SortedSetDocValues facet shape: each "<field>:<value>"
        dictionary row's df IS the bucket count, so faceting reads zero
        postings and zero stored bytes, just a StringStartsWith-pruned
        band of the vocab-sized term_stats table. Returns (value, cnt),
        count desc / value asc."""
        pre = fld + ":"
        return (
            self.cat.read(self.spark, "term_stats")
            .filter(F.col("term").startswith(pre))
            .select(
                F.substring(
                    F.col("term"), len(pre) + 1, 2_147_483_647
                ).alias("value"),
                F.col("df").cast("long").alias("cnt"),
            )
            .orderBy(F.desc("cnt"), F.asc("value"))
        )

    def search_span_near(
        self,
        term_a: str,
        term_b: str,
        slop: int = 0,
        in_order: bool = True,
        k: int = 10,
    ) -> DataFrame:
        """Lucene SpanNearQuery for the two-clause case: docs where a
        position of ``term_a`` and a position of ``term_b`` lie within
        ``slop`` intervening token positions (``in_order``: b strictly
        after a, gap = p_b - p_a - 1 <= slop; unordered: either order,
        |p_b - p_a| - 1 <= slop). Constant-score candidate retrieval
        (docID asc) with ``n_spans`` = number of a-positions that have a
        qualifying partner — the span match count Lucene's SpanScorer
        iterates. Positions are full-token-stream positions (StopFilter
        holes preserved), from the opt-in term_vectors table; the join is
        a per-doc pairing of two df-sized position lists, never
        corpus-sized."""
        a = self.analyzer.tokenize(term_a)
        b = self.analyzer.tokenize(term_b)
        if len(a) != 1 or len(b) != 1:
            raise ValueError("span_near clauses must analyze to one term each")
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "span_near needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        tv = self.cat.read(self.spark, "term_vectors")
        pa = tv.filter(F.col("term") == a[0]).select(
            "doc_id", F.col("positions").alias("_pa")
        )
        pb = tv.filter(F.col("term") == b[0]).select(
            "doc_id", F.col("positions").alias("_pb")
        )
        win = int(slop) + 1
        if in_order:
            pair_ok = lambda p0: F.exists(
                F.col("_pb"), lambda p1: (p1 > p0) & (p1 - p0 <= win)
            )
        else:
            pair_ok = lambda p0: F.exists(
                F.col("_pb"),
                lambda p1: (p1 != p0) & (F.abs(p1 - p0) <= win),
            )
        n_spans = F.size(F.filter(F.col("_pa"), pair_ok))
        return (
            self._not_deleted(pa.join(pb, "doc_id"))
            .select("doc_id", n_spans.cast("long").alias("n_spans"))
            .filter(F.col("n_spans") > 0)
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def search_span_near_multi(
        self,
        terms,
        slop: int = 0,
        k: int = 10,
    ) -> DataFrame:
        """Lucene SpanNearQuery, k clauses, in-order (session 13 —
        closes the two-clause-only surface): a span match is a strictly
        increasing position tuple p₁ < … < p_k with total slop
        (p_k − p₁) − (k−1) ≤ ``slop``; ``n_spans`` counts the p₁
        positions that admit a completion (the two-clause method's
        contract generalized). EXISTS-chain evaluation with the partial
        prune p_i − p₁ − i ≤ slop at every level, so dead prefixes stop
        immediately. Positions are full-stream (StopFilter holes
        preserved) from the k terms' df-sized term_vectors rows."""
        toks = []
        for t in terms:
            a = self.analyzer.tokenize(t)
            if len(a) != 1:
                raise ValueError(
                    "span_near clauses must analyze to one term each"
                )
            toks.append(a[0])
        if len(toks) < 2:
            raise ValueError("span_near_multi needs >= 2 clauses")
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "span_near needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        kk = len(toks)
        tv = self.cat.read(self.spark, "term_vectors")
        cand = None
        for i, t in enumerate(toks):
            p = tv.filter(F.col("term") == t).select(
                "doc_id", F.col("positions").alias(f"_p{i}")
            )
            cand = p if cand is None else cand.join(p, "doc_id")

        def completes(i, prev, first):
            cond = lambda p: (p > prev) & (
                p - first - F.lit(i) <= F.lit(int(slop))
            )
            if i == kk - 1:
                return F.exists(F.col(f"_p{i}"), cond)
            return F.exists(
                F.col(f"_p{i}"),
                lambda p: cond(p) & completes(i + 1, p, first),
            )

        n_spans = F.size(
            F.filter(F.col("_p0"), lambda p0: completes(1, p0, p0))
        )
        return (
            self._not_deleted(cand)
            .select("doc_id", n_spans.cast("long").alias("n_spans"))
            .filter(F.col("n_spans") > 0)
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def search_intervals(
        self,
        term_a: str,
        term_b: str,
        maxgaps: int = 0,
        k: int = 10,
    ) -> DataFrame:
        """Lucene intervals module, Intervals.maxgaps(g, ordered(a, b)):
        docs with >= 1 MINIMAL ordered interval — for a start position
        p0 of ``a``, the interval ends at the NEAREST following ``b``
        position p1, and is minimal only if no other ``a`` position lies
        strictly inside (p0, p1) (a later start would give a shorter
        interval — the Clarke/Cormack minimal-interval semantics that
        distinguishes intervals from SpanNear's all-pairs slop counting);
        gaps = p1 - p0 - 1 <= maxgaps. ``n_intervals`` = minimal
        qualifying intervals per doc, constant-score docID-asc
        retrieval. Positions from the opt-in term_vectors table: the
        pairing is a per-doc HOF over two df-sized position lists."""
        a = self.analyzer.tokenize(term_a)
        b = self.analyzer.tokenize(term_b)
        if len(a) != 1 or len(b) != 1:
            raise ValueError("interval clauses must analyze to one term each")
        if maxgaps < 0:
            raise ValueError(f"maxgaps must be >= 0, got {maxgaps}")
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "intervals needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        tv = self.cat.read(self.spark, "term_vectors")
        pa = tv.filter(F.col("term") == a[0]).select(
            "doc_id", F.col("positions").alias("_pa")
        )
        pb = tv.filter(F.col("term") == b[0]).select(
            "doc_id", F.col("positions").alias("_pb")
        )

        def minimal(p0):
            nb = F.array_min(F.filter(F.col("_pb"), lambda x: x > p0))
            return (
                nb.isNotNull()
                & (nb - p0 - 1 <= F.lit(int(maxgaps)))
                & ~F.exists(F.col("_pa"), lambda q: (q > p0) & (q < nb))
            )

        n_iv = F.size(F.filter(F.col("_pa"), minimal))
        return (
            self._not_deleted(pa.join(pb, "doc_id"))
            .select("doc_id", n_iv.cast("long").alias("n_intervals"))
            .filter(F.col("n_intervals") > 0)
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def search_span_first(
        self, term: str, end: int, k: int = 10
    ) -> DataFrame:
        """Lucene SpanFirstQuery: docs where ``term`` occurs at a
        position < ``end`` (full-token-stream positions, StopFilter holes
        preserved — the same contract as search_span_near). Constant-score
        candidate retrieval (docID asc) with ``first_pos`` = the earliest
        match and ``n_first`` = matches inside the window. Plan: one
        pushed-equality term_vectors scan, per-doc list filter — never
        corpus-sized."""
        toks = self.analyzer.tokenize(term)
        if len(toks) != 1:
            raise ValueError("span_first clause must analyze to one term")
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "span_first needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        tv = self.cat.read(self.spark, "term_vectors")
        in_win = F.filter(F.col("positions"), lambda p: p < F.lit(int(end)))
        return (
            self._not_deleted(tv.filter(F.col("term") == toks[0]))
            .select(
                "doc_id",
                F.size(in_win).cast("long").alias("n_first"),
                F.array_min(in_win).cast("long").alias("first_pos"),
            )
            .filter(F.col("n_first") > 0)
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def search_span_not(
        self, include: str, exclude: str, slop: int = 0, k: int = 10
    ) -> DataFrame:
        """Lucene SpanNotQuery (two term spans): positions of ``include``
        with NO ``exclude`` position within ``slop`` intervening tokens
        (either side — Lucene's pre/post default of 0 widened
        symmetrically by slop). Docs with no ``exclude`` at all keep
        every include position. Constant-score candidate retrieval
        (docID asc) with ``n_clean`` = surviving include positions.
        Plan: two pushed-equality term_vectors reads, LEFT join (df-sized
        frames), per-doc list filter."""
        a = self.analyzer.tokenize(include)
        b = self.analyzer.tokenize(exclude)
        if len(a) != 1 or len(b) != 1:
            raise ValueError("span_not clauses must analyze to one term each")
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "span_not needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        tv = self.cat.read(self.spark, "term_vectors")
        pa = tv.filter(F.col("term") == a[0]).select(
            "doc_id", F.col("positions").alias("_pa")
        )
        pb = tv.filter(F.col("term") == b[0]).select(
            "doc_id", F.col("positions").alias("_pb")
        )
        win = int(slop) + 1
        clean = lambda p0: F.col("_pb").isNull() | ~F.exists(
            F.col("_pb"), lambda p1: F.abs(p1 - p0) <= win
        )
        n_clean = F.size(F.filter(F.col("_pa"), clean))
        return (
            self._not_deleted(pa.join(pb, "doc_id", "left"))
            .select("doc_id", n_clean.cast("long").alias("n_clean"))
            .filter(F.col("n_clean") > 0)
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def search_span_or_near(
        self,
        terms_a: list[str],
        term_b: str,
        slop: int = 0,
        in_order: bool = False,
        k: int = 10,
    ) -> DataFrame:
        """Lucene SpanOrQuery composed under SpanNearQuery — the canonical
        use of SpanOr: ``near(or(terms_a...), term_b, slop)``. The OR
        clause's span positions are the union of its member terms'
        positions; each union position needs a ``term_b`` partner within
        ``slop`` intervening tokens (ordered: b strictly after; unordered:
        either side). Same full-token-stream position contract as
        search_span_near. Constant-score candidate retrieval (docID asc)
        with ``n_spans`` = qualifying OR-positions.

        Plan: one pushed-In(term) term_vectors read for the OR members, a
        (doc)-keyed partial agg merging their position lists (df-sized,
        never corpus-sized), one pushed-equality read for ``term_b``, an
        equality join of the two df-sized frames, per-doc list filter."""
        alts = sorted(
            {t for raw in terms_a for t in self.analyzer.tokenize(raw)}
        )
        b = self.analyzer.tokenize(term_b)
        if not alts or len(b) != 1:
            raise ValueError(
                "span_or_near needs >=1 OR term and exactly one near term"
            )
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "span_or_near needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        tv = self.cat.read(self.spark, "term_vectors")
        pa = (
            tv.filter(F.col("term").isin(alts))
            .groupBy("doc_id")
            .agg(
                F.array_sort(F.flatten(F.collect_list("positions"))).alias(
                    "_pa"
                )
            )
        )
        pb = tv.filter(F.col("term") == b[0]).select(
            "doc_id", F.col("positions").alias("_pb")
        )
        win = int(slop) + 1
        if in_order:
            pair_ok = lambda p0: F.exists(  # noqa: E731
                F.col("_pb"), lambda p1: (p1 > p0) & (p1 - p0 <= win)
            )
        else:
            pair_ok = lambda p0: F.exists(  # noqa: E731
                F.col("_pb"),
                lambda p1: (p1 != p0) & (F.abs(p1 - p0) <= win),
            )
        n_spans = F.size(F.filter(F.col("_pa"), pair_ok))
        return (
            self._not_deleted(pa.join(pb, "doc_id"))
            .select("doc_id", n_spans.cast("long").alias("n_spans"))
            .filter(F.col("n_spans") > 0)
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def _span_pair_frames(self, big: tuple[str, str], little: str):
        """Shared retrieval for SpanContaining/SpanWithin: three pushed-
        equality term_vectors reads -> (doc_id, _pa, _pb, _pc) with the
        big pair inner-joined (both ends required) and little inner-joined
        (containment needs it). All frames are df-sized."""
        a = self.analyzer.tokenize(big[0])
        b = self.analyzer.tokenize(big[1])
        c = self.analyzer.tokenize(little)
        if len(a) != 1 or len(b) != 1 or len(c) != 1:
            raise ValueError("span clauses must analyze to one term each")
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "span containing/within needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        tv = self.cat.read(self.spark, "term_vectors")
        pa = tv.filter(F.col("term") == a[0]).select(
            "doc_id", F.col("positions").alias("_pa")
        )
        pb = tv.filter(F.col("term") == b[0]).select(
            "doc_id", F.col("positions").alias("_pb")
        )
        pc = tv.filter(F.col("term") == c[0]).select(
            "doc_id", F.col("positions").alias("_pc")
        )
        return pa.join(pb, "doc_id").join(pc, "doc_id")

    def search_span_containing(
        self, big: tuple[str, str], little: str, slop: int = 0, k: int = 10
    ) -> DataFrame:
        """Lucene SpanContainingQuery: spans of ``big`` — the ordered pair
        (a, b) with at most ``slop`` intervening tokens, interval
        [p_a, p_b] — that CONTAIN a position of ``little``. Docs ranked
        docID asc with ``n_spans`` = qualifying big spans (constant-score
        candidate retrieval, the span-family contract). Plan: three
        pushed-equality term_vectors reads, two df-sized equality joins,
        per-doc nested list filters — never corpus-sized."""
        joined = self._span_pair_frames(big, little)
        win = int(slop) + 1
        # an anchor p0 qualifies iff SOME (p0, p1) big span contains a
        # little position — counting anchors (not (start, end) pairs)
        # keeps n_spans deterministic where Lucene's span enumeration
        # could emit several ends per start
        contains = lambda p0: F.exists(  # noqa: E731
            F.col("_pb"),
            lambda p1: (p1 > p0)
            & (p1 - p0 <= win)
            & F.exists(
                F.col("_pc"), lambda q: (q >= p0) & (q <= p1)
            ),
        )
        n_spans = F.size(F.filter(F.col("_pa"), contains))
        return (
            self._not_deleted(joined)
            .select("doc_id", n_spans.cast("long").alias("n_spans"))
            .filter(F.col("n_spans") > 0)
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def search_span_within(
        self, little: str, big: tuple[str, str], slop: int = 0, k: int = 10
    ) -> DataFrame:
        """Lucene SpanWithinQuery — the dual of SpanContainingQuery:
        positions of ``little`` that sit INSIDE some ``big`` span (ordered
        pair (a, b), at most ``slop`` intervening tokens). Docs ranked
        docID asc with ``n_within`` = qualifying little positions. Same
        three-read df-sized plan as search_span_containing."""
        joined = self._span_pair_frames(big, little)
        win = int(slop) + 1
        inside = lambda q: F.exists(  # noqa: E731
            F.col("_pa"),
            lambda p0: (q >= p0)
            & F.exists(
                F.col("_pb"),
                lambda p1: (p1 > p0) & (p1 - p0 <= win) & (q <= p1),
            ),
        )
        n_within = F.size(F.filter(F.col("_pc"), inside))
        return (
            self._not_deleted(joined)
            .select("doc_id", n_within.cast("long").alias("n_within"))
            .filter(F.col("n_within") > 0)
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def search_boosting(
        self,
        positive: str,
        negative: str,
        negative_boost: float = 0.3,
        k: int = 10,
    ) -> DataFrame:
        """Lucene queries-module BoostingQuery / Elasticsearch `boosting`
        query: matching and scoring come from the ``positive`` query
        alone; docs that ALSO match ``negative`` keep their place in the
        candidate set but have their BM25 score multiplied by
        ``negative_boost`` — demotion without exclusion (MUST_NOT would
        drop them). Plan: the standard BM25 broadcast-join scoring plan
        over the positive terms' postings, plus ONE equality left-join
        against the negative terms' distinct-docID frame (postings-sized,
        never corpus-sized)."""
        pterms = sorted(set(self.analyzer.tokenize(positive)))
        nterms = sorted(set(self.analyzer.tokenize(negative)))
        rows = self._idf_rows(pterms)
        if not rows:
            return _empty(self.spark, "doc_id long, score double")
        pos = self._weighted_or_frame(rows).withColumnRenamed("score", "_pos")
        neg_present = [t for t in nterms if t in self._term_stats(nterms)]
        if neg_present:
            neg = (
                self._decoded(self._matching_postings(neg_present))
                .select("doc_id")
                .distinct()
                .withColumn("_neg", F.lit(True))
            )
            pos = pos.join(neg, "doc_id", "left")
        else:
            pos = pos.withColumn("_neg", F.lit(None).cast("boolean"))
        score = F.when(
            F.col("_neg").isNotNull(),
            F.col("_pos") * F.lit(float(negative_boost)),
        ).otherwise(F.col("_pos"))
        return (
            pos.select("doc_id", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_bm25_variant(
        self,
        query: str,
        k: int = 10,
        variant: str = "plus",
        delta: float | None = None,
    ) -> DataFrame:
        """Lower-bounded BM25 variants (Lv & Zhai, CIKM 2011 — "Lower-
        Bounding Term Frequency Normalization"): very long documents are
        over-penalized by plain BM25; both variants add a lower bound δ
        to the normalized tf so ANY occurrence beats non-occurrence
        regardless of dl. Per present query term, with
        norm = 1 - b + b*dl/avgdl:

        * plus (BM25+, δ=1.0 default):
          idf * ((k1+1)*tf/(k1*norm + tf) + δ)
        * l (BM25L, δ=0.5 default), with c' = tf/norm:
          idf * (k1+1)*(c' + δ) / (k1 + c' + δ)

        Same broadcast-join + partial-agg plan as the similarity family —
        only the score expression changes."""
        if variant not in ("plus", "l"):
            raise ValueError(f"unknown BM25 variant: {variant}")
        d = (1.0 if variant == "plus" else 0.5) if delta is None else float(delta)
        rows = self._idf_rows(sorted(set(self.analyzer.tokenize(query))))
        tf = F.col("tf").cast("double")
        norm = (
            F.lit(1.0 - B)
            + F.lit(B) * F.col("dl").cast("double") / F.lit(self.avgdl or 1.0)
        )
        if variant == "plus":
            s = F.col("idf") * (
                F.lit(K1 + 1.0) * tf / (F.lit(K1) * norm + tf) + F.lit(d)
            )
        else:
            cp = tf / norm
            s = (
                F.col("idf")
                * F.lit(K1 + 1.0)
                * (cp + F.lit(d))
                / (F.lit(K1) + cp + F.lit(d))
            )
        return self._similarity_topk(rows, "idf", s, k)

    def significant_text(self, query: str, k: int = 15) -> DataFrame:
        """Elasticsearch significant_text aggregation over a query's
        result set: terms overrepresented in the MATCHING docs
        (foreground) vs the whole index (background), scored by Dunning
        G² on the 2×2 token contingency table — the same keyness math as
        stats/keyness.significant_terms, with the foreground defined by
        the query instead of a stored column. The query's own terms are
        excluded (they define the foreground). Output (term, fg_count,
        bg_count, g2), top-k by (g2 desc, term asc).

        Plan: fg docset = distinct doc_ids of the (pushed-In) query
        postings; fg term counts = term_vectors rows equality-joined to
        that docset (needs IndexBuilder(store_term_vectors=True));
        background totals ride the term_stats dictionary join; only the
        two token-total scalars are collected. Scale note: work is ∝ the
        foreground's token count — for queries matching a large corpus
        fraction, cap the foreground first (ES wraps significant_text in
        a sampler agg for the same reason), e.g. by feeding a top-k
        docset instead of the full match set."""
        qterms = sorted(set(self.analyzer.tokenize(query)))
        present = [t for t in qterms if t in self._term_stats(qterms)]
        if not present:
            return _empty(
                self.spark,
                "term string, fg_count long, bg_count long, g2 double",
            )
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "significant_text needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        fg_docs = (
            self._decoded(self._matching_postings(present))
            .select("doc_id")
            .distinct()
        )
        tv = self.cat.read(self.spark, "term_vectors")
        fg = (
            tv.join(fg_docs, "doc_id")
            .groupBy("term")
            .agg(F.sum("tf").cast("double").alias("_a"))
        )
        colt = float(
            self.cat.read(self.spark, "doc_lens")
            .join(fg_docs, "doc_id")
            .agg(F.sum("dl"))
            .collect()[0][0]
            or 0.0
        )
        n = float(self.sum_dl)
        rowt_tbl = self.cat.read(self.spark, "term_stats").select(
            "term", F.col("cf").cast("double").alias("_rowt")
        )
        a, rowt = F.col("_a"), F.col("_rowt")
        b = rowt - a
        c = F.lit(colt) - a
        d = F.lit(n) - rowt - F.lit(colt) + a

        def ll(kcol, e):
            return F.when(kcol > 0, kcol * F.log(kcol / e)).otherwise(
                F.lit(0.0)
            )

        g2 = F.round(
            2.0
            * (
                ll(a, (rowt * F.lit(colt)) / F.lit(n))
                + ll(b, (rowt * F.lit(n - colt)) / F.lit(n))
                + ll(c, (F.lit(n) - rowt) * F.lit(colt) / F.lit(n))
                + ll(d, (F.lit(n) - rowt) * F.lit(n - colt) / F.lit(n))
            ),
            6,
        )
        return (
            fg.join(rowt_tbl, "term")
            .filter(
                ~F.col("term").isin(present)
                & (a * F.lit(n - colt) > b * F.lit(colt))
            )
            .select(
                "term",
                a.cast("long").alias("fg_count"),
                b.cast("long").alias("bg_count"),
                g2.alias("g2"),
            )
            .orderBy(F.desc("g2"), F.asc("term"))
            .limit(k)
        )

    def search_synonym(
        self, groups: list[list[str]], k: int = 10
    ) -> DataFrame:
        """Lucene SynonymQuery per group, groups combined as SHOULD: the
        terms of one group score as ONE pseudo-term — tf is the per-doc
        SUM of the member tfs (blended freq) and df is the MAX of the
        member dfs, exactly SynonymQuery.createWeight's blended
        TermStatistics (docFreq = max, totalTermFreq = sum). Plan: one
        pushed-In(term) postings scan over all member terms, a broadcast
        (term -> group, group idf) join, a (doc, group) partial-agg sum
        blending tfs, BM25 on the blended tf, then the SHOULD sum per doc
        — all JVM, top-k is TakeOrderedAndProject."""
        norm_groups = [
            sorted({t for g in [grp] for t in self.analyzer.tokenize(" ".join(g))})
            for grp in groups
        ]
        all_terms = sorted({t for g in norm_groups for t in g})
        dfs = self._term_stats(all_terms)
        rows = []
        for gid, g in enumerate(norm_groups):
            present = [t for t in g if t in dfs]
            if not present:
                continue
            g_idf = idf(self.num_docs, max(dfs[t] for t in present))
            rows.extend((gid, t, g_idf) for t in present)
        if not rows:
            return _empty(self.spark, "doc_id long, score double")
        qterms = F.broadcast(
            self.spark.createDataFrame(rows, "gid int, term string, idf double")
        )
        decoded = self._decoded(self._matching_postings([r[1] for r in rows]))
        blended = (
            decoded.join(qterms, "term")
            .groupBy("doc_id", "gid")
            .agg(
                F.sum("tf").cast("double").alias("tf"),
                F.first("dl").alias("dl"),
                F.first("idf").alias("idf"),
            )
        )
        return _top(
            blended.withColumn("_s", _bm25(F.col("idf"), self.avgdl))
            .groupBy("doc_id")
            .agg(F.sum("_s").alias("score")),
            k,
        )

    def search_lm(
        self,
        query: str,
        k: int = 10,
        similarity: str = "dirichlet",
        mu: float = 2000.0,
        lam: float = 0.7,
    ) -> DataFrame:
        """Language-model similarities over the postings (Lucene
        LMDirichletSimilarity / LMJelinekMercerSimilarity; Zhai & Lafferty
        2001). Per present query term, with collection model
        p(t|C) = (cf + 1) / (total_tokens + 1) (Lucene
        LMSimilarity.computeProbability's +1 smoothing):

        * dirichlet: max(0, ln(1 + tf/(mu*p)) + ln(mu/(dl + mu))) — the
          per-term clamp-to-0 is Lucene's.
        * jm: ln(1 + ((1-lam) * tf/dl) / (lam * p)) — always >= 0.

        Candidates are docs containing >= 1 query term (Lucene's
        disjunction iterator); same broadcast-join + partial-agg plan as
        BM25 dataframe scoring, only the score expression changes. WAND
        block-max metadata is BM25-specific, so LM queries use full
        DataFrame scoring — work is still ∝ query postings, never the
        corpus."""
        if similarity not in ("dirichlet", "jm"):
            raise ValueError(f"unknown LM similarity: {similarity}")
        terms = sorted(set(self.analyzer.tokenize(query)))
        stats = self._term_stats_full(terms)
        total = float(self.sum_dl)
        rows = [
            (t, (stats[t][1] + 1.0) / (total + 1.0))
            for t in terms
            if t in stats
        ]
        tf = F.col("tf").cast("double")
        dl = F.col("dl").cast("double")
        if similarity == "dirichlet":
            s = F.greatest(
                F.lit(0.0),
                F.log(F.lit(1.0) + tf / (F.lit(mu) * F.col("p")))
                + F.log(F.lit(mu) / (dl + F.lit(mu))),
            )
        else:
            s = F.log(
                F.lit(1.0)
                + (F.lit(1.0 - lam) * tf / dl) / (F.lit(lam) * F.col("p"))
            )
        return self._similarity_topk(rows, "p", s, k)

    def search_classic(self, query: str, k: int = 10) -> DataFrame:
        """Lucene ClassicSimilarity (the pre-6.x TFIDFSimilarity default):
        per present term sqrt(tf) * idf^2 / sqrt(dl) with
        idf = 1 + ln(num_docs / (df + 1)); idf appears squared because it
        enters both the query weight and the term weight (queryNorm and
        coord were removed in Lucene 7, so this IS the full formula).
        Deviation, documented: Lucene's norm is the lossy byte-encoded
        1/sqrt(dl) — this keeps the exact value instead of quantizing.
        Same broadcast-join scoring plan as BM25."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        dfs = self._term_stats(terms)
        rows = [
            (t, (1.0 + math.log(self.num_docs / (dfs[t] + 1.0))) ** 2)
            for t in terms
            if t in dfs
        ]
        s = (
            F.sqrt(F.col("tf").cast("double"))
            * F.col("idf2")
            / F.sqrt(F.col("dl").cast("double"))
        )
        return self._similarity_topk(rows, "idf2", s, k)

    def search_dfr(self, query: str, k: int = 10, c: float = 1.0) -> DataFrame:
        """Divergence-from-randomness ranking, the Lucene
        DFRSimilarity(BasicModelIN, AfterEffectL, NormalizationH2)
        composition (Amati & van Rijsbergen 2002) — "InL2" in Terrier
        naming. Per present query term:

        * H2 length normalization: tfn = tf * log2(1 + c * avgdl / dl)
        * I(n) basic model: inf = tfn * log2((N + 1) / (df + 0.5))
        * L after-effect: 1 / (tfn + 1)
        * score contribution = inf / (tfn + 1)

        Same broadcast-join + partial-agg plan as the other DataFrame
        similarities — only the score expression changes; work is ∝ query
        postings. (WAND block-max metadata is BM25-specific, so DFR uses
        full DataFrame scoring.)"""
        terms = sorted(set(self.analyzer.tokenize(query)))
        dfs = self._term_stats(terms)
        rows = [
            (t, math.log2((self.num_docs + 1.0) / (dfs[t] + 0.5)))
            for t in terms
            if t in dfs
        ]
        tfn = F.col("tf").cast("double") * F.log2(
            F.lit(1.0) + F.lit(c * (self.avgdl or 1.0)) / F.col("dl").cast("double")
        )
        s = tfn * F.col("log2in") / (tfn + F.lit(1.0))
        return self._similarity_topk(rows, "log2in", s, k)

    def search_axiomatic(
        self, query: str, k: int = 10, s: float = 0.5, kidf: float = 0.35
    ) -> DataFrame:
        """Axiomatic retrieval F2EXP (Fang & Zhai, SIGIR 2005; Lucene
        AxiomaticF2EXP with its defaults s=0.5, k=0.35). Per present query
        term (query tf = 1 after dedup, matching the other search paths):

        score contribution = ((N + 1) / df)^k * tf / (tf + s + s * dl / avgdl)

        The (N+1)/df idf base is Lucene's AxiomaticF2EXP variant of the
        paper's N/df. Same broadcast-join + partial-agg plan as the other
        DataFrame similarities."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        dfs = self._term_stats(terms)
        rows = [
            (t, ((self.num_docs + 1.0) / dfs[t]) ** kidf)
            for t in terms
            if t in dfs
        ]
        tf = F.col("tf").cast("double")
        expr = (
            F.col("idfk")
            * tf
            / (tf + F.lit(s) + F.lit(s) * F.col("dl").cast("double") / F.lit(self.avgdl or 1.0))
        )
        return self._similarity_topk(rows, "idfk", expr, k)

    def search_ib(self, query: str, k: int = 10, c: float = 1.0) -> DataFrame:
        """Information-based ranking, the Lucene
        IBSimilarity(DistributionLL, LambdaDF, NormalizationH2)
        composition (Clinchant & Gaussier, SIGIR 2010). Per present query
        term:

        * H2 length normalization: tfn = tf * log2(1 + c * avgdl / dl)
        * LambdaDF: lambda = (df + 1) / (N + 1)
        * DistributionLL: -ln(lambda / (lambda + tfn)) = ln(1 + tfn/lambda)

        lambda is a per-term scalar folded in as a broadcast literal; the
        plan is the same broadcast-join + partial-agg shape as the other
        DataFrame similarities (work ∝ query postings, never the
        corpus)."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        dfs = self._term_stats(terms)
        rows = [
            (t, (dfs[t] + 1.0) / (self.num_docs + 1.0))
            for t in terms
            if t in dfs
        ]
        tfn = F.col("tf").cast("double") * F.log2(
            F.lit(1.0) + F.lit(c * (self.avgdl or 1.0)) / F.col("dl").cast("double")
        )
        s = F.log(F.lit(1.0) + tfn / F.col("lam"))
        return self._similarity_topk(rows, "lam", s, k)

    def search_dfi(self, query: str, k: int = 10) -> DataFrame:
        """Divergence-from-independence ranking, the Lucene
        DFISimilarity(IndependenceChiSquared) composition (Kocabas,
        Dincer & Karaoglan, IR 2014). Per present query term, with the
        term/document independence model over the token contingency
        table:

        * expected = (cf + 1) * dl / (total_tokens + 1)
          (Lucene's +1s on totalTermFreq and numberOfFieldTokens)
        * tf <= expected  ->  0  (a term occurring no more than chance
          contributes nothing — Lucene's early-out)
        * else chi-squared measure = (tf - expected)^2 / expected,
          contribution = log2(measure + 1)

        cf and total are collection scalars (term-dictionary point lookup
        + field_stats broadcast); same broadcast-join + partial-agg plan
        as the other DataFrame similarities."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        stats = self._term_stats_full(terms)
        total = float(self.sum_dl)
        rows = [(t, float(stats[t][1])) for t in terms if t in stats]
        tf = F.col("tf").cast("double")
        expected = (
            (F.col("cf") + F.lit(1.0))
            * F.col("dl").cast("double")
            / F.lit(total + 1.0)
        )
        s = F.when(
            tf > expected,
            F.log2((tf - expected) * (tf - expected) / expected + F.lit(1.0)),
        ).otherwise(F.lit(0.0))
        return self._similarity_topk(rows, "cf", s, k)

    def search_pl2(self, query: str, k: int = 10, c: float = 1.0) -> DataFrame:
        """PL2 ranking — the DFR composition BasicModelP (Poisson) +
        AfterEffectL + NormalizationH2 (Amati & van Rijsbergen 2002),
        Terrier's long-time default and the classic web-search DFR
        model (Lucene dropped BasicModelP in 8.0; this follows
        Terrier's PL2 with the Stirling-approximated Poisson). Per
        present query term, with λ = cf / N (the Poisson rate of the
        term across the collection):

        * H2 length normalization: tfn = tf * log2(1 + c * avgdl / dl)
        * score contribution = (1/(tfn+1)) * (tfn·log2(tfn/λ)
          + (λ − tfn)·log2(e) + 0.5·log2(2π·tfn))

        λ is a per-term scalar (term-dictionary point lookup); same
        broadcast-join + partial-agg plan as the other DataFrame
        similarities — work ∝ query postings, never the corpus."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        stats = self._term_stats_full(terms)
        rows = [
            (t, stats[t][1] / float(self.num_docs))
            for t in terms
            if t in stats and stats[t][1] > 0
        ]
        log2e = 1.0 / math.log(2.0)
        tfn = F.col("tf").cast("double") * F.log2(
            F.lit(1.0) + F.lit(c * (self.avgdl or 1.0)) / F.col("dl").cast("double")
        )
        s = (
            tfn * F.log2(tfn / F.col("lam"))
            + (F.col("lam") - tfn) * F.lit(log2e)
            + F.lit(0.5) * F.log2(F.lit(2.0 * math.pi) * tfn)
        ) / (tfn + F.lit(1.0))
        return self._similarity_topk(rows, "lam", s, k)

    def search_dph(self, query: str, k: int = 10) -> DataFrame:
        """DPH ranking — the parameter-free hypergeometric DFR model
        (Amati 2006, 'Frequentist and Bayesian approach to Information
        Retrieval'; Terrier DPH). Per present query term, with
        f = tf / dl:

        * norm = (1 − f)² / (tf + 1)
        * score contribution = norm · (tf·log2((tf·avgdl/dl)·(N/cf))
          + 0.5·log2(2π·tf·(1 − f)))

        Deviation from Terrier: a one-token-repeated document (tf = dl,
        f = 1) would take log2(0) = −∞; this implementation defines the
        contribution as 0 there (the norm factor is already 0), mirrored
        exactly in the corpus twin. No tunable parameter — cf and N are
        collection scalars; same broadcast-join + partial-agg plan as
        the other DataFrame similarities."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        stats = self._term_stats_full(terms)
        rows = [
            (t, float(stats[t][1]))
            for t in terms
            if t in stats and stats[t][1] > 0
        ]
        tf = F.col("tf").cast("double")
        dl = F.col("dl").cast("double")
        f = tf / dl
        norm = (F.lit(1.0) - f) * (F.lit(1.0) - f) / (tf + F.lit(1.0))
        s = F.when(
            tf < dl,
            norm
            * (
                tf
                * F.log2(
                    tf
                    * F.lit(self.avgdl or 1.0)
                    / dl
                    * F.lit(float(self.num_docs))
                    / F.col("cf")
                )
                + F.lit(0.5) * F.log2(F.lit(2.0 * math.pi) * tf * (F.lit(1.0) - f))
            ),
        ).otherwise(F.lit(0.0))
        return self._similarity_topk(rows, "cf", s, k)

    def search_function_score(
        self,
        query: str,
        k: int = 10,
        origin=None,
        half_life_days: float = 180.0,
        ts_col: str = "ts",
    ) -> DataFrame:
        """FunctionScoreQuery in multiply mode (Lucene FunctionScoreQuery /
        the ES function_score exp-decay recipe): BM25 disjunctive score ×
        exp(-ln2/half_life * age), age = max(0, origin - ts) from the
        stored ``ts_col``. ``origin=None`` uses the corpus max timestamp
        (one min/max agg over the column-pruned stored scan).

        Scale shape: BM25 candidates are postings-sized (broadcast qterms
        + pushed In(term), same as the dataframe scorer); the boost join
        reads ONLY (doc_id, ts) from stored (column-pruned) and joins on
        doc_id BEFORE top-k — the decay must reorder candidates, so it
        cannot be applied after the limit."""
        rows = self._idf_rows(sorted(set(self.analyzer.tokenize(query))))
        if not rows:
            return _empty(self.spark, "doc_id long, score double")
        cand = self._weighted_or_frame(rows).withColumnRenamed("score", "_bm25")
        if not half_life_days > 0:
            raise ValueError(
                f"half_life_days must be > 0, got {half_life_days}"
            )
        stored = self.cat.read(self.spark, "stored").select("doc_id", ts_col)
        if origin is None:
            origin = stored.agg(F.max(ts_col)).collect()[0][0]
            if origin is None:
                raise ValueError(
                    f"stored column '{ts_col}' is all-NULL; pass an "
                    "explicit origin or use plain search()"
                )
        rate = math.log(2.0) / (half_life_days * 86400.0)
        age = F.greatest(
            F.lit(0.0),
            F.lit(origin).cast("timestamp").cast("double")
            - F.col(ts_col).cast("double"),
        )
        return (
            cand.join(stored, "doc_id")
            .withColumn("score", F.col("_bm25") * F.exp(-F.lit(rate) * age))
            .select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_tree(self, node: dict, k: int = 10) -> DataFrame:
        """Arbitrarily NESTED BooleanQuery trees (Lucene BooleanQuery as a
        clause of another BooleanQuery — the parser's flat subset can't
        express ``a AND (b OR c)``; this can). Node forms:

        * ``{"term": t, "boost": b}`` — BM25-scored term leaf
        * ``{"and": [nodes]}`` — every child matches; score = Σ children
        * ``{"or": [nodes]}`` — >= 1 child matches; score = Σ MATCHING
          children (Lucene's disjunction sum)
        * ``{"not": {"base": node, "exclude": node}}`` — base minus docs
          matching exclude; exclude never scores (pure MUST_NOT)

        Scale shape: each term leaf is a pushed-``In(term)`` postings
        read scored in place; AND is an inner join, OR a union +
        groupBy-sum, NOT an anti join — all on doc_id over postings-sized
        frames, so the tree compiles to a join dag of pruned scans, never
        a corpus pass."""
        terms = sorted(set(self._tree_terms(node)))
        dfs = self._term_stats(terms)
        frame = self._tree_frame(node, dfs)
        if frame is None:
            return _empty(self.spark, "doc_id long, score double")
        return (
            frame.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _tree_terms(self, node: dict) -> list[str]:
        if "term" in node:
            return self.analyzer.tokenize(node["term"])
        if "and" in node:
            return [t for c in node["and"] for t in self._tree_terms(c)]
        if "or" in node:
            return [t for c in node["or"] for t in self._tree_terms(c)]
        if "not" in node:
            return self._tree_terms(node["not"]["base"]) + self._tree_terms(
                node["not"]["exclude"]
            )
        raise ValueError(f"unknown query-tree node: {sorted(node)}")

    def _tree_frame(self, node: dict, dfs: dict) -> DataFrame | None:
        """(doc_id, score) frame for a subtree, or None for no matches."""
        if "term" in node:
            toks = self.analyzer.tokenize(node["term"])
            if len(toks) != 1:
                raise ValueError(
                    f"tree term leaf must analyze to one term: {node['term']!r}"
                )
            t = toks[0]
            if t not in dfs:
                return None
            w = idf(self.num_docs, dfs[t]) * float(node.get("boost", 1.0))
            decoded = self._decoded(self._matching_postings([t]))
            return decoded.select("doc_id", _bm25(w, self.avgdl).alias("score"))
        if "and" in node:
            out = None
            for c in node["and"]:
                f = self._tree_frame(c, dfs)
                if f is None:
                    return None
                if out is None:
                    out = f
                else:
                    out = (
                        out.withColumnRenamed("score", "_sl")
                        .join(f.withColumnRenamed("score", "_sr"), "doc_id")
                        .select(
                            "doc_id",
                            (F.col("_sl") + F.col("_sr")).alias("score"),
                        )
                    )
            return out
        if "or" in node:
            frames = [self._tree_frame(c, dfs) for c in node["or"]]
            frames = [f for f in frames if f is not None]
            if not frames:
                return None
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            return out.groupBy("doc_id").agg(F.sum("score").alias("score"))
        if "not" in node:
            base = self._tree_frame(node["not"]["base"], dfs)
            if base is None:
                return None
            excl = self._tree_frame(node["not"]["exclude"], dfs)
            if excl is None:
                return base
            return base.join(excl.select("doc_id"), "doc_id", "left_anti")
        raise ValueError(f"unknown query-tree node: {sorted(node)}")

    def search_rescore(
        self,
        query: str,
        phrase: str,
        k: int = 10,
        window: int = 50,
        weight: float = 2.0,
    ) -> DataFrame:
        """Two-phase ranking (Lucene QueryRescorer / the ES rescore API):
        a cheap BM25 first pass selects the top-``window`` candidates,
        then the expensive phrase scorer runs ON THOSE ONLY and the final
        order is ``bm25 + weight * phrase_bm25`` within the window.

        Scale shape: phase 1 is the normal postings-pruned BM25 top-k
        (window-sized TakeOrdered); phase 2's positions work — the
        expensive part — reads ONLY the window docs' term_vectors rows
        (pushed In(doc_id) on the window-sized candidate list), never
        the full phrase-match set. The window is cut on first-pass scores
        rounded to 6 dp (``_rounded_window``) so the candidate set is
        deterministic.
        The two-term ``phrase`` is scored with exact-adjacency PhraseQuery
        BM25 (tf = phrase freq, idf = Σ per-term idf)."""
        terms = self.analyzer.tokenize(phrase)
        if len(terms) != 2:
            raise ValueError("rescore phrase must analyze to two terms")
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "rescore needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        win = self._rounded_window(query, window, "dataframe")
        if not win:
            return _empty(self.spark, "doc_id long, score double")
        first = self.spark.createDataFrame(
            [(d, s1) for s1, d in win], "doc_id long, _s1 double"
        )
        cand = [d for _, d in win]  # window-bounded
        dfs = self._term_stats(terms)
        ph = None
        if terms[0] in dfs and terms[1] in dfs:
            idf_total = idf(self.num_docs, dfs[terms[0]]) + idf(
                self.num_docs, dfs[terms[1]]
            )
            tv = self.cat.read(self.spark, "term_vectors").filter(
                F.col("doc_id").isin(cand)  # pushed In(doc_id), window-sized
            )
            pa = tv.filter(F.col("term") == terms[0]).select(
                "doc_id", F.col("positions").alias("_pa")
            )
            pb = tv.filter(F.col("term") == terms[1]).select(
                "doc_id", F.col("positions").alias("_pb")
            )
            tf_col = F.size(
                F.filter(
                    F.col("_pa"),
                    lambda p0: F.exists(F.col("_pb"), lambda p1: p1 == p0 + 1),
                )
            ).cast("double")
            dl_tbl = self.cat.read(self.spark, "doc_lens").select(
                "doc_id", "dl"
            )
            ph = (
                pa.join(pb, "doc_id")
                .withColumn("tf", tf_col)
                .filter(F.col("tf") > 0)
                .join(dl_tbl, "doc_id")
                .select("doc_id", _bm25(idf_total, self.avgdl).alias("_s2"))
            )
        out = first
        if ph is not None:
            out = first.join(ph, "doc_id", "left")
        else:
            out = first.withColumn("_s2", F.lit(None).cast("double"))
        return (
            out.select(
                "doc_id",
                (
                    F.col("_s1")
                    + F.lit(weight) * F.coalesce(F.col("_s2"), F.lit(0.0))
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def _rounded_window(
        self, query: str, window: int, method: str
    ) -> list[tuple[float, int]]:
        """The first ``window`` (_round6(score), doc_id) pairs of the
        query's matches in (rounded score DESC, doc_id ASC) order — the
        oracle's ``ORDER BY round(s, 6) DESC, doc_id LIMIT window``.

        Fetches the exact top-k2 (k2 = 2 * window, doubling) until the
        cut is provably complete: every unfetched doc scores <= the last
        fetched exact score and rounding is monotone, so once that score
        rounds strictly below the boundary value at position ``window``
        no unfetched doc can tie into the window. A fetch shorter than
        k2 is the whole match set. Growth happens only on ties at the
        boundary; the first pass almost always suffices."""
        k2 = 2 * window
        while True:
            fetched = (
                self.search(query, k=k2, method=method)
                .select("doc_id", "score")
                .collect()
            )
            ranked = sorted(
                ((_round6(r["score"]), r["doc_id"]) for r in fetched),
                key=lambda t: (-t[0], t[1]),
            )
            if len(fetched) < k2 or (
                _round6(min(r["score"] for r in fetched)) < ranked[window - 1][0]
            ):
                return ranked[:window]
            k2 *= 2

    def count(self, query: str) -> int:
        """Lucene IndexSearcher.count: how many docs match >= 1 query term
        — no scoring, no ranking, just the pushed-In(term) postings scan
        and a distinct count."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        stats = self._term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return 0
        return (
            self._decoded(self._matching_postings(present))
            .select("doc_id")
            .distinct()
            .count()
        )

    def search_tiered(
        self,
        query: str,
        k: int = 10,
        window: int = 50,
        tier_table: str = "postings_pruned64",
        method: str = "wand",
    ) -> DataFrame:
        """Tiered retrieval — the production pattern a statically pruned
        tier (index/pruning.py) exists for: the cheap first pass runs on
        the bounded tier (worst-case O(|q|·P) postings touched) and
        selects the top-``window`` candidates; the second pass rescores
        ONLY those candidates with EXACT full-index BM25 (pushed
        In(doc_id) on the window-sized list), so the returned top-k
        scores are bit-identical to the unpruned engine's for every doc
        that survives the window. The window cut itself is taken in
        (_round6(score) DESC, doc_id ASC) order over the WHOLE tier
        (``_rounded_window``, shared with search_rescore), so the
        candidate set matches the oracle's LIMIT-over-rounded window even
        when a 6 dp tie straddles the boundary. At 10^12 turns
        the first pass reads ~|q|·P postings instead of the full lists
        and the exact pass is window-bounded — query cost is corpus-size
        independent end to end."""
        tier = Searcher(
            self.spark,
            self.cat.root,
            analyzer=self.analyzer,
            postings_table=tier_table,
        )
        cand = [d for _, d in tier._rounded_window(query, window, method)]
        if not cand:
            return _empty(
                self.spark, "doc_id long, score double, rank int"
            )
        # _idf_rows drops terms absent from the index, so a mixed query
        # (indexed + OOV terms) rescores on the indexed ones only
        rows = self._idf_rows(sorted(set(self.analyzer.tokenize(query))))
        out = _top(
            self._weighted_or_frame(rows).filter(
                F.col("doc_id").isin(cand)  # window-sized
            ),
            k,
        )
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return out.withColumn("rank", F.row_number().over(w))

    def search_after(
        self,
        query: str,
        after_score: float,
        after_doc_id: int,
        k: int = 10,
    ) -> DataFrame:
        """Cursor pagination (Lucene IndexSearcher.searchAfter): the next
        ``k`` results strictly after the (score, doc_id) cursor in the
        (score desc, doc_id asc) total order. Deep paging without the
        OFFSET anti-pattern — page N never recomputes or transfers pages
        1..N-1; the cursor predicate is one comparison folded into the
        same scored scan, so every page costs the same as page one."""
        rows = self._idf_rows(sorted(set(self.analyzer.tokenize(query))))
        if not rows:
            return _empty(self.spark, "doc_id long, score double")
        cursor = (F.col("score") < F.lit(after_score)) | (
            (F.col("score") == F.lit(after_score))
            & (F.col("doc_id") > F.lit(after_doc_id))
        )
        # the cursor prunes BEFORE the ordered top-k heap
        return _top(self._weighted_or_frame(rows).filter(cursor), k)

    def search_sorted(
        self,
        query: str,
        sort_col: str,
        k: int = 10,
        ascending: bool = False,
    ) -> DataFrame:
        """Sort-by-field retrieval (Lucene Sort/SortField, e.g. newest
        first): docs matching >= 1 query term ordered by a stored column
        instead of relevance, doc_id tiebreak. Matching-doc set work ∝
        query postings; the stored sort-key join is column-pruned to
        (doc_id, sort_col); top-k compiles to TakeOrderedAndProject, no
        global sort of the corpus.

        When the query sort MATCHES the index sort (IndexBuilder
        sort_cols/sort_desc, Lucene IndexWriterConfig.setIndexSort),
        this early-terminates exactly like Lucene's TopFieldCollector
        over a sorted index: docID order == sort order, so the top-k
        are simply the k smallest matching docIDs — taken from the
        query's own postings — and the stored table is touched for
        exactly k rows via a pushed In(doc_id) point fetch. The corpus
        is never joined or sorted. Identical results to the generic
        path (the k-smallest-docID set == limit k under
        (value direction, doc_id asc), since doc_id rank IS that
        order); asserted in tests/test_index_sort.py."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        stats = self._term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return _empty(self.spark, f"doc_id long, {sort_col} string")
        matching = (
            self._decoded(self._matching_postings(present))
            .select("doc_id")
            .distinct()
        )
        counters = self.cat.manifest("stored").get("counters", {})
        isort = counters.get("index_sort") or []
        idesc = counters.get("index_sort_desc") or []
        if (
            isort
            and isort[0] == sort_col
            and bool(idesc[0] if idesc else False) == (not ascending)
        ):
            ids = [
                r["doc_id"]
                for r in matching.orderBy(F.asc("doc_id")).limit(k).collect()
            ]
            fetched = (
                self.cat.read(self.spark, "stored")
                .filter(F.col("doc_id").isin(ids))
                .select("doc_id", sort_col)
            )
            return fetched.orderBy(F.asc("doc_id"))
        stored = self.cat.read(self.spark, "stored").select(
            "doc_id", sort_col
        )
        key = F.asc(sort_col) if ascending else F.desc(sort_col)
        return (
            matching.join(stored, "doc_id")
            .orderBy(key, F.asc("doc_id"))
            .limit(k)
        )

    def search_sloppy_phrase(
        self, term_a: str, term_b: str, slop: int = 2, k: int = 10
    ) -> DataFrame:
        """Two-term sloppy PhraseQuery: fractional phrase frequency
        tf = Σ over ordered position pairs (pa, pb) with pb > pa and gap
        pb - pa - 1 <= slop of 1 / (pb - pa) — weight 1 for adjacency,
        decaying with the gap (the 1/(1 + matchLength) shape of Lucene's
        SloppyPhraseMatcher). Score = (idf_a + idf_b) * BM25 norm with
        the fractional tf, Lucene's sloppy-phrase scoring recipe.
        Documented deviations vs Lucene: ordered matches only, and ALL
        qualifying pairs count (Lucene greedily consumes each position at
        most once).

        Scale shape: positions come from the term_vectors rows of THE TWO
        QUERY TERMS only (df-sized); the pairing is an array HOF per doc;
        dl joins from doc_lens on the candidate doc set."""
        if slop < 0:
            raise ValueError(f"slop must be >= 0, got {slop}")
        a = self.analyzer.tokenize(term_a)
        b = self.analyzer.tokenize(term_b)
        if len(a) != 1 or len(b) != 1:
            raise ValueError(
                "sloppy_phrase clauses must analyze to one term each"
            )
        frame = self._sloppy_phrase_frame(a[0], b[0], int(slop), 1.0)
        if frame is None:
            return _empty(self.spark, "doc_id long, score double")
        return frame.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _sloppy_phrase_frame(
        self, ta: str, tb: str, slop: int, boost: float
    ) -> DataFrame | None:
        """Unlimited (doc_id, score) frame of the two-term sloppy phrase
        (the composable form search_sloppy_phrase and the query-string
        parsers' \"a b\"~N clauses share)."""
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "sloppy_phrase needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        dfs = self._term_stats([ta, tb])
        if ta not in dfs or tb not in dfs:
            return None
        idf_total = idf(self.num_docs, dfs[ta]) + idf(self.num_docs, dfs[tb])
        tv = self.cat.read(self.spark, "term_vectors")
        pa = tv.filter(F.col("term") == ta).select(
            "doc_id", F.col("positions").alias("_pa")
        )
        pb = tv.filter(F.col("term") == tb).select(
            "doc_id", F.col("positions").alias("_pb")
        )
        win = int(slop) + 1
        tf_col = F.aggregate(
            F.col("_pa"),
            F.lit(0.0),
            lambda acc, p0: acc
            + F.aggregate(
                F.filter(
                    F.col("_pb"), lambda p1: (p1 > p0) & (p1 - p0 <= win)
                ),
                F.lit(0.0),
                lambda a2, p1: a2 + F.lit(1.0) / (p1 - p0),
            ),
        )
        dl_tbl = self.cat.read(self.spark, "doc_lens").select("doc_id", "dl")
        scored = (
            self._not_deleted(pa.join(pb, "doc_id"))
            .withColumn("tf", tf_col)
            .filter(F.col("tf") > 0)
            .join(dl_tbl, "doc_id")
        )
        score = _bm25(idf_total * float(boost), self.avgdl)
        return scored.select("doc_id", score.alias("score"))

    def search_sloppy_phrase_multi(
        self, query: str, slop: int = 2, k: int = 10
    ) -> DataFrame:
        """k-term sloppy PhraseQuery (in-order): fractional phrase
        frequency tf = Σ over strictly increasing position tuples
        (p₁ < … < p_k) whose total matchLength L = (p_k − p₁) − (k−1)
        is ≤ slop, of 1/(1 + L) — the exact k=2 case is
        search_sloppy_phrase's pair decay (L = p₂−p₁−1). Score =
        Σ idf(term) · BM25 norm over the fractional tf, same recipe.
        Same documented deviations as the two-term form: in-order only,
        every qualifying tuple counts (Lucene greedily consumes each
        position once).

        Scale shape: positions come from the k query terms'
        term_vectors rows only (df-sized); the tuple fold is a nested
        array HOF per candidate doc with the partial-matchLength prune
        (p_i − p₁ − i ≤ slop) applied at EVERY level, so dead prefixes
        never expand; dl joins from doc_lens on candidates."""
        if slop < 0:
            raise ValueError(f"slop must be >= 0, got {slop}")
        toks = self.analyzer.tokenize(query)
        if len(toks) < 2:
            raise ValueError("sloppy_phrase_multi needs >= 2 analyzed terms")
        if len(toks) == 2:
            frame = self._sloppy_phrase_frame(toks[0], toks[1], int(slop), 1.0)
        else:
            frame = self._sloppy_phrase_frame_multi(toks, int(slop), 1.0)
        if frame is None:
            return _empty(self.spark, "doc_id long, score double")
        return frame.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _sloppy_phrase_frame_multi(
        self, terms: list, slop: int, boost: float
    ) -> DataFrame | None:
        """Unlimited (doc_id, score) frame of the k-term sloppy phrase
        (see search_sloppy_phrase_multi for the tf contract)."""
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "sloppy_phrase needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        kk = len(terms)
        dfs = self._term_stats(sorted(set(terms)))
        if any(t not in dfs for t in terms):
            return None
        idf_total = sum(idf(self.num_docs, dfs[t]) for t in terms)
        tv = self.cat.read(self.spark, "term_vectors")
        cand = None
        for i, t in enumerate(terms):
            p = tv.filter(F.col("term") == t).select(
                "doc_id", F.col("positions").alias(f"_p{i}")
            )
            cand = p if cand is None else cand.join(p, "doc_id")

        def fold(i, prev, first):
            # positions of term i qualifying after `prev` with the
            # partial-matchLength prune vs the tuple's first position
            qual = F.filter(
                F.col(f"_p{i}"),
                lambda p: (p > prev) & (p - first - F.lit(i) <= F.lit(slop)),
            )
            if i == kk - 1:
                return F.aggregate(
                    qual,
                    F.lit(0.0),
                    lambda acc, p: acc
                    + F.lit(1.0) / (p - first - F.lit(kk - 1) + F.lit(1.0)),
                )
            return F.aggregate(
                qual,
                F.lit(0.0),
                lambda acc, p: acc + fold(i + 1, p, first),
            )

        tf_col = F.aggregate(
            F.col("_p0"),
            F.lit(0.0),
            lambda acc, p0: acc + fold(1, p0, p0),
        )
        dl_tbl = self.cat.read(self.spark, "doc_lens").select("doc_id", "dl")
        scored = (
            self._not_deleted(cand)
            .withColumn("tf", tf_col)
            .filter(F.col("tf") > 0)
            .join(dl_tbl, "doc_id")
        )
        score = _bm25(idf_total * float(boost), self.avgdl)
        return scored.select("doc_id", score.alias("score"))

    def search_collapse(
        self, query: str, k: int = 10, collapse_col: str = "conv_id"
    ) -> DataFrame:
        """Field collapsing (Solr collapse / Lucene grouping's
        CollapsingTopDocsCollector): BM25 top-k with AT MOST ONE result
        per ``collapse_col`` group — the best-scoring turn represents its
        conversation, keeping turn identity (unlike search_conversations,
        which aggregates to the conversation level).

        Scale shape: candidates are postings-sized (broadcast qterms +
        pushed In(term)); the group key joins in from stored column-pruned
        to (doc_id, collapse_col); the per-group head is a window over the
        candidate set partitioned by the group key, then global top-k —
        never a corpus-wide window."""
        rows = self._idf_rows(sorted(set(self.analyzer.tokenize(query))))
        if not rows:
            return _empty(
                self.spark, f"doc_id long, {collapse_col} string, score double"
            )
        cand = self._weighted_or_frame(rows)
        stored = self.cat.read(self.spark, "stored").select(
            "doc_id", collapse_col
        )
        head = Window.partitionBy(collapse_col).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            cand.join(stored, "doc_id")
            .withColumn("_rn", F.row_number().over(head))
            .filter(F.col("_rn") == 1)
            .select("doc_id", collapse_col, "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def facet_ranges(
        self,
        query: str,
        facet_col: str,
        width: float,
        k: int = 20,
    ) -> DataFrame:
        """Numeric range faceting (Lucene facet module's
        LongRangeFacetCounts with uniform buckets): histogram of the
        query's matching docs over a stored numeric column, bucket =
        floor(col / width) * width. Matching-doc set work ∝ query
        postings; the stored join is column-pruned to (doc_id,
        facet_col). Returns (bucket, cnt) ordered by bucket."""
        if not width > 0:
            raise ValueError(f"facet width must be > 0, got {width}")
        terms = sorted(set(self.analyzer.tokenize(query)))
        stats = self._term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return _empty(self.spark, "bucket double, cnt long")
        matching = (
            self._decoded(self._matching_postings(present))
            .select("doc_id")
            .distinct()
        )
        stored = self.cat.read(self.spark, "stored").select(
            "doc_id", facet_col
        )
        bucket = (
            F.floor(F.col(facet_col).cast("double") / F.lit(float(width)))
            * F.lit(float(width))
        ).alias("bucket")
        return (
            matching.join(stored, "doc_id")
            .select(bucket)
            .groupBy("bucket")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.asc("bucket"))
            .limit(k)
        )

    def suggest_complete(self, prefix: str, k: int = 10) -> DataFrame:
        """Autocomplete over the term dictionary (Lucene suggest's
        AnalyzingSuggester weight-sort shape, with cf as the weight):
        top-k completions of ``prefix`` ranked cf desc / term asc. A pure
        dictionary range scan — the term-sorted term_stats parquet
        min/max-prunes on the startswith bound; postings are never
        touched."""
        return (
            self.cat.read(self.spark, "term_stats")
            .filter(F.col("term").startswith(prefix.lower()))
            .select("term", "cf")
            .orderBy(F.desc("cf"), F.asc("term"))
            .limit(k)
        )

    def search_multi_phrase(
        self, slots: list[list[str]], k: int = 10
    ) -> DataFrame:
        """Lucene MultiPhraseQuery: slot j of the phrase matches ANY of its
        alternative terms (e.g. [[hash, merge], [join]] = "hash join" OR
        "merge join" at adjacent positions). tf = number of positions p
        where every slot j has a member term at p + j; idf = Σ idf(t) over
        ALL member terms of all slots (MultiPhraseQuery feeds every term's
        TermStatistics to the Similarity); BM25 on the phrase tf — the
        same scoring contract as search_phrase, which is the 1-alternative
        special case. Positions come from the opt-in term_vectors table;
        the per-slot position union and the adjacency check are array HOFs
        over df-sized position lists, never corpus-sized."""
        norm = [
            sorted({t for alt in grp for t in self.analyzer.tokenize(alt)})
            for grp in slots
        ]
        if not norm or any(not g for g in norm):
            raise ValueError("every multi-phrase slot needs >= 1 term")
        if not self.cat.is_committed("term_vectors"):
            raise ValueError(
                "multi_phrase needs term_vectors "
                "(IndexBuilder(store_term_vectors=True))"
            )
        all_terms = sorted({t for g in norm for t in g})
        dfs = self._term_stats(all_terms)
        idf_total = sum(
            idf(self.num_docs, dfs[t]) for t in all_terms if t in dfs
        )
        tv = self.cat.read(self.spark, "term_vectors").filter(
            F.col("term").isin(all_terms)
        )
        # per-slot merged position lists: (doc_id, _p0, _p1, ...)
        merged = None
        for j, g in enumerate(norm):
            pj = (
                tv.filter(F.col("term").isin(g))
                .groupBy("doc_id")
                .agg(
                    F.array_sort(
                        F.flatten(F.collect_list("positions"))
                    ).alias(f"_p{j}")
                )
            )
            merged = pj if merged is None else merged.join(pj, "doc_id")
        # anchor at each slot-0 position; nested exists per later slot
        # (inner HOF lambdas may capture the outer lambda's variable;
        # PySpark reads default-arg params as HOF arity, so bind j via a
        # factory instead of a lambda default)
        def _slot_exists(a, j):
            return F.exists(F.col(f"_p{j}"), lambda p: p == a + j)

        def slot_match(a):
            m = None
            for j in range(1, len(norm)):
                c = _slot_exists(a, j)
                m = c if m is None else m & c
            return m if m is not None else F.lit(True)

        tf_col = F.size(F.filter(F.col("_p0"), slot_match)).cast("double")
        dl_tbl = self.cat.read(self.spark, "doc_lens").select("doc_id", "dl")
        scored = (
            self._not_deleted(merged)
            .withColumn("tf", tf_col)
            .filter(F.col("tf") > 0)
            .join(dl_tbl, "doc_id")
        )
        score = _bm25(idf_total, self.avgdl)
        return _top(scored.select("doc_id", score.alias("score")), k)

    def search_phrase_prefix(
        self, query: str, k: int = 10, max_expansions: int = 50
    ) -> DataFrame:
        """Elasticsearch match_phrase_prefix / Lucene
        MultiPhrasePrefixQuery: the last whitespace word of ``query`` is
        a PREFIX; it expands against the sorted term dictionary to the
        first ``max_expansions`` terms in term order (ES's cap + order),
        and the phrase then scores with MultiPhraseQuery semantics
        (search_multi_phrase: anchor tf over adjacent positions, idf =
        Σ over all member terms). The expansion is a pushed startswith
        range on the term-sorted dictionary — parquet min/max stats skip
        files outside the prefix band, postings are never touched by the
        expansion itself."""
        words = query.split()
        if len(words) < 2:
            raise ValueError("phrase_prefix needs >= 1 lead word + prefix")
        lead = [
            t for w in words[:-1] for t in self.analyzer.tokenize(w)
        ]
        prefix = words[-1].lower()
        exp = [
            r["term"]
            for r in (
                self.cat.read(self.spark, "term_stats")
                .filter(F.col("term").startswith(prefix))
                .select("term")
                .orderBy(F.asc("term"))
                .limit(int(max_expansions))
                .collect()
            )
        ]
        if not lead or not exp:
            return _empty(self.spark, "doc_id long, score double")
        return self.search_multi_phrase([[t] for t in lead] + [exp], k=k)

    def search_batch(
        self,
        queries: Iterable[tuple[int, str, int]],
        method: str = "auto",
    ) -> DataFrame:
        """Batch top-k -> DataFrame(qid, rank, doc_id, score).

        queries: (qid, query_text, k) triples. The per-query analyzed term
        sets + idf weights form a tiny broadcast frame.

        method: "auto" runs block-max WAND in the driver-resident reader
        when its size gate admits the batch's terms, else the Spark
        ``wand`` plan; "wand", "maxscore" and "dataframe" name a Spark
        plan.
        """
        self._refresh()
        return self._search_batch(
            queries, method, ["qid", "rank", "doc_id", "score"]
        )

    def _search_batch(
        self,
        queries: Iterable[tuple[int, str, int]],
        method: str,
        columns: list[str],
    ) -> DataFrame:
        """search_batch projected to ``columns``. A routed result is
        projected in pyarrow before it becomes a driver-held frame
        (``_LocalFrame``): a Spark ``select`` on top of it would build
        the JVM plan that the frame's ``collect`` avoids."""
        if method not in ("auto", "wand", "maxscore", "dataframe"):
            raise ValueError(f"unknown method {method!r}")
        queries = list(queries)
        per_q_terms: dict[int, list[str]] = {
            qid: sorted(set(self.analyzer.tokenize(q))) for qid, q, _ in queries
        }
        ks = {qid: int(k) for qid, _, k in queries}
        all_terms = sorted({t for ts in per_q_terms.values() for t in ts})
        dfs = self._term_stats(all_terms)
        # (qid, term, idf) — only terms that exist in the index
        rows = [
            (qid, t, idf(self.num_docs, dfs[t]))
            for qid, ts in per_q_terms.items()
            for t in ts
            if t in dfs
        ]
        if not rows:
            return _LocalFrame(self.spark, _BATCH_SCHEMA.empty_table().select(columns))
        if method == "auto":
            if self._reader.admits(dfs):
                return _LocalFrame(
                    self.spark, self._reader.search_batch(rows, ks).select(columns)
                )
            method = "wand"
        qterms = F.broadcast(
            self.spark.createDataFrame(rows, "qid int, term string, idf double")
        )
        postings = self._matching_postings(sorted({r[1] for r in rows}))
        if method == "dataframe":
            scored = self._score_dataframe(postings, qterms)
        else:
            scored = self._score_wand(postings, qterms, ks, algo=method)

        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
        k_df = F.broadcast(
            self.spark.createDataFrame(list(ks.items()), "qid int, k int")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .join(k_df, "qid")
            .filter(F.col("rank") <= F.col("k"))
            .select(*columns)
        )

    # ------------------------------------------------------------------ #
    def search_phrase(
        self, phrase: str, k: int = 10, method: str = "auto"
    ) -> DataFrame:
        """Exact-phrase top-k over the INDEX. Lucene PhraseQuery BM25:
        tf = phrase freq, idf = Σ per-term idf. Query terms keep their
        token-stream positions, so the match is valid across stopword
        holes: StopFilter preserves position increments on both sides
        ("silver and gold" matches that text, not "silver gold").

        Two paths (identity-tested in tests/test_phrase.py):

        * ``postings`` (the scale path, chosen by ``auto`` when the
          postings carry positions —
          ``IndexBuilder(store_positions=True)``): positions ride inside
          the (term, shard) posting rows, the adjacency check runs INSIDE
          a per-shard Arrow task. Plan = pushed-In(term) scan -> grouped
          task -> TakeOrdered; no corpus-sized join anywhere
          (plan-guarded in tests/test_plans.py). Under ``auto`` the
          driver-resident reader runs the same kernel without a Spark
          job when its size gate admits the phrase.
        * ``term_vectors``: n-way doc_id join of per-term position lists
          from the opt-in term_vectors table; fine while per-term df is
          modest, but the join sides are df-sized — the reason the
          postings path exists."""
        if method not in ("auto", "postings", "term_vectors"):
            raise ValueError(f"unknown method {method!r}")
        self._refresh()
        terms, offsets = self._phrase_terms(phrase)
        if not terms:
            return _empty(self.spark, "doc_id long, score double")
        routed = method == "auto"
        if routed:
            method = "postings" if has_positions(self.cat) else "term_vectors"
        if method == "postings":
            return self._phrase_postings(terms, offsets, k, routed)
        frame = self._phrase_frame(terms, offsets, 1.0)
        if frame is None:
            return _empty(self.spark, "doc_id long, score double")
        return _top(frame, k)

    def _phrase_terms(self, text: str) -> tuple[list[str], list[int]]:
        """A phrase's analyzed terms and each one's position relative to
        the phrase start, from the analyzer's token stream: a dropped
        stopword keeps its place, as Lucene's query builder keeps the
        position increment."""
        stream = self.analyzer.token_stream(text)
        if not stream:
            return [], []
        start = min(pos for _t, pos, _s, _e in stream)
        return (
            [t for t, _p, _s, _e in stream],
            [pos - start for _t, pos, _s, _e in stream],
        )

    def _phrase_postings(
        self, terms: list[str], offsets: list[int], k: int, routed: bool = False
    ) -> DataFrame:
        """Phrase scoring over the positions in ``postings`` by the
        conjunction kernel ``reader.conjunction_rows``: per shard it
        intersects the docs holding every query term, counts the starts
        p with every term at p + its query offset and emits the
        shard-local BM25 top-k (``_conjunction_plan``). A ``routed`` call
        runs the same kernel in the driver-resident reader when its size
        gate admits the phrase."""
        if not has_positions(self.cat):
            raise ValueError(
                "phrase postings path needs IndexBuilder(store_positions=True)"
            )
        dfs = self._term_stats(terms)
        if any(t not in dfs for t in terms):
            return _empty(self.spark, "doc_id long, score double")
        qterms = [(t, idf(self.num_docs, dfs[t])) for t in terms]
        if routed and self._reader.admits(terms, positions=True):
            hits = self._reader.search_conjunctive(qterms, k, offsets)
            return _LocalFrame(self.spark, hits.select(["doc_id", "score"]))
        return self._conjunction_plan("postings", PHRASE_COLUMNS, qterms, k, offsets)

    # ------------------------------------------------------------------ #
    def _decoded(self, postings: DataFrame) -> DataFrame:
        """(term, doc_id, tf, dl) rows decoded from posting shards,
        tombstoned docs dropped (no-op without deletes)."""
        out = postings.select(
            "term", "doc_ids_enc", "tfs_enc", "dls_enc"
        ).mapInPandas(_decode_postings, _DECODED_SCHEMA)
        return self._not_deleted(out)

    def _score_dataframe(self, postings: DataFrame, qterms: DataFrame) -> DataFrame:
        return (
            self._decoded(postings)
            .join(qterms, "term")  # broadcast: qterms is hinted
            .withColumn("_s", _bm25(F.col("idf"), self.avgdl))
            .groupBy("qid", "doc_id")
            .agg(F.sum("_s").alias("score"))
        )

    def _similarity_topk(
        self, rows: list[tuple[str, float]], col: str, score: Column, k: int
    ) -> DataFrame:
        """Top-k of Σ per-term ``score`` over docs matching >= 1 term —
        the broadcast-join + partial-agg plan every non-BM25 similarity
        shares. ``rows`` are (term, value) pairs for present terms; the
        value is exposed to ``score`` as column ``col``."""
        frame = self._weighted_or_frame(rows, col, score)
        if frame is None:
            return _empty(self.spark, "doc_id long, score double")
        return _top(frame, k)

    def _score_wand(
        self,
        postings: DataFrame,
        qterms: DataFrame,
        ks: dict[int, int],
        algo: str = "wand",
        avgdl: float | None = None,
    ) -> DataFrame:
        """Each (qid, shard)'s local top-k as (qid, doc_id, score) rows:
        ``topk_rows`` per group through ``_pandas_kernel``, scored under
        ``avgdl`` (default the index's own; a federation passes the
        union's)."""
        max_k = max(ks.values()) if ks else 10
        # both dynamic-pruning strategies share the shard/decode harness
        # and are result-identical (tests/test_maxscore.py); see
        # wand.maxscore_topk for when each wins
        topk_fn = (
            wand_mod.maxscore_topk if algo == "maxscore" else wand_mod.wand_topk
        )
        dels = (
            np.fromiter(self.deleted_ids, dtype=np.int64)
            if self.deleted_ids
            else None
        )
        kernel = partial(
            topk_rows,
            k=max_k,
            avgdl=self.avgdl if avgdl is None else avgdl,
            dels=dels,
            topk_fn=topk_fn,
            block_avgdl=self.avgdl,
        )
        # one WAND task per (query, doc-range shard); local top-k per task,
        # global merge is the tiny window in search_batch
        return (
            postings.join(qterms, "term")
            .select(*_TOPK_COLUMNS)
            .groupBy("qid", "shard")
            .applyInPandas(
                _pandas_kernel(kernel, _TOPK_COLUMNS, _TOPK_SCHEMA), _TOPK_SCHEMA
            )
        )


def _decode_postings(batches):
    for pdf in batches:
        if pdf.empty:
            continue
        terms, docs, tfs, dls = [], [], [], []
        for term, d_enc, tf_enc, dl_enc in zip(
            pdf["term"], pdf["doc_ids_enc"], pdf["tfs_enc"], pdf["dls_enc"]
        ):
            d = codec.decode_doc_ids(d_enc)
            terms.append(np.full(d.size, term, dtype=object))
            docs.append(d)
            tfs.append(codec.decode_tfs(tf_enc))
            dls.append(codec.decode_tfs(dl_enc))
        if not docs:
            continue
        yield pd.DataFrame(
            {
                "term": np.concatenate(terms),
                "doc_id": np.concatenate(docs),
                "tf": np.concatenate(tfs).astype(np.int32),
                "dl": np.concatenate(dls).astype(np.int32),
            }
        )


# --------------------------------------------------------------------- #
# Phrase queries (Lucene PhraseQuery semantics)
# --------------------------------------------------------------------- #
def _phrase_tf_expr(full_toks, terms: list[str]):
    """Column: # of positions where the analyzed phrase occurs exactly
    (slop 0). Adjacency is over the FULL token stream — identical to
    Lucene's filtered-stream positions, because StopFilter preserves
    position increments (holes), so "consecutive positions" means
    "adjacent in the unfiltered stream". NB: nested HOFs run interpreted
    in Spark — the scan path uses ``_phrase_tf_udf`` (identical counts,
    one Arrow pass); this is the declarative/SQL-twin form."""
    n = len(terms)
    match_at = lambda i: F.forall(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda j: F.element_at(full_toks, i + j) == F.element_at(
            F.array(*[F.lit(t) for t in terms]), j + 1
        ),
    )
    return F.when(
        F.size(full_toks) >= n,
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(full_toks) - n + 1), match_at
            )
        ),
    ).otherwise(F.lit(0))


def _phrase_tf_udf(terms: list[str], full_analyzer: Analyzer):
    """Arrow UDF: text -> phrase frequency (same contract as
    ``_phrase_tf_expr``, vectorized)."""
    tokenize = full_analyzer.tokenize
    tgt = tuple(terms)
    n = len(tgt)

    @F.pandas_udf(T.IntegerType())
    def _tf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = tokenize(t)
            out.append(
                sum(
                    1
                    for i in range(len(toks) - n + 1)
                    if tuple(toks[i : i + n]) == tgt
                )
            )
        return pd.Series(out, dtype="int32")

    return _tf


def phrase_bm25_topk(
    docs_df: DataFrame,
    phrase: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    analyzer: Analyzer | None = None,
) -> DataFrame:
    """Index-free exact-phrase top-k with Lucene PhraseQuery BM25 scoring:
    tf = phrase frequency, idf = Σ idf(term_i) (BM25Similarity sums the
    per-term idfs for a phrase), dl/avgdl as usual. All JVM expressions —
    the SQL-oracle-comparable path; the index path is
    ``Searcher.search_phrase`` (term_vectors positions)."""
    analyzer = analyzer or STANDARD_ANALYZER
    terms = analyzer.tokenize(phrase)
    if not terms:
        return _empty(docs_df.sparkSession, "doc_id long, score double")
    full = Analyzer(
        lowercase=analyzer.lowercase,
        token_pattern=analyzer.token_pattern,
        stopwords=frozenset(),
    )
    base = docs_df.select(
        F.col(id_col).alias("doc_id"),
        _phrase_tf_udf(terms, full)(F.col(text_col)).alias("tf"),
        F.size(analyzer.tokens_expr(text_col)).alias("dl"),
    )
    stats = base.agg(
        F.count("*").alias("n"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n, avgdl = stats["n"], stats["sum_dl"] / stats["n"]
    # per-term df over the ANALYZED stream (what Lucene's idf uses)
    dt = docs_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(analyzer.tokens_expr(text_col))).alias("term"),
    ).filter(F.col("term").isin(terms))
    dfs = {r["term"]: r["cnt"] for r in dt.groupBy("term").agg(F.count("*").alias("cnt")).collect()}
    idf_sum = sum(idf(n, dfs.get(t, 0)) for t in terms)
    return (
        base.filter(F.col("tf") > 0)
        .select("doc_id", F.round(_bm25(idf_sum, avgdl), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25f_topk(
    docs_df: DataFrame,
    query: str,
    fields: dict[str, float] | None = None,
    k: int = 10,
    id_col: str = "doc_id",
    analyzer: Analyzer | None = None,
) -> DataFrame:
    """Multi-field BM25 top-k ("BM25F-lite": the per-field BM25 sums are
    weighted by field boosts and added — Lucene MultiFieldQueryParser /
    per-field-query semantics, not Robertson's tf-pooling BM25F).
    ``fields`` maps text column -> boost. Each field gets its OWN
    df/dl/avgdl statistics, exactly as Lucene scores one query per field.

    Plan shape mirrors the join-free corpus BM25 path: ONE scan computes
    a per-doc (dl, tf-map) for every field via the Arrow term-counts
    pass; ONE aggregation job returns n + per-field (sum_dl, per-term
    df); the scoring pass folds boost·idf in as literals. No joins, no
    groupBy — top-k is TakeOrderedAndProject."""
    analyzer = analyzer or STANDARD_ANALYZER
    fields = fields or {"text": 1.0}
    fkeys = sorted(fields)
    terms = sorted(set(analyzer.tokenize(query)))
    empty = _empty(docs_df.sparkSession, "doc_id long, score double")
    if not terms:
        return empty
    tc = analyzer.term_counts_udf()
    per_doc = docs_df.select(
        F.col(id_col).alias("doc_id"),
        *[tc(F.col(fname)).alias(f"_tc{i}") for i, fname in enumerate(fkeys)],
    ).select(
        "doc_id",
        *[F.col(f"_tc{i}.dl").cast("double").alias(f"_dl{i}")
          for i in range(len(fkeys))],
        *[F.map_from_arrays(f"_tc{i}.terms", f"_tc{i}.tfs").alias(f"_m{i}")
          for i in range(len(fkeys))],
    )
    aggs = [F.count("*").alias("n")]
    for i in range(len(fkeys)):
        aggs.append(F.sum(f"_dl{i}").alias(f"_sdl{i}"))
        for j, t in enumerate(terms):
            aggs.append(
                F.count(F.col(f"_m{i}")[t]).cast("double").alias(f"_df{i}_{j}")
            )
    row = per_doc.agg(*aggs).collect()[0]
    n = row["n"]
    score, any_match = None, None
    for i, fname in enumerate(fkeys):
        avgdl = ((row[f"_sdl{i}"] or 0.0) / n) or 1.0
        boost = float(fields[fname])
        f_score = None
        for j, t in enumerate(terms):
            dfv = row[f"_df{i}_{j}"]
            if not dfv:
                continue
            w = boost * idf(n, dfv)
            tf = F.col(f"_m{i}")[t].cast("double")
            s_t = F.when(
                tf.isNotNull(), w * bm25_impact(tf, F.col(f"_dl{i}"), avgdl)
            ).otherwise(F.lit(0.0))
            f_score = s_t if f_score is None else f_score + s_t
            m_t = F.col(f"_m{i}")[t]
            any_match = m_t if any_match is None else F.coalesce(any_match, m_t)
        if f_score is not None:
            score = f_score if score is None else score + f_score
    if score is None:
        return empty
    return (
        per_doc.filter(any_match.isNotNull())
        .withColumn("s", score)
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("s", 6).alias("score"))
    )


# --------------------------------------------------------------------- #
# Minimal query-string parser (Lucene classic-syntax subset)
# --------------------------------------------------------------------- #
def parse_query(q: str) -> dict:
    """Parse a Lucene-classic-syntax subset into BooleanQuery clauses:

      +term     -> MUST            -term    -> MUST_NOT
      term^2.5  -> SHOULD w/ boost  term    -> SHOULD
      "a b"     -> exact phrase (only supported as the ENTIRE query)

    Returns {"should": [...], "must": [...], "must_not": [...],
    "boosts": {...}, "phrase": str | None}. Grouping, ranges, and fuzzy
    syntax are served by the dedicated Searcher methods instead.
    """
    q = q.strip()
    if q.startswith('"') and q.endswith('"') and len(q) >= 2:
        return {
            "should": [], "must": [], "must_not": [],
            "boosts": {}, "phrase": q[1:-1],
        }
    if '"' in q:
        raise ValueError(
            'phrases are only supported as the entire query: "..."'
        )
    out = {"should": [], "must": [], "must_not": [], "boosts": {}, "phrase": None}
    for tok in q.split():
        target = "should"
        if tok.startswith("+"):
            target, tok = "must", tok[1:]
        elif tok.startswith("-"):
            target, tok = "must_not", tok[1:]
        if "^" in tok:
            tok, _, b = tok.partition("^")
            out["boosts"][tok.lower()] = float(b)
        if tok:
            out[target].append(tok)
    return out


class MultiSearcher:
    """Lucene MultiReader analogue: one logical search surface over
    SEVERAL built index directories (index generations, per-partition
    builds, per-tenant shards) with GLOBALLY blended statistics —
    exactly how IndexSearcher over a MultiReader scores: idf from the
    union's (N, df), norms from the union's avgdl, docIDs offset by the
    docBase of the preceding readers (reader order = constructor order,
    /root/reference's RawReader opens a DirectoryReader the same way;
    MultiReader is its composition form). A reader's docBase is the sum
    of the preceding readers' maxDoc (``docids.doc_bases``: live docs
    plus the holes a compaction left), so a compacted generation's IDs
    never collide with the next one's; N is the sum of the live counts.

    Invariant (tested): searching a MultiSearcher over a corpus split
    into K indexes is rank- AND score-identical to searching ONE index
    built over the whole corpus, because BM25 depends on the corpus only
    through (N, df_t, avgdl, tf, dl) — all blended exactly.

    Plan: global df is the sum of each member's pushed ``term_stats``
    read (no Spark job), and idf and avgdl come from the union. Each
    member then runs ``Searcher``'s OR kernel, ``topk_rows`` by WAND, on
    the query's (term, global idf) rows over its postings under the
    union's avgdl, with its own tombstones as live docs (the kernel
    scales block maxima stored under a smaller member avgdl, so WAND
    skips only blocks that cannot reach the top-k). The K local top-k
    lists, offset by their docBase, are merged on (score DESC, doc_id
    ASC). Every doc lives in exactly one member, so the union of the
    members' exact top-k holds the global top-k: the merge is exact.

    Harnesses: when the posting row-group bytes the query selects,
    summed over all members, stay under ``reader.MAX_POSTING_BYTES``,
    each member's driver-resident ``IndexReader`` runs the kernel and
    the merge is NumPy's, returned as a driver-held frame
    (``_LocalFrame``) that collects without a Spark job or a JVM call.
    Otherwise each member's Spark plan (``Searcher._score_wand``) runs
    it per (query, shard) group and ``_top`` merges the union. Both run
    the same kernel over the same groups, so they return equal rows,
    scores bit for bit."""

    def __init__(
        self,
        spark: SparkSession,
        index_dirs: list[str],
        analyzer: Analyzer | None = None,
    ):
        if not index_dirs:
            raise ValueError("MultiSearcher needs >= 1 index dir")
        self.spark = spark
        self.analyzer = analyzer or STANDARD_ANALYZER
        self.searchers = [
            Searcher(spark, d, analyzer=self.analyzer) for d in index_dirs
        ]
        self.doc_bases = doc_bases([s.cat for s in self.searchers])[:-1]
        self.num_docs = sum(s.num_docs for s in self.searchers)
        self.sum_dl = sum(s.sum_dl for s in self.searchers)
        self.avgdl = self.sum_dl / self.num_docs if self.num_docs else 1.0

    def _global_dfs(self, terms: list[str]) -> dict[str, int]:
        dfs: dict[str, int] = {}
        for s in self.searchers:
            for t, df_t in s._term_stats(terms).items():
                dfs[t] = dfs.get(t, 0) + df_t
        return dfs

    def facet_keyword(self, fld: str) -> DataFrame:
        """Federated dictionary-only keyword facets: each member index's
        "<field>:*" term_stats band contributes its df, and bucket
        counts ADD across readers (df is per-doc-exact, docs never span
        readers) — so the LSM generation log gets SSDV-style facets
        without touching postings or stored bytes in ANY generation.
        Same contract as Searcher.facet_keyword; union of K vocab-band
        reads + one value groupBy."""
        parts = [s.facet_keyword(fld) for s in self.searchers]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return (
            out.groupBy("value")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("value"))
        )

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Global BM25 top-k. Returns (doc_id, score) with doc_id in the
        union's docBase-offset space (Lucene MultiReader numbering);
        ties break on that global docID ascending. Answered on the
        driver when the size gate admits the query, else by the members'
        Spark plans (class docstring)."""
        terms = sorted(set(self.analyzer.tokenize(query)))
        dfs = self._global_dfs(terms)
        rows = [
            (0, t, idf(self.num_docs, dfs[t])) for t in terms if t in dfs
        ]
        if not rows:
            return _empty(self.spark, "doc_id long, score double")
        present = [t for _, t, _ in rows]
        readers = [s._reader for s in self.searchers]
        sizes = [r.postings.selected_bytes(present) for r in readers]
        if sum(sizes) <= reader_mod.MAX_POSTING_BYTES:
            return self._search_driver(readers, sizes, rows, k)
        qterms = F.broadcast(
            self.spark.createDataFrame(rows, "qid int, term string, idf double")
        )
        parts = [
            s._score_wand(
                s._matching_postings(present), qterms, {0: k}, avgdl=self.avgdl
            ).select((F.col("doc_id") + F.lit(dbase)).alias("doc_id"), "score")
            for s, dbase in zip(self.searchers, self.doc_bases)
        ]
        return _top(reduce(DataFrame.unionByName, parts), k)

    def _search_driver(
        self,
        readers: list[IndexReader],
        sizes: list[int],
        rows: list[tuple[int, str, float]],
        k: int,
    ) -> DataFrame:
        """Each member's WAND top-k under the global (qid, term, idf)
        rows, offset by its docBase, merged on (score DESC, doc_id ASC).
        A member whose row groups hold none of the terms is skipped
        unread."""
        docs, scores = [np.empty(0, np.int64)], [np.empty(0)]
        for r, dbase, size in zip(readers, self.doc_bases, sizes):
            if size:
                hits = r.search_batch(rows, {0: k}, self.avgdl)
                docs.append(hits["doc_id"].to_numpy() + dbase)
                scores.append(hits["score"].to_numpy())
        doc, score = np.concatenate(docs), np.concatenate(scores)
        top = np.lexsort((doc, -score))[:k]
        return _LocalFrame(
            self.spark,
            pa.table(
                {"doc_id": doc[top], "score": score[top]},
                schema=_arrow_schema("doc_id long, score double"),
            ),
        )
