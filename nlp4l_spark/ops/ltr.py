"""Learning-to-rank support (SURVEY.md §2.11 / §3.3).

Reference semantics: feature extraction round-trips to an external Solr LTR
endpoint per (qid, doc) (/root/reference/app/org/nlp4l/ltr/support/procs/
FeatureExtractor.scala:50-119); trainers are PRank (online ordinal
regression, PRankTrainer.scala:66-117) and RankingSVM (pairwise
difference-vector transform + linear SVM, RankingSVMTrainer.scala:39-92).

Rebuild:
* extract_features — the external Solr dependency is replaced by OUR index:
  per-(qid, doc) features (BM25 score, sum tf, sum idf, dl, matched-terms)
  come straight from the doc_terms/doc_lens frames and the same BM25
  formula. One scan + broadcast of the query set.
* PRank — faithful single-node reimplementation of the online algorithm
  (it is inherently sequential; the reference also runs it on one thread).
  Deterministic via seeded RNG.
* ranking_svm_pairwise — the pairwise transform as a DataFrame self-join
  per qid (the reference materializes all pairs on the driver), ready for
  pyspark.ml LinearSVC.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from nlp4l_spark.analysis import STANDARD_ANALYZER
from nlp4l_spark.index.bm25 import bm25_impact, idf as bm25_idf
from nlp4l_spark.stats import Corpus


def extract_features(
    corpus: Corpus, queries: list[tuple[int, str]]
) -> DataFrame:
    """(qid, doc_id, bm25, sum_tf, sum_idf, dl, n_matched) per query-doc
    pair with >= 1 matching term — the feature-vector shape of
    DocFeature(fid, qid, docid, value) rows."""
    spark = corpus.df.sparkSession
    dt = corpus.doc_terms()
    dl = corpus.doc_lens()
    stats = dl.agg(F.count("*").alias("n"), F.sum("dl").alias("s")).collect()[0]
    n, avgdl = int(stats["n"]), stats["s"] / stats["n"]

    q_terms = [
        (qid, t)
        for qid, q in queries
        for t in sorted(set(STANDARD_ANALYZER.tokenize(q)))
    ]
    all_terms = sorted({t for _, t in q_terms})
    dfm = {
        r["term"]: r["df"]
        for r in dt.filter(F.col("term").isin(all_terms))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .collect()
    }
    rows = [
        (qid, t, bm25_idf(n, dfm[t])) for qid, t in q_terms if t in dfm
    ]
    if not rows:
        return spark.createDataFrame(
            [], "qid int, doc_id long, bm25 double, sum_tf long, "
                "sum_idf double, dl int, n_matched int",
        )
    qdf = F.broadcast(spark.createDataFrame(rows, "qid int, term string, idf double"))
    return (
        dt.join(qdf, "term")
        .join(dl, "doc_id")
        .withColumn("_s", F.col("idf") * bm25_impact(F.col("tf"), F.col("dl"), avgdl))
        .groupBy("qid", "doc_id")
        .agg(
            F.sum("_s").alias("bm25"),
            F.sum("tf").alias("sum_tf"),
            F.sum("idf").alias("sum_idf"),
            F.first("dl").alias("dl"),
            F.count("*").alias("n_matched"),
        )
    )


class PRank:
    """Online PRank ordinal-regression (PRankTrainer.scala:66-117):
    maxLabel ordered ranks, weight vector + thresholds b, random sample
    each iteration. Faithful including the b[last]=+inf sentinel."""

    def __init__(self, feature_num: int, max_label: int, seed: int = 42):
        self.w = np.zeros(feature_num)
        self.b = np.zeros(max_label)
        self.b[max_label - 1] = np.finfo(np.float32).max
        self.max_label = max_label
        self.rng = np.random.RandomState(seed)

    def train(self, x: np.ndarray, y: np.ndarray, num_iterations: int = 2000):
        n_thresh = self.max_label - 1
        for _ in range(1, num_iterations):
            t0 = self.rng.randint(len(x))
            f = float(self.w @ x[t0])
            if self._predict(f) != y[t0]:
                yt = np.where(y[t0] <= np.arange(1, n_thresh + 1), -1, 1)
                tau = np.where((f - self.b[:n_thresh]) * yt <= 0, yt, 0)
                self.w = self.w + tau.sum() * x[t0]
                self.b[:n_thresh] = self.b[:n_thresh] - tau
        return self.w, self.b[:n_thresh].copy()

    def _predict(self, f: float) -> int:
        for r in range(self.max_label):
            if f - self.b[r] < 0:
                return r + 1
        return self.max_label

    def predict(self, x: np.ndarray) -> int:
        return self._predict(float(self.w @ x))


def ranking_svm_pairwise(
    features: DataFrame,
    qid_col: str = "qid",
    label_col: str = "label",
    feature_cols: list[str] | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Pairwise difference-vector transform (RankingSVMTrainer.scala:48-63):
    per qid, for each doc pair with different labels emit
    (higher - lower) feature difference labeled 1. As a self-join per qid
    (distributed; the reference collects all combinations driver-side).
    With ``id_col`` the output carries (id_hi, id_lo) so pairs are
    addressable (and SQL-oracle comparable)."""
    feature_cols = feature_cols or [
        c
        for c in features.columns
        if c not in (qid_col, label_col) and c != id_col
    ]
    a = features.alias("a")
    b = features.alias("b")
    pairs = a.join(
        b,
        (F.col(f"a.{qid_col}") == F.col(f"b.{qid_col}"))
        & (F.col(f"a.{label_col}") > F.col(f"b.{label_col}")),
    )
    diff_cols = [
        (F.col(f"a.{c}") - F.col(f"b.{c}")).alias(f"d_{c}") for c in feature_cols
    ]
    id_cols = (
        [
            F.col(f"a.{id_col}").alias("id_hi"),
            F.col(f"b.{id_col}").alias("id_lo"),
        ]
        if id_col
        else []
    )
    return pairs.select(
        F.col(f"a.{qid_col}").alias(qid_col),
        *id_cols,
        F.lit(1).alias("label"),
        *diff_cols,
    )


def rank_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    qid_col: str = "qid",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    max_grade: int = 2,
) -> DataFrame:
    """Standard IR evaluation over ranked results vs graded judgments:
    per query nDCG@k (exponential gain, log2 discount), MRR, P@k
    (binary rel > 0), AP@k, and ERR@k (Chapelle et al., CIKM 2009
    cascade model: R_i = (2^rel - 1)/2^max_grade, ERR = Σ R_i/i ·
    Π_{j<i}(1-R_j); R < 1 always since rel <= max_grade, so the cascade
    product is an exact exp-of-sum-of-logs window) — the metrics the
    reference's LTR loop optimizes for (SURVEY §2.11; trec_eval
    definitions).

    ``results``: (qid, doc_id, rank) with 1-based ranks.
    ``qrels``: (qid, doc_id, rel) graded relevance; missing pairs = 0.

    IDCG uses the ideal ordering of ALL judged docs for the query,
    truncated at k. Output: one row per qid with round-6 doubles.

    Scale shape: results/qrels are query-set-sized (≪ corpus). One join
    on (qid, doc), one window per qid for the ideal ordering, one
    aggregation — no corpus scans.
    """
    from pyspark.sql import Window

    res = (
        results.filter(F.col(rank_col) <= k)
        .select(qid_col, doc_col, rank_col)
        .join(qrels.select(qid_col, doc_col, rel_col), [qid_col, doc_col], "left")
        .withColumn("_rel", F.coalesce(F.col(rel_col), F.lit(0)).cast("double"))
    )
    gain = (F.pow(F.lit(2.0), F.col("_rel")) - 1.0) / F.log2(
        F.col(rank_col).cast("double") + 1.0
    )
    hit = (F.col("_rel") > 0).cast("double")
    w_ap = (
        Window.partitionBy(qid_col)
        .orderBy(rank_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prec_at_i = F.sum(hit).over(w_ap) / F.col(rank_col).cast("double")
    r_i = (F.pow(F.lit(2.0), F.col("_rel")) - 1.0) / F.lit(
        float(2 ** max_grade)
    )
    w_prev = (
        Window.partitionBy(qid_col)
        .orderBy(rank_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cascade = F.exp(
        F.coalesce(F.sum(F.log(F.lit(1.0) - r_i)).over(w_prev), F.lit(0.0))
    )
    per_hit = (
        res.withColumn("_g", gain)
        .withColumn("_ap_term", prec_at_i * hit)
        .withColumn(
            "_err_term", r_i / F.col(rank_col).cast("double") * cascade
        )
    )
    got = per_hit.groupBy(qid_col).agg(
        F.sum("_g").alias("_dcg"),
        F.sum(hit).alias("_nrel_ret"),
        F.min(F.when(F.col("_rel") > 0, F.col(rank_col))).alias("_first_rel"),
        F.sum("_ap_term").alias("_ap_sum"),
        F.sum("_err_term").alias("_err"),
    )
    # ideal DCG from the judged set (top-k by rel desc, doc asc tiebreak)
    w_ideal = Window.partitionBy(qid_col).orderBy(
        F.desc(rel_col), F.asc(doc_col)
    )
    ideal = (
        qrels.filter(F.col(rel_col) > 0)
        .withColumn("_irank", F.row_number().over(w_ideal))
        .filter(F.col("_irank") <= k)
        .groupBy(qid_col)
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col(rel_col).cast("double")) - 1.0)
                / F.log2(F.col("_irank").cast("double") + 1.0)
            ).alias("_idcg"),
            F.count("*").alias("_nrel_k"),
        )
    )
    nrel_total = (
        qrels.filter(F.col(rel_col) > 0)
        .groupBy(qid_col)
        .agg(F.count("*").alias("_nrel"))
    )
    out = (
        got.join(ideal, qid_col, "left")
        .join(nrel_total, qid_col, "left")
        .select(
            qid_col,
            F.round(
                F.when(
                    F.col("_idcg").isNotNull() & (F.col("_idcg") > 0),
                    F.col("_dcg") / F.col("_idcg"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ndcg"),
            F.round(
                F.coalesce(1.0 / F.col("_first_rel"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(F.col("_nrel_ret") / F.lit(float(k)), 6).alias("p_at_k"),
            F.round(
                F.when(
                    F.coalesce(F.col("_nrel"), F.lit(0)) > 0,
                    F.col("_ap_sum")
                    / F.least(F.col("_nrel"), F.lit(k)).cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ap"),
            F.round(F.coalesce(F.col("_err"), F.lit(0.0)), 6).alias("err"),
        )
    )
    return out
