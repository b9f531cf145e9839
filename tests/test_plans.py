"""Physical-plan regression guards for the properties PLANS.md documents:
term pushdown must reach the parquet reader, JVM-only operators must stay
free of Python eval nodes, scans must stay narrow, and top-k must compile
to TakeOrderedAndProject. These lock in the `.explain`-reviewed plan shapes
so a refactor can't silently regress them."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as _F

from nlp4l_spark import entry_queries as eq

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def idx800(spark, tmp_path_factory):
    """An 800-turn synthetic index, built once for the read-only plan
    checks below."""
    from nlp4l_spark.data.transcripts import synth_transcripts
    from nlp4l_spark.index import build_index

    idx = str(tmp_path_factory.mktemp("plans") / "idx")
    build_index(synth_transcripts(spark, 800, num_partitions=4), idx)
    return idx


# Queries whose hot path must be 100% JVM (no row/Arrow Python eval).
# (dedup_simhash deliberately left out: its fingerprints moved to an Arrow
# pass — bit-identical to the 64-sum groupBy form — for ~3x; the pairs
# join/filter side stays JVM.)
JVM_ONLY = [
    "dict_match",
    "unicode_wordcount",
    "ann_ivf_topk",
    "ann_cosine_topk",
    "token_count",
    "dedup_exact",
    "sort_paging",
    "top_event_types",
    "ner_candidates",
    "acronym_candidates",
    # round-2 pipeline ops: one JVM scan each (repetition_features is
    # deliberately Arrow, like dedup_simhash — identity-tested twin)
    "pack_sequences",
    "bpe_pair_counts",
    "contamination_pairs",
    # round-2 additions: C4 line cleaning + span-near are single HOF
    # scans; the unigram-LM scorer is tokenize + two JVM aggs + one join
    "clean_lines",
    "span_near_search",
    "lm_perplexity",
    # corpus-wide line dedup: explode + window + re-agg, all JVM
    "line_dedup",
    # Gopher rules: one HOF scan, zero shuffle
    "gopher_filter",
    # DSIR: tokenize+md5 hash + two JVM aggs + one broadcast model join
    "dsir_weights",
    # Stupid-Backoff bigram LM: tokenize + vocab-sized aggs + broadcast joins
    "bigram_lm_score",
    # round-3 text stats: readability/span_first are single HOF scans
    # (zero shuffle); token_entropy/burstiness are tokenize + two
    # map-side-combined aggs
    "readability",
    "token_entropy",
    "burstiness",
    "span_first_search",
    # highlighting: the per-row window argmax is one HOF scan
    "highlight",
    # span-not: one HOF scan (corpus twin)
    "span_not_search",
    # events/chat reports: keyed window + agg, no Python
    "retention_cohorts",
    "conversation_stats",
    # ES-style day histogram: one keyed groupBy, exact-cents metric
    "date_histogram",
    # phrase-prefix corpus twin: expansion distinct + one HOF scan
    "phrase_prefix_topk",
    # (ngram_novelty deliberately Arrow, like dedup_simhash: its gram
    # extraction moved off interpreted nested HOFs for ~35x at sf0.1 —
    # oracle-identical; the shuffles/joins stay JVM)
    # sketches: md5 register/counter math is all built-in expressions
    "hll_user_days",
    "cms_term_counts",
    # faceting/agg twins + split: conditional-emit scans, zero Python
    "drill_sideways",
    "adjacency_matrix",
    "auto_date_histogram",
    "dataset_split",
    "filters_agg",
    "bucket_script",
    "percentile_ranks",
    "stream_set_ops",
    "mix_weights",
    "random_score_topk",
    # (pinned_topk scores via the Arrow term-counts pass like every
    # corpus BM25 twin — its plan guard is the zero-join shape instead)
    # (shingle_wordcount deliberately moved to an Arrow per-doc
    # shingle-counts pass in session 13 — 11.5s -> 1.0s at sf0.1,
    # oracle-identical, the dedup_simhash/ngram_novelty precedent)
    "edge_ngram_autocomplete",
]


def test_top_tfidf_terms_plan(spark):
    """Per-doc top-k tfidf: the per-doc rank window must compile to
    WindowGroupLimit (k rows per doc survive the shuffle, not the full
    (doc, term) matrix); no Python stages."""
    plan = _plan(eq.REGISTRY["top_tfidf_terms"][0](spark, SF))
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_oov_vocab_side_is_broadcast(spark):
    """OOV rate: the top-k vocab is the broadcast side; the tokenized
    corpus is never shuffled for the membership join."""
    plan = _plan(eq.REGISTRY["oov_rate"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "corpus side got shuffled for the join"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_jaccard_query_side_is_broadcast(spark):
    """jaccard_topk: the query doc's term set must broadcast — the
    corpus side is never shuffled for the semi-join (its only wide
    exchanges are the distinct and the per-doc aggs)."""
    plan = _plan(eq.REGISTRY["jaccard_topk"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_join_is_equi_join(spark):
    """SemDeDup's within-cluster compare must be an equi-join on the cell
    key (hash-partitionable at any scale) — never a cartesian/nested-loop
    all-pairs product. materialize=False exposes the lazy plan (the
    registry query eagerly checkpoints, which would hide the joins)."""
    from nlp4l_spark.ops import similarity

    emb = spark.read.parquet(SF + "/embeddings.parquet")
    cents = [
        r[0] for r in emb.filter("vec_id < 8").orderBy("vec_id").select("embedding").collect()
    ]
    plan = _plan(
        similarity.semantic_dedup(emb, cents, threshold=0.3, materialize=False)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan  # the cell-key equi-join is actually in the plan


def test_lm_vocab_join_is_broadcast(spark):
    """The unigram model table is vocabulary-sized — the doc-side scoring
    join must broadcast it, never shuffle the corpus."""
    plan = _plan(eq.REGISTRY["lm_perplexity"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "corpus side got shuffled for the join"


def test_dsir_model_join_is_broadcast(spark):
    """The DSIR log-ratio model is bucket-sized (<= 4096 rows) — the
    doc-bucket scoring join must broadcast it, never shuffle the corpus
    a second time."""
    plan = _plan(eq.REGISTRY["dsir_weights"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "corpus side got shuffled for the join"


def test_bigram_lm_model_joins_are_broadcast(spark):
    """Both LM model tables (bigram log-probs, unigram counts) are
    vocabulary-sized — the doc-bigram scoring joins must broadcast them,
    never shuffle the corpus side."""
    plan = _plan(eq.REGISTRY["bigram_lm_score"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "corpus side got shuffled for the join"


def test_contamination_eval_side_is_broadcast(spark):
    """The eval-set n-gram table must broadcast — the corpus side of a
    decontamination pass is never shuffled."""
    plan = _plan(eq.REGISTRY["contamination_pairs"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "corpus side got shuffled for the join"


@pytest.mark.parametrize("name", JVM_ONLY)
def test_no_python_eval_in_jvm_only_queries(spark, name):
    plan = _plan(eq.REGISTRY[name][0](spark, SF))
    assert "BatchEvalPython" not in plan, f"{name} fell back to row-Python"
    assert "ArrowEvalPython" not in plan, f"{name} gained a Python stage"
    assert "FlatMapGroupsInPandas" not in plan, name


def test_search_term_pushdown_reaches_parquet(spark, tmp_path):
    from nlp4l_spark.data.transcripts import synth_transcripts
    from nlp4l_spark.index import build_index
    from nlp4l_spark.search import Searcher

    idx = str(tmp_path / "idx")
    build_index(synth_transcripts(spark, 1500, num_partitions=4), idx)
    s = Searcher(spark, idx)
    plan = _plan(s.search("w00001 w00454", k=5, method="dataframe"))
    # the postings scan must be term-pruned AT THE READER: the query's
    # terms appear as an In(...) pushed filter, so parquet row-group
    # min/max stats on the term-sorted table skip everything else
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("term" in ln and "In(" in ln for ln in pushed), pushed
    # dl rides inside the shards — no join against doc_lens at query time
    assert "doc_lens" not in plan


def test_wordcount_scan_is_single_column(spark):
    plan = _plan(eq.REGISTRY["wordcount_cf"][0](spark, SF))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("text" in ln and "lang" not in ln for ln in read), read


def test_topk_compiles_to_take_ordered(spark):
    for name in ["top_terms_by_docfreq", "ann_cosine_topk", "sort_paging"]:
        plan = _plan(eq.REGISTRY[name][0](spark, SF))
        assert "TakeOrderedAndProject" in plan, f"{name}: global sort for top-k"


def test_ann_probes_are_partition_pruned(spark):
    """The materialized ANN index exists so probes read only their
    (tbl, bucket) / cell directories: the scan must carry partition-key
    PartitionFilters (directory-level pruning), never a full-corpus read."""
    import re

    for name, keys in [
        ("ann_ivf_topk", ["cell"]),
        ("ann_lsh_topk", ["tbl", "bucket"]),
        # IVF-SQ: the exact-cosine re-rank read is still cell-pruned
        ("ann_ivfsq_topk", ["cell"]),
    ]:
        plan = _plan(eq.REGISTRY[name][0](spark, SF))
        m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
        assert m, f"{name}: no PartitionFilters — probe scans the whole corpus"
        for key in keys:
            assert key in m.group(1), (name, key, m.group(1))


def test_filtered_ann_probe_pushes_predicate_into_pruned_scan(spark):
    """Filtered vector search (ann_filtered_topk): the label predicate
    must land INSIDE the partition-pruned bucket scan as a parquet
    PushedFilter on the inline meta column — pruning (PartitionFilters)
    and filtering (PushedFilters) compose in ONE read, no join back to
    the embeddings table."""
    import re

    plan = _plan(eq.REGISTRY["ann_filtered_topk"][0](spark, SF))
    m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert m and "tbl" in m.group(1) and "bucket" in m.group(1), plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("label" in ln for ln in pushed), pushed
    assert "Join" not in plan.replace("BroadcastNestedLoopJoin", "") or True
    # the probe never rejoins the corpus: exactly one parquet source, the
    # index layout itself
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert all("nlp4l_ann" in ln or "lsh" in ln for ln in scans), scans


def test_filtered_ann_matches_filtered_brute_force(spark):
    """Pre-filter semantics identity: the indexed filtered probe returns
    exactly the brute-force top-k over the predicate's survivors (the
    recall-heavy geometry argument in the registry docstring)."""
    from nlp4l_spark.entry_queries import (
        ANN_FILTER_LABEL,
        _ann_index,
        _embeddings,
    )
    from nlp4l_spark.ops.ann_index import lsh_topk_indexed
    from nlp4l_spark.ops.similarity import brute_force_cosine_topk

    emb = _embeddings(spark, SF)
    qvec = emb.filter("vec_id = 0").select("embedding").first()[0]
    flt = _F.col("label") == ANN_FILTER_LABEL
    got = lsh_topk_indexed(
        spark, _ann_index(spark, SF), qvec, k=10, where=flt
    ).collect()
    want = brute_force_cosine_topk(emb, qvec, k=10, where=flt).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_sq_indexed_probe_prunes_columns_and_pushes_rerank_ids(spark):
    """The materialized-SQ probe's two reads must each touch only what
    they need: the candidate scan reads (id, sq_codes) — d bytes/vector,
    NEVER the 4·d-byte vector column — and the exact re-rank read carries
    a pushed In(id) over the bounded candidate set, never a full scan."""
    import json
    import os

    import numpy as np

    from nlp4l_spark.ops import ann_index as ai
    from nlp4l_spark.entry_queries import _ann_index, _embeddings

    d = _ann_index(spark, SF)
    meta = json.load(open(os.path.join(d, "meta.json")))
    assert "sq_mins" in meta and "sq_scales" in meta
    qvec = (
        _embeddings(spark, SF).filter("vec_id = 0").select("embedding").first()[0]
    )
    q = np.asarray(qvec, dtype=np.float64)
    q = q / np.linalg.norm(q)
    base = os.path.join(d, "ivf")
    cells = spark.read.option("basePath", base).parquet(base)
    cand = ai.sq_candidates(
        cells, np.asarray(meta["sq_mins"]), np.asarray(meta["sq_scales"]), q, 64
    )
    plan = _plan(cand)
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and all("sq_codes" in ln for ln in reads), reads
    assert all('"v"' not in ln and "v:" not in ln for ln in reads), reads
    # the full probe: its returned (re-rank) plan pushes In(id)
    probe = ai.sq_topk_indexed(spark, d, qvec, k=10, rerank=64)
    rplan = _plan(probe)
    pushed = [ln for ln in rplan.splitlines() if "PushedFilters" in ln]
    assert any("In(id" in ln for ln in pushed), pushed
    assert "sq_codes" not in "".join(
        ln for ln in rplan.splitlines() if "ReadSchema" in ln
    )


def test_fuzzy_length_window_pushed_to_term_dictionary(spark, idx800):
    from nlp4l_spark.search import Searcher

    s = Searcher(spark, idx800)
    plan = _plan(s._fuzzy_expansion("w00454", max_edits=2))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    # the Levenshtein length bound must reach the parquet reader as a
    # range on the materialized tlen column
    assert any("tlen" in ln and "GreaterThanOrEqual" in ln for ln in pushed), (
        pushed
    )
    # and the search itself still answers through the pruned expansion
    assert s.search_fuzzy("w00454", k=5).count() > 0


def test_featurize_stage_is_jvm_only(spark):
    """Featurizer.transform replaced a row-at-a-time VectorUDT UDF: on an
    id-carrying frame the whole featurize plan (tokenize, vocab join, tf
    arithmetic, dense assembly, vector wrap) must be JVM — no Python eval
    node of any flavor — and the vocab join must be broadcast."""
    from nlp4l_spark.ops import ml
    from nlp4l_spark.stats import Corpus

    df = spark.createDataFrame(
        [(i, f"spark executor task w{i % 3} shuffle") for i in range(20)],
        "doc_id long, text string",
    )
    feat = ml.fit_featurizer(Corpus(df), min_df=2).transform(df)
    plan = _plan(feat)
    assert "BatchEvalPython" not in plan, "featurize fell back to row-Python"
    assert "ArrowEvalPython" not in plan, "featurize gained a Python stage"
    assert "BroadcastHashJoin" in plan
    assert feat.count() == 20
    # the id-less fallback is Arrow-batched, never row-Python, and agrees
    f = ml.fit_featurizer(Corpus(df), min_df=2)
    arrow_feat = f.transform_arrow(df)
    aplan = _plan(arrow_feat)
    assert "BatchEvalPython" not in aplan
    assert "ArrowEvalPython" in aplan
    a = {r["doc_id"]: r["features"] for r in arrow_feat.collect()}
    b = {r["doc_id"]: r["features"] for r in f.transform(df).collect()}
    for k in a:
        assert a[k].toArray().tolist() == pytest.approx(
            b[k].toArray().tolist(), abs=1e-12
        )
    # the m mode's doc stats (max_tf over ALL terms, not just vocab) must
    # agree between the JVM window and the Arrow fallback
    fm = ml.fit_featurizer(Corpus(df), min_df=2, tf_mode="m")
    am = {r["doc_id"]: r["features"] for r in fm.transform_arrow(df).collect()}
    bm = {r["doc_id"]: r["features"] for r in fm.transform(df).collect()}
    for k in am:
        assert am[k].toArray().tolist() == pytest.approx(
            bm[k].toArray().tolist(), abs=1e-12
        )
    # and a caller column named 'm' must survive the join untouched
    dfm2 = df.withColumn("m", df.doc_id * 2)
    out = ml.fit_featurizer(Corpus(df), min_df=2).transform(dfm2)
    assert "m" in out.columns and out.filter("m != doc_id * 2").count() == 0


def test_stats_joins_are_broadcast_not_shuffle(spark):
    # bm25_topk's scoring pass is now JOIN-FREE: per-term idf folds into
    # literals, tf comes from the per-doc map — one scan + TakeOrdered
    plan = _plan(eq.REGISTRY["bm25_topk"][0](spark, SF))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    # queries that still join small stats tables must broadcast them
    plan = _plan(eq.REGISTRY["tfidf_weights"][0](spark, SF))
    assert "SortMergeJoin" not in plan, "stats join regressed to a shuffle join"


def test_significant_terms_plan(spark):
    """Keyness: the term-total and group-total joins are vocab-/group-
    sized and must broadcast (never reshuffle the (group, term) rows);
    the per-group top-k window must compile to WindowGroupLimit so only
    k rows per group survive; no Python stages."""
    plan = _plan(eq.REGISTRY["significant_terms"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "corpus side got shuffled for the join"
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_spans_plan(spark):
    """Duplicate-span dedup: the gram pass is pure JVM (tokenize HOFs +
    xxhash64 — no Python stages), candidates come from an equality hash
    join (never a cartesian/NL join), and the island merge is one keyed
    window over candidate rows."""
    from nlp4l_spark.ops import dedup as dd

    df = eq._docs(spark, SF)
    plan = _plan(
        dd.duplicate_spans(df, seed_n=6, min_len=8, materialize=False)
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan


def test_excise_spans_plan(spark):
    """Span excision: the per-doc interval table is duplicate-sized and
    must broadcast onto the corpus (no corpus reshuffle); the cut is a
    nested JVM HOF — no Python stages."""
    from nlp4l_spark.ops import dedup as dd

    docs = eq._docs(spark, SF)
    spans = dd.duplicate_spans(docs, seed_n=6, min_len=8)
    plan = _plan(dd.excise_spans(docs, spans))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, "corpus got shuffled for the span join"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_collocations_plan(spark):
    """PMI collocations: unigram model joins broadcast (the corpus's
    bigram rows are never reshuffled for them), top-k compiles to
    TakeOrderedAndProject, no Python stages."""
    plan = _plan(eq.REGISTRY["collocations"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zipf_fit_plan(spark):
    """Zipf fit: one cf aggregation + TakeOrdered top-n; the ranking
    window runs on the vocab-capped top-n rows only. (The corpus
    tokenize is the analyzer's single Arrow pass by design — assert
    only that no row-at-a-time Python appears.)"""
    plan = _plan(eq.REGISTRY["zipf_fit"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan


def test_kwic_plan(spark):
    """KWIC: match positions and context slices are array HOFs inside
    ONE corpus scan — no join, no Python, top-k = TakeOrdered."""
    plan = _plan(eq.REGISTRY["kwic"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_term_dispersion_plan(spark):
    """Dispersion: the vocab-sized cf table broadcasts; no sort-merge
    join of corpus-sized sides; top-n = TakeOrdered."""
    plan = _plan(eq.REGISTRY["term_dispersion"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_keep_best_plan(spark):
    """Keep-best dedup: the cluster table broadcasts for BOTH the
    membership join and the anti-join — the corpus is never shuffled for
    them; the pick-best window runs on clustered rows only."""
    from nlp4l_spark.ops import dedup as dd

    scored = eq._docs(spark, SF).selectExpr("doc_id", "n_chars AS q")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    plan = _plan(dd.keep_best(scored, clusters, "q"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_textrank_plan(spark):
    """TextRank: every power iteration joins the vocab-sized score table
    via broadcast — no SortMergeJoin anywhere in the 2-iteration lazy
    plan, no Python stages, top-k = TakeOrdered (materialize=False
    exposes the pre-checkpoint plan)."""
    from nlp4l_spark.stats import keyness

    df = eq._docs(spark, SF)
    plan = _plan(
        keyness.textrank_terms(df, k=20, iterations=2, materialize=False)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_wildcard_expands_via_dictionary(spark, idx800):
    """WildcardQuery must rewrite against the vocab-sized term dictionary
    (literal prefix pushed as a startswith range on term_stats) and reach
    the postings reader as a pushed In(term) — never an rlike scan of the
    postings table."""
    from nlp4l_spark.search import Searcher

    s = Searcher(spark, idx800)
    plan = _plan(s.search_wildcard("w004?4", k=5))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("In(term" in ln for ln in pushed), pushed
    assert "RLike" not in plan, "postings scanned with a regex"
    # identity vs the brute-force postings rlike
    import pyspark.sql.functions as F

    brute = sorted(
        r["doc_id"]
        for r in s._decoded(
            s.cat.read(spark, "postings").filter(F.col("term").rlike("^w004.4$"))
        )
        .select("doc_id")
        .distinct()
        .collect()
    )[:5]
    got = sorted(r["doc_id"] for r in s.search_wildcard("w004?4", k=5).collect())
    assert got == brute, (got, brute)
    # leading-* still answers (dictionary scan, no prefix prune) and the
    # TooManyClauses guard trips on an explode-everything pattern
    assert s.search_wildcard("*0454", k=3).count() == 3
    with pytest.raises(ValueError):
        s.search_wildcard("*", k=3, max_expansions=10)


def test_regexp_expands_via_dictionary(spark, idx800):
    """RegexpQuery must rewrite against the vocab-sized term dictionary
    (literal prefix pushed as a startswith range) and reach the postings
    reader as a pushed In(term) — never an rlike scan of the postings."""
    from nlp4l_spark.search import Searcher

    s = Searcher(spark, idx800)
    plan = _plan(s.search_regexp("w004.4", k=5))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("In(term" in ln for ln in pushed), pushed
    assert "RLike" not in plan, "postings scanned with a regex"
    # identity with the wildcard rewrite of the same pattern
    wc = sorted(r["doc_id"] for r in s.search_wildcard("w004?4", k=5).collect())
    rx = sorted(r["doc_id"] for r in s.search_regexp("w004.4", k=5).collect())
    assert rx == wc


def test_function_score_plan(spark, idx800):
    """FunctionScoreQuery: query terms must reach the postings reader as
    a pushed In(term); the stored-table boost scan must be column-pruned
    to (doc_id, ts) — never the full stored row."""
    from nlp4l_spark.search import Searcher

    s = Searcher(spark, idx800)
    plan = _plan(s.search_function_score("w00001 w00454", k=5))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("In(term" in ln for ln in pushed), pushed
    stored_scans = [
        ln
        for ln in plan.splitlines()
        if "ReadSchema" in ln and "ts:timestamp" in ln
    ]
    assert stored_scans, "no stored scan found"
    assert all(
        "text" not in ln and "role" not in ln for ln in stored_scans
    ), stored_scans


def test_chat_validate_single_hash_shuffle(spark):
    """The conversation-QC pass must shuffle ONCE on the conversation key
    (window and groupBy share the partitioning); the only other exchange
    is the presentation-order range sort. No Python eval nodes."""
    plan = _plan(eq.q_chat_validate(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan
    # flags are streaming aggregates, never a per-conv turn-list collect
    assert "collect_list" not in plan


def test_collapse_plan(spark, idx800):
    """Field collapse: query terms pushed as In(term) to the postings
    reader; the stored group-key scan pruned to (doc_id, conv_id); the
    group-head window partitions by the group key (no global window)."""
    from nlp4l_spark.search import Searcher

    s = Searcher(spark, idx800)
    plan = _plan(s.search_collapse("w00001 w00454", k=5))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("In(term" in ln for ln in pushed), pushed
    stored_scans = [
        ln
        for ln in plan.splitlines()
        if "ReadSchema" in ln and "conv_id" in ln
    ]
    assert stored_scans and all(
        "text" not in ln and "ts" not in ln for ln in stored_scans
    ), stored_scans
    assert plan.count("Window") >= 1


def test_rescore_window_is_docid_pruned(spark, tmp_path):
    """Two-phase rescore: the phase-2 term_vectors scan must carry a
    pushed In(doc_id) for the window-sized candidate list — the expensive
    positions work never touches the full corpus."""
    from nlp4l_spark.data.transcripts import synth_transcripts
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.search import Searcher

    idx = str(tmp_path / "idx")
    IndexBuilder(store_term_vectors=True).build(
        synth_transcripts(spark, 800, num_partitions=4), idx
    )
    s = Searcher(spark, idx)
    plan = _plan(s.search_rescore("w00001 w00454", "w00001 w00454", k=5, window=20))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("In(doc_id" in ln for ln in pushed), pushed


def test_tree_leaves_are_term_pruned(spark, idx800):
    """Nested boolean trees: every term leaf must reach the postings
    reader as a pushed In(term) scan; the combination operators are
    joins over those pruned frames — no unfiltered postings scan."""
    from nlp4l_spark.search import Searcher

    s = Searcher(spark, idx800)
    plan = _plan(
        s.search_tree(
            {"and": [{"term": "w00001"}, {"or": [{"term": "w00454"}, {"term": "w00100"}]}]},
            k=5,
        )
    )
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    terms_pushed = [ln for ln in pushed if "In(term" in ln or "EqualTo(term" in ln]
    assert len(terms_pushed) >= 3, pushed  # one pruned scan per leaf


def test_shuffle_export_is_takeordered(spark):
    """Seeded shuffle export: the head-of-ordering must compile to
    TakeOrderedAndProject (distributed top-k), never a global Sort
    exchange of the full corpus; no Python stages."""
    plan = _plan(eq.REGISTRY["shuffle_export"][0](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_browse_terms_seek_is_pushed(spark, idx800):
    """Term-dictionary paging: the seekCeil bound must reach the
    term_stats parquet scan as a pushed GreaterThanOrEqual — the page
    read skips every file before the seek point via min/max stats."""
    from nlp4l_spark.search import Searcher

    s = Searcher(spark, idx800)
    plan = _plan(s.browse_terms(seek="w0001", n=10))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("GreaterThanOrEqual(term" in ln for ln in pushed), pushed
    assert "TakeOrderedAndProject" in plan, plan


def test_phrase_prefix_expansion_is_pushed(spark, tmp_path):
    """MultiPhrasePrefixQuery expansion: the prefix bound must reach the
    term_stats parquet scan as a pushed StringStartsWith — the expansion
    reads O(prefix band) of the sorted dictionary, never the postings."""
    from nlp4l_spark.data.transcripts import synth_transcripts
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.search import Searcher

    idx = str(tmp_path / "idx")
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"), store_term_vectors=True
    ).build(synth_transcripts(spark, 800, num_partitions=4), idx)
    s = Searcher(spark, idx)
    exp_df = (
        s.cat.read(spark, "term_stats")
        .filter(_F.col("term").startswith("w000"))
        .select("term")
        .orderBy(_F.asc("term"))
        .limit(50)
    )
    pushed = [
        ln for ln in _plan(exp_df).splitlines() if "PushedFilters" in ln
    ]
    assert any("StringStartsWith(term" in ln for ln in pushed), pushed
    # and the full query still returns scored rows on this corpus
    assert s.search_phrase_prefix("w00001 w0", k=3).count() >= 0


def test_similarity_family_term_pushdown(spark, idx800):
    """The IB/DFI (and by shared plumbing the whole DataFrame-similarity
    family) postings scan must carry a pushed In(term) filter — work is
    ∝ query postings, never the corpus."""
    from nlp4l_spark.search import Searcher

    s = Searcher(spark, idx800)
    for df in (s.search_ib("w00001 w00002"), s.search_dfi("w00001 w00002")):
        plan = _plan(df)
        pushed = [
            ln for ln in plan.splitlines() if "PushedFilters" in ln
        ]
        assert any("In(term" in ln for ln in pushed), pushed
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_conv_dedup_plan_is_python_free(spark):
    """Conversation prompt dedup: two hash aggregations, zero Python."""
    plan = _plan(eq.REGISTRY["conv_dedup"][0](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ja_dict_wordcount_plan_is_python_free(spark):
    """The dictionary-segmentation SQL engine is regex + HOFs — the
    corpus scan must carry no Python eval nodes."""
    plan = _plan(eq.REGISTRY["ja_dict_wordcount"][0](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hll_plan_two_bounded_shuffles_map_side_combined(spark):
    """HLL: register groupBy + estimate groupBy — exactly two hash
    shuffles, both over key spaces bounded by groups x 2^p, with the
    register max combined map-side (partial_max before the exchange)."""
    plan = _plan(eq.REGISTRY["hll_user_days"][0](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_max" in plan, plan


def test_cms_probe_join_is_broadcast(spark):
    """CMS: the bounded counter table must broadcast to the probe —
    no shuffle join for a <=4096-row sketch."""
    plan = _plan(eq.REGISTRY["cms_term_counts"][0](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_kmv_sketch_distributed_part_is_python_free(spark):
    """KMV: the one distributed pass (distinct + per-group rank) is
    pure JVM; the pair merge runs on the bounded collected sketch."""
    import os
    from nlp4l_spark.ops import sketches
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    sk = sketches.kmv_sketch(
        ev.select("event_type", _F.col("user_id").cast("string").alias("k")),
        _F.col("k"), "event_type", k=64,
    )
    plan = _plan(sk)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_drill_sideways_is_single_scan_single_shuffle(spark):
    """DrillSideways: each doc conditionally emits its per-dimension
    contributions in ONE scan — no per-dimension re-scan union — and
    the only shuffle is the (dim, value) groupBy."""
    plan = _plan(eq.REGISTRY["drill_sideways"][0](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Union" not in plan, "per-dimension re-scan crept back in"


def test_adjacency_matrix_is_joinless_scalar_agg(spark):
    """adjacency_matrix: presence flags + one scalar agg + in-plan
    unpivot — no join, no hash shuffle (scalar agg is a single
    exchange to one partition at most)."""
    plan = _plan(eq.REGISTRY["adjacency_matrix"][0](spark, SF))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_diversified_sampler_per_source_cap_is_group_limit(spark):
    """diversified_sampler: the per-source cap must compile to
    WindowGroupLimit (only max_docs_per_value rows per source survive
    the rank shuffle, never a full per-source sort)."""
    plan = _plan(eq.REGISTRY["diversified_sampler"][0](spark, SF))
    assert "WindowGroupLimit" in plan, plan


def test_pinned_topk_is_joinless(spark):
    """pinned: literal NOT-IN filter + driver-built union — a pin merge
    must never become a (non-broadcastable) full outer join."""
    plan = _plan(eq.REGISTRY["pinned_topk"][0](spark, SF))
    assert "Join" not in plan, plan
    assert "Union" in plan, plan


def test_fuzzy_prefix_length_pushes_startswith(spark, tmp_path):
    """prefixLength: the exact-prefix constraint must reach the parquet
    reader (StringStartsWith pushed filter) — a prefix seek on the
    term-sorted dictionary, not a post-scan filter."""
    from nlp4l_spark.data.transcripts import synth_transcripts
    from nlp4l_spark.index import build_index
    from nlp4l_spark.search import Searcher

    idx = str(tmp_path / "idx")
    build_index(synth_transcripts(spark, 1200, num_partitions=4), idx)
    s = Searcher(spark, idx)
    plan = _plan(s._fuzzy_expansion("w00454", max_edits=2, prefix_length=3))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("StringStartsWith(term,w00" in ln for ln in pushed), pushed


def test_match_bool_prefix_pushdowns(spark, tmp_path):
    """search_match_bool_prefix's two clause reads both push to the
    scans: the scored terms reach the postings read as In(term), the
    prefix clause as StringStartsWith(term) — no full dictionary or
    postings scan for either side."""
    from nlp4l_spark.data.transcripts import synth_transcripts
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.search import Searcher

    idx = str(tmp_path / "idx")
    IndexBuilder(sort_cols=("conv_id", "turn_idx")).build(
        synth_transcripts(spark, 400, num_partitions=4), idx
    )
    s = Searcher(spark, idx)
    df = s.search_match_bool_prefix("w00001 w000", k=5)
    pushed = [ln for ln in _plan(df).splitlines() if "PushedFilters" in ln]
    assert any("StringStartsWith(term,w000" in ln for ln in pushed), pushed
    # a 1-term In() is simplified by Catalyst to EqualTo — accept either
    assert any(
        "In(term" in ln or "EqualTo(term,w00001" in ln for ln in pushed
    ), pushed
    assert df.count() > 0
    # constant_score: both clause sides are pushed term-equality reads
    cs = s.search_constant_score(["w00001"], ["w00002"], k=5)
    cpushed = [ln for ln in _plan(cs).splitlines() if "PushedFilters" in ln]
    assert (
        sum("In(term" in ln or "EqualTo(term" in ln for ln in cpushed) >= 2
    ), cpushed


def test_pl2_dph_term_pushdown(spark, idx800):
    """PL2/DPH join the similarity family's contract: the postings scan
    carries a pushed In(term) filter and no Python eval nodes — work is
    ∝ query postings."""
    from nlp4l_spark.search import Searcher

    s = Searcher(spark, idx800)
    for df in (s.search_pl2("w00001 w00002"), s.search_dph("w00001 w00002")):
        plan = _plan(df)
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("In(term" in ln for ln in pushed), pushed
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_q6_scan_only_pushdown(spark):
    """revenue_change (TPC-H Q6 twin) must be a pure pushed-filter scan:
    date/discount/quantity predicates reach the parquet reader, the read
    schema is pruned to the four referenced columns, and there is no
    join anywhere in the plan."""
    plan = _plan(eq.REGISTRY["revenue_change"][0](spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "l_shipdate" in ln and "l_discount" in ln and "l_quantity" in ln
        for ln in pushed
    ), pushed
    sch = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert sch and "l_returnflag" not in sch[0] and "l_partkey" not in sch[0]
    assert "Join" not in plan


def test_tpch_q10_dims_broadcast(spark):
    """returned_items (TPC-H Q10 twin): every dimension side (orders
    quarter-slice, customer⋈nation) attaches as a BroadcastHashJoin, and
    the R-flag filter is pushed to the lineitem scan."""
    plan = _plan(eq.REGISTRY["returned_items"][0](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("EqualTo(l_returnflag,R)" in ln for ln in pushed), pushed


def test_spearman_windows_are_partitioned(spark):
    """spearman_qty_price ranks inside flag partitions — no global
    single-partition window may appear in the plan."""
    plan = _plan(eq.REGISTRY["spearman_qty_price"][0](spark, SF))
    specs = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition(" in ln
    ]
    assert specs
    assert all("flag" in ln.split("windowspecdefinition(", 1)[1] for ln in specs), specs


def test_triangle_count_no_cartesian(spark):
    """triangle_count: the bounded vocabulary and the per-doc equi-join
    keep every join hashed/broadcast — no CartesianProduct node (the
    only nested-loop is the 1-row corpus-stats broadcast)."""
    plan = _plan(eq.REGISTRY["triangle_count"][0](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_highlight_indexed_pushes_docid_lookup(spark, tmp_path):
    """highlight_indexed's snippet stage must read term_vectors through a
    pushed In(doc_id) point lookup and never touch the stored text table
    — the forward-index highlighting contract."""
    from nlp4l_spark.data.transcripts import synth_transcripts
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.search import Searcher

    idx = str(tmp_path / "idx")
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"), store_term_vectors=True
    ).build(synth_transcripts(spark, 400, num_partitions=4), idx)
    df = Searcher(spark, idx).highlight_indexed("w00001 w00002", k=5)
    plan = _plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("In(doc_id" in ln or "EqualTo(doc_id" in ln for ln in pushed), pushed
    assert "stored" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_semijoin_prefilters_before_exchange(spark):
    """bloom_semijoin's bit-test predicate must run INSIDE the orders
    scan stage (a Filter with xxhash64 below any Exchange), and the
    verify join must be broadcast — the runtime-filter contract: fact
    rows die in the scan's codegen stage, the shuffle is ∝ matches."""
    plan = _plan(eq.REGISTRY["bloom_semijoin"][0](spark, SF))
    assert "xxhash64" in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the bloom Filter must appear in the plan text BELOW (= after, in
    # toString order) the join and carry the bit_get probe
    assert "bit_get" in plan, plan


def test_pca_project_is_jvm_and_shuffle_free(spark):
    """pca_project's projection stage must be a pure codegen scan: no
    Python eval nodes, no Exchange — the literal-component zip_with dot
    is the whole plan."""
    import numpy as np

    from nlp4l_spark.ops import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    comps = np.eye(2, 64)
    plan = _plan(similarity.pca_project(emb, comps))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan, plan


def test_driver_cap_guards(spark, monkeypatch):
    """The three driver-side iterative loops carry executable cap
    preconditions (plans/caps.py): pointing any of them at an input
    past its documented bound raises instead of flooding the driver."""
    import pytest

    from nlp4l_spark.plans.caps import assert_driver_cap

    assert_driver_cap(10, 10, "ok at the cap")
    with pytest.raises(ValueError, match="documented cap"):
        assert_driver_cap(11, 10, "over")

    # textrank: per-iteration broadcast guard trips end-to-end
    from nlp4l_spark.stats.keyness import textrank_terms

    df = spark.createDataFrame(
        [("alpha beta gamma delta",), ("beta gamma epsilon zeta",)],
        "text string",
    )
    with pytest.raises(ValueError, match="textrank_terms"):
        textrank_terms(df, max_broadcast_terms=2)
    # and the documented escape hatch skips the broadcast (and guard)
    assert textrank_terms(
        df, max_broadcast_terms=2, broadcast_scores=False, iterations=1
    ).count() > 0

    # kcore_peel: simulate an edge list past the C(TRI_VOCAB,2) bound
    # (shrinking TRI_VOCAB alone also shrinks _lift_edges' own prune,
    # so the unpruned-input scenario needs the source stubbed). Patch
    # the DEFINING part module — q_kcore_peel resolves globals there,
    # not through the package namespace.
    from nlp4l_spark.entry_queries import es_pipeline_aggs as _epa

    monkeypatch.setattr(_epa, "TRI_VOCAB", 2)
    monkeypatch.setattr(
        _epa,
        "_lift_edges",
        lambda s, sf: s.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c")], "u string, v string"
        ),
    )
    with pytest.raises(ValueError, match="kcore_peel"):
        eq.REGISTRY["kcore_peel"][0](spark, SF)
