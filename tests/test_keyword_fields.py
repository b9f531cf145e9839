"""Keyword-field postings (IndexBuilder(keyword_fields=...)): namespaced
untokenized terms ride the normal segment path, text stats stay
untouched, and search_filtered_indexed equals the stored-scan
search_filtered exactly."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from nlp4l_spark.data.transcripts import synth_transcripts
from nlp4l_spark.index import IndexBuilder
from nlp4l_spark.search import Searcher

N_TURNS = 600


@pytest.fixture(scope="module")
def idx_pair(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("kwidx")
    df = synth_transcripts(spark, N_TURNS, num_partitions=4)
    plain = str(root / "plain")
    kw = str(root / "kw")
    IndexBuilder(sort_cols=("conv_id", "turn_idx")).build(df, plain)
    # positions too: keyword terms take position 0, one run of tf=1
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"), keyword_fields=("role", "tool"),
        store_positions=True,
    ).build(df, kw)
    return plain, kw


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_text_stats_unchanged_by_keyword_fields(spark, idx_pair):
    """dl/avgdl/num_docs and text-term BM25 must be identical with and
    without keyword fields — keyword terms carry no length norm."""
    plain, kw = idx_pair
    sp, sk = Searcher(spark, plain), Searcher(spark, kw)
    assert (sp.num_docs, sp.avgdl) == (sk.num_docs, sk.avgdl)
    for q in ("w00001 w00454", "w00002 w00010"):
        assert _rows(sp.search(q, k=10, method="dataframe")) == _rows(
            sk.search(q, k=10, method="dataframe")
        ), q


def test_keyword_terms_are_namespaced_postings(spark, idx_pair):
    _, kw = idx_pair
    s = Searcher(spark, kw)
    terms = {
        r["term"]
        for r in s.cat.read(spark, "term_stats")
        .filter(F.col("term").contains(":"))
        .collect()
    }
    assert "role:user" in terms and "role:assistant" in terms
    assert "tool:bash" in terms
    # nulls (tool=None rows) are not indexed
    assert not any(t.endswith(":none") or t.endswith(":null") for t in terms)


def test_filtered_indexed_equals_stored_scan(spark, idx_pair):
    _, kw = idx_pair
    s = Searcher(spark, kw)
    for where in (
        {"role": "assistant"},
        {"role": "user", "tool": "bash"},
        {"tool": "grep"},
    ):
        a = _rows(s.search_filtered("w00001 w00002", where, k=10))
        b = _rows(s.search_filtered_indexed("w00001 w00002", where, k=10))
        assert a == b, where


def test_filtered_indexed_plan_skips_stored(spark, idx_pair):
    """The filter side is a pushed keyword-term postings read; the plan
    touches no stored-table files."""
    _, kw = idx_pair
    s = Searcher(spark, kw)
    df = s.search_filtered_indexed("w00001", {"role": "assistant"}, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "/stored" not in plan, "stored table should not be scanned"
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any(
        "role:assistant" in ln or "In(term" in ln or "EqualTo(term" in ln
        for ln in pushed
    ), pushed


def test_exists_query(spark, idx_pair):
    """exists(tool) = docs whose tool is non-null; nulls were never
    indexed so the prefix-band union is exactly the non-null set."""
    _, kw = idx_pair
    s = Searcher(spark, kw)
    got = {r["doc_id"] for r in s.search_exists("tool", k=10**6).collect()}
    expect = {
        r["doc_id"]
        for r in s.cat.read(spark, "stored")
        .filter(F.col("tool").isNotNull())
        .collect()
    }
    assert got == expect and len(got) > 0


def test_facet_keyword_from_dictionary(spark, idx_pair):
    """Dictionary-only facets equal a stored-table groupBy exactly."""
    _, kw = idx_pair
    s = Searcher(spark, kw)
    got = [(r["value"], r["cnt"]) for r in s.facet_keyword("role").collect()]
    expect = [
        (r["role"], r["n"])
        for r in s.cat.read(spark, "stored")
        .groupBy(F.col("role"))
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("role"))
        .collect()
    ]
    assert got == expect
    # the facet plan reads the dictionary only — no postings decode
    plan = (
        s.facet_keyword("role")._jdf.queryExecution().executedPlan().toString()
    )
    assert "/term_stats" in plan and "/postings" not in plan


def test_check_index_passes_with_keyword_fields(spark, idx_pair):
    """All CheckIndex invariants hold on a keyword-field index — the
    dl crosscheck in particular, because keyword terms carry the doc's
    text dl in their postings rather than perturbing it, and the
    positions check: every posting's run holds tf positions, keyword
    terms included."""
    from nlp4l_spark.index.checker import check_index

    _, kw = idx_pair
    res = {r["check"]: r["ok"] for r in check_index(spark, kw).collect()}
    assert len(res) >= 14 and res["positions_decode"] and all(res.values()), res


def test_multisearcher_federated_facets(spark, tmp_path):
    """Facets over a split corpus (two keyword-field indexes under a
    MultiSearcher) equal the single-index facets exactly — df adds
    across readers because docs never span them."""
    from nlp4l_spark.search import MultiSearcher

    df = synth_transcripts(spark, 400, num_partitions=4)
    convs = sorted(
        r["conv_id"] for r in df.select("conv_id").distinct().collect()
    )
    mid = convs[len(convs) // 2]
    kw = dict(sort_cols=("conv_id", "turn_idx"), keyword_fields=("role",))
    d_all = str(tmp_path / "all")
    d_a = str(tmp_path / "a")
    d_b = str(tmp_path / "b")
    IndexBuilder(**kw).build(df, d_all)
    IndexBuilder(**kw).build(df.filter(F.col("conv_id") < mid), d_a)
    IndexBuilder(**kw).build(df.filter(F.col("conv_id") >= mid), d_b)
    single = [
        (r["value"], r["cnt"])
        for r in Searcher(spark, d_all).facet_keyword("role").collect()
    ]
    fed = [
        (r["value"], r["cnt"])
        for r in MultiSearcher(spark, [d_a, d_b]).facet_keyword("role").collect()
    ]
    assert fed == single and len(fed) == 4
