from __future__ import annotations

import heapq
import os
import re

import pytest

from pyspark.sql import SparkSession


def make_spark(master: str = "local[4]", shuffle_partitions: int = 8) -> SparkSession:
    return (
        SparkSession.builder.master(master)
        .appName("nlp4l_spark-tests")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.default.parallelism", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


@pytest.fixture(scope="session")
def spark():
    s = make_spark()
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _phrase_paths_agree(s, q):
    """search_phrase over the postings (driver reader and Spark plan)
    equals the term_vectors path: same doc ids, scores within 1e-9."""
    want = [
        (r["doc_id"], r["score"])
        for r in s.search_phrase(q, k=10, method="term_vectors").collect()
    ]
    assert want, q
    for method in ("auto", "postings"):
        got = [
            (r["doc_id"], r["score"])
            for r in s.search_phrase(q, k=10, method=method).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], (q, method)
        assert all(
            abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want)
        ), (q, method, got, want)


@pytest.fixture
def phrase_paths_agree():
    return _phrase_paths_agree


def _oracle_phrase(ix, texts: dict, q: str, k: int, dead=frozenset()):
    """Exact phrase over an ``OracleIndex``'s full token stream,
    stopwords keeping their positions in the doc AND in the query (a
    phrase holding a stopword matches the same text, any token filling
    the hole); score = Σ idf · BM25 tf-norm of the phrase frequency."""
    from nlp4l_spark.analysis.analyzer import TOKEN_PATTERN
    from nlp4l_spark.oracle import B, K1

    tok = re.compile(TOKEN_PATTERN)
    qtoks = tok.findall(q.lower())
    kept = [
        (i, t) for i, t in enumerate(qtoks) if t not in ix.analyzer.stopwords
    ]
    terms = [t for _, t in kept]
    if not terms or any(t not in ix.postings for t in terms):
        return []
    idf_sum = sum(ix.idf(t) for t in terms)
    base = kept[0][0]
    n = kept[-1][0] + 1 - base
    scores = {}
    for d, _ in ix.postings[terms[0]]:
        if d in dead:
            continue
        toks = tok.findall(texts[d].lower())
        tf = sum(
            1
            for i in range(len(toks) - n + 1)
            if all(toks[i + j - base] == t for j, t in kept)
        )
        if tf:
            dl = ix.doc_lens[d]
            scores[d] = idf_sum * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * dl / ix.avgdl)
            )
    return heapq.nsmallest(k, scores.items(), key=lambda kv: (-kv[1], kv[0]))


@pytest.fixture
def oracle_phrase():
    return _oracle_phrase
