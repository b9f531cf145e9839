"""TF-IDF mode goldens ported from the reference
(/root/reference/test/org/nlp4l/lucene/stats/TFIDFSuite.scala:100-159,323-339)."""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

import pytest

from nlp4l_spark.data import LONDON_BRIDGE_VERSES, TFIDF_SUITE_DOC_INDICES
from nlp4l_spark.oracle import OracleIndex
from nlp4l_spark.stats import tfidf


FIVE_DOCS = [LONDON_BRIDGE_VERSES[i] for i in TFIDF_SUITE_DOC_INDICES]


@pytest.fixture(scope="module")
def oracle5():
    return OracleIndex.build(list(enumerate(FIVE_DOCS)))


def test_index_free_golden_vectors():
    """TFIDFSuite.scala:323-339 — countMap {A:3,B:2}, N=100, df=10."""
    v1 = tfidf.tf_idf_vector({"A": 3, "B": 2}, {"A", "B"}, "n", 0.0, "n", {}, 100, -1, {"A": 10, "B": 10})
    assert v1 == [3.0, 2.0]
    v2 = tfidf.tf_idf_vector({"A": 3}, {"A"}, "n", 0.0, "t", {}, 100, -1, {"A": 10})
    assert v2 == [3 * math.log(100 / 10.0)]
    v3 = tfidf.tf_idf_vector({"A": 3}, {"A"}, "n", 0.0, "T", {}, 100, -1, {"A": 10})
    assert v3 == [3 * math.log(101 / 11.0)]
    v4 = tfidf.tf_idf_vector({"A": 3}, {"A"}, "n", 0.0, "p", {}, 100, -1, {"A": 10})
    assert v4 == [3 * max(0, math.log((100 - 10.0) / 10.0))]
    v5 = tfidf.tf_idf_vector({"A": 3}, {"A"}, "n", 0.0, "P", {}, 100, -1, {"A": 10})
    assert v5 == [3 * max(0, math.log((101 - 11.0) / 11.0))]


def test_tfidf_vector_doc0_golden(oracle5):
    """TFIDFSuite.scala:110-126: doc0 vector = tf * ln(N/df) over its terms."""
    n = oracle5.num_docs
    count_map = {t: tf for t, pl in oracle5.postings.items() for d, tf in pl if d == 0}
    words = sorted(count_map)
    assert words == ["bridge", "down", "fair", "falling", "lady", "london", "my"]
    got = tfidf.tf_idf_vector(
        count_map, set(words), "n", 0.0, "t", {}, n, -1,
        {w: oracle5.df(w) for w in words},
    )
    expected = [count_map[w] * math.log(n / oracle5.df(w)) for w in words]
    assert got == pytest.approx(expected)


def test_tfidf_boosts_golden(oracle5):
    """TFIDFSuite.scala:128-144: boosts fair=1.5, london=2.0."""
    n = oracle5.num_docs
    count_map = {t: tf for t, pl in oracle5.postings.items() for d, tf in pl if d == 0}
    words = sorted(count_map)
    got = tfidf.tf_idf_vector(
        count_map, set(words), "n", 0.0, "t", {"fair": 1.5, "london": 2.0},
        n, -1, {w: oracle5.df(w) for w in words},
    )
    expected = [
        count_map[w]
        * ({"fair": 1.5, "london": 2.0}.get(w, 1.0))
        * math.log(n / oracle5.df(w))
        for w in words
    ]
    assert got == pytest.approx(expected)


def test_tfidf_feature_restriction_golden(oracle5):
    """TFIDFSuite.scala:146-159: features {bridge, london, lady, gold},
    absent feature ('gold' not in doc0) -> 0.0."""
    n = oracle5.num_docs
    count_map = {t: tf for t, pl in oracle5.postings.items() for d, tf in pl if d == 0}
    feats = {"bridge", "london", "lady", "gold"}
    got = tfidf.tf_idf_vector(
        count_map, feats, "n", 0.0, "t", {}, n, -1,
        {w: oracle5.df(w) for w in sorted(feats) if w in count_map or w == "gold"}
        | {"gold": oracle5.df("gold")},
    )
    assert got[1] == 0.0  # gold
    assert [round(x, 10) for x in got] == [
        round(count_map.get(w, 0) * (math.log(n / oracle5.df(w)) if w in count_map else 0), 10)
        for w in sorted(feats)
    ]


def test_wordcounts_golden_5doc(oracle5):
    """WordCountsSuite.scala:81-96 content1 goldens: lady=5, wood=2, up=4;
    doc0 subset: lady=1, bridge=2."""
    whole = oracle5.count_docset(set(range(5)))
    assert whole["lady"] == 5
    assert whole["wood"] == 2
    assert whole["up"] == 4
    doc0 = oracle5.count_docset({0})
    assert doc0["lady"] == 1
    assert doc0["bridge"] == 2


def test_distributed_tfidf_matches_scalar(spark, oracle5):
    from nlp4l_spark.stats import Corpus

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIVE_DOCS)], "doc_id long, text string"
    )
    corpus = Corpus(df)
    modes = [(t, i) for t in ("n", "l", "b", "w") for i in ("n", "t", "T", "p", "P")]
    # the 20 collects are independent small jobs: run them 4 at a time
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(
            lambda m: tfidf.tf_idf_weights(
                corpus, tf_mode=m[0], idf_mode=m[1]
            ).collect(),
            modes,
        ))
    for (tf_mode, idf_mode), rows in zip(modes, results):
        n = oracle5.num_docs
        for r in rows:
            tf = dict(oracle5.postings[r["term"]])[r["doc_id"]]
            expected = tfidf.tf_value(tf, tf_mode) * tfidf.idf_value(
                oracle5.df(r["term"]), idf_mode, n
            )
            assert r["weight"] == pytest.approx(expected, abs=1e-12), (
                tf_mode, idf_mode, r["term"],
            )
