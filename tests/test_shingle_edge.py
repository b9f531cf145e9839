"""Shingle and edge-ngram analyzer modes: 4-engine identity, dl
(discountOverlaps) semantics, token_stream contracts, and an index built
with each mode answering the queries the mode exists for."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from nlp4l_spark.analysis import Analyzer, LUCENE_ENGLISH_STOPWORDS
from nlp4l_spark.index import IndexBuilder, IndexCatalog
from nlp4l_spark.search import Searcher

TEXTS = [
    "The quick brown fox jumps over the lazy dog",
    "a an the of",
    "vector vectors scan x",
    "",
    "one two",
]

MODES = [
    Analyzer(stopwords=LUCENE_ENGLISH_STOPWORDS, shingle_size=2),
    Analyzer(stopwords=LUCENE_ENGLISH_STOPWORDS, shingle_size=3),
    Analyzer(stopwords=LUCENE_ENGLISH_STOPWORDS, edge_ngrams=(2, 4)),
    Analyzer(shingle_size=2, edge_ngrams=(3, 5)),
    Analyzer(
        stopwords=LUCENE_ENGLISH_STOPWORDS,
        synonyms=(("fox", "canine"),),
        shingle_size=2,
    ),
]


@pytest.mark.parametrize("an", MODES, ids=lambda a: f"sh{a.shingle_size}e{a.edge_ngrams}")
def test_engine_identity(spark, an):
    py = [an.tokenize(t) for t in TEXTS]
    sdf = spark.createDataFrame([(t,) for t in TEXTS], "text string")
    sp = [r[0] for r in sdf.select(an.tokens_expr("text")).collect()]
    du = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {an.duckdb_tokens_sql('text')} "
            f"FROM (SELECT unnest({TEXTS!r}) AS text)"
        ).fetchall()
    ]
    assert py == sp == du
    # dl = the pre-injection unigram stream (discountOverlaps)
    tc = sdf.select(an.term_counts_udf()(F.col("text")).alias("c")).collect()
    assert [r["c"]["dl"] for r in tc] == [len(an._base_tokens(t)) for t in TEXTS]


def test_shingle_token_stream_positions_and_offsets():
    an = Analyzer(stopwords=LUCENE_ENGLISH_STOPWORDS, shingle_size=2)
    ts = an.token_stream("the quick brown fox")
    by_term = {t: (p, s, e) for t, p, s, e in ts}
    # shingle sits at its first word's position, offsets span both words
    assert by_term["quick_brown"] == (1, 4, 15)
    assert by_term["quick"] == (1, 4, 9)


def test_edge_token_stream_posinc_zero():
    an = Analyzer(stopwords=frozenset(), edge_ngrams=(2, 3))
    ts = an.token_stream("vector x")
    grams = [(t, p) for t, p, _, _ in ts]
    # every gram of 'vector' at position 0; 'x' shorter than min emits nothing
    assert grams == [("ve", 0), ("vec", 0), ("vector", 0)]


def test_shingle_index_search(spark, tmp_path, phrase_paths_agree):
    """An index built with the shingle analyzer holds the bigram terms;
    querying with the SAME analyzer matches through the shingle term
    (tokenize('quick brown') emits it), so phrase-frequency ranking
    works without positions."""
    an = Analyzer(stopwords=LUCENE_ENGLISH_STOPWORDS, shingle_size=2)
    rows = [
        (0, "quick brown fox"),
        (1, "brown quick fox"),  # same unigrams, different shingles
        (2, "slow red fox"),
    ]
    df = spark.createDataFrame(rows, "orig long, text string")
    idx = str(tmp_path / "sh_idx")
    IndexBuilder(
        analyzer=an, sort_cols=("orig",), store_positions=True,
        store_term_vectors=True,
    ).build(df, idx)
    terms = {
        r["term"] for r in IndexCatalog(idx).read(spark, "term_stats").collect()
    }
    assert "quick_brown" in terms and "brown_quick" in terms
    hits = Searcher(spark, idx, analyzer=an).search("quick brown", k=3).collect()
    # doc 0 matches quick, brown AND quick_brown; doc 1 only the unigrams
    assert hits[0]["doc_id"] == 0 and len(hits) >= 2
    assert hits[0]["score"] > hits[1]["score"]
    # shingles never count toward dl, in the positions as in doc_lens:
    # every phrase path scores alike ("brown fox" matches through the
    # shingle, which sits at its first word's position)
    s = Searcher(spark, idx, analyzer=an)
    for q in ("fox", "brown fox", "quick brown fox"):
        phrase_paths_agree(s, q)


def test_edge_index_search_as_you_type(spark, tmp_path):
    """An index built with the edge analyzer answers a partial keystroke
    as an exact term lookup — no wildcard scan."""
    an = Analyzer(stopwords=LUCENE_ENGLISH_STOPWORDS, edge_ngrams=(2, 4))
    rows = [(0, "vector search"), (1, "verbose logging"), (2, "window scan")]
    df = spark.createDataFrame(rows, "orig long, text string")
    idx = str(tmp_path / "edge_idx")
    IndexBuilder(analyzer=an, sort_cols=("orig",)).build(df, idx)
    # the QUERY analyzer stays plain (ES search_analyzer != index
    # analyzer for search_as_you_type): the keystroke is one exact term
    s = Searcher(spark, idx)
    got = {r["doc_id"] for r in s.search("vec", k=3).collect()}
    assert got == {0}  # only 'vector' has the 'vec' edge gram
    got2 = {r["doc_id"] for r in s.search("ve", k=3).collect()}
    assert got2 == {0, 1}  # 'vector' and 'verbose'
