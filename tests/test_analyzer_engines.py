"""Property test: the four analyzer engines (driver Python, Spark SQL
expression, Arrow pandas UDF, DuckDB SQL oracle) tokenize IDENTICALLY on
seeded random inputs spanning the contract alphabet — ASCII letters/digits,
whitespace (incl. U+3000), punctuation, case mixing, empty strings. The
DuckDB engine is what the external correctness gate uses, so 4-way
agreement is what makes every oracle comparison meaningful.

(Reference analogue: the analyzer contract is pinned by golden tests, and
SchemaLoaderSuite exercises analyzer construction; this adds the
cross-engine identity the reference never needed — it had ONE Lucene.)"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from pyspark.sql import functions as F

from nlp4l_spark.analysis import STANDARD_ANALYZER, WHITESPACE_ANALYZER

ALPHABET = list(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "  \t\n　.,;:!?'\"()[]{}-_/\\@#$%&*+=<>|~^"
)


def _random_texts(n: int, seed: int) -> list[str]:
    rng = np.random.RandomState(seed)
    out = []
    for _ in range(n):
        length = int(rng.randint(0, 80))
        out.append("".join(rng.choice(ALPHABET, size=length)))
    out += ["", "   ", "the the THE", "a1b2c3", "ALLCAPS lower 123"]
    return out


# multilingual alphabet for the Unicode contract: CJK (Han/kana/Hangul),
# Cyrillic, accented Latin, fullwidth digits, ideographic space + ASCII
UNI_ALPHABET = list(
    "abcdefXYZ0123  \t　.,;!?()-_"
    "漢字解析形態素日本語処理検索引擎"
    "ひらがなですますカタカナテスト"
    "한국어형태소분석"
    "éèàçöüßñ"
    "МоскваЗимаПоиск"
    "４５６７"
)


def _random_unicode_texts(n: int, seed: int) -> list[str]:
    rng = np.random.RandomState(seed)
    out = []
    for _ in range(n):
        length = int(rng.randint(0, 60))
        out.append("".join(rng.choice(UNI_ALPHABET, size=length)))
    out += ["", "漢字テスト", "abc漢def", "한국어 처리", "café МОСКВА", "漢。字"]
    return out


def _assert_four_engines(spark, analyzer, texts):
    expected = [analyzer.tokenize(t) for t in texts]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    # engine 2: Spark SQL expression (JVM)
    sql_rows = df.select("i", analyzer.tokens_expr("text").alias("tk")).collect()
    got_sql = [r["tk"] for r in sorted(sql_rows, key=lambda r: r["i"])]
    assert got_sql == expected

    # engine 3: Arrow pandas UDF
    udf_rows = df.select("i", analyzer.tokenize_udf()(F.col("text")).alias("tk")).collect()
    got_udf = [r["tk"] for r in sorted(udf_rows, key=lambda r: r["i"])]
    assert got_udf == expected

    # engine 4: DuckDB SQL (the oracle's tokenizer)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    got_ddb = [
        r[0] if r[0] is not None else []
        for r in con.execute(
            f"SELECT {analyzer.duckdb_tokens_sql('text')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got_ddb == expected


@pytest.mark.parametrize("analyzer", [STANDARD_ANALYZER, WHITESPACE_ANALYZER])
def test_four_engines_agree(spark, analyzer):
    _assert_four_engines(spark, analyzer, _random_texts(300, seed=1234))


def test_four_engines_agree_unicode(spark):
    """The Unicode+CJK-bigram contract holds across all four engines on
    multilingual inputs — including the inputs the ASCII contract
    tokenizes to nothing."""
    from nlp4l_spark.analysis.unicode import UNICODE_CJK_ANALYZER

    texts = _random_unicode_texts(300, seed=4321)
    _assert_four_engines(spark, UNICODE_CJK_ANALYZER, texts)
    # and the ASCII analyzer really is blind to this corpus (the reason
    # the unicode mode exists): pure-CJK inputs tokenize to nothing
    assert STANDARD_ANALYZER.tokenize("漢字テスト 한국어") == []


def test_cjk_index_build_and_bm25_search(spark, tmp_path):
    """The unicode analyzer drops into the real index-build + BM25 path
    (inherited Arrow term_counts engine): CJK queries return the docs
    containing the bigrams, ranked."""
    from nlp4l_spark.analysis.unicode import UNICODE_CJK_ANALYZER
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.search import Searcher

    docs = spark.createDataFrame(
        [
            (0, "日本語の形態素解析を実行する"),
            (1, "形態素解析はテキスト処理の基本"),
            (2, "spark で検索エンジンを構築"),
            (3, "全く関係ない英語 only ascii text"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "cjk_idx")
    IndexBuilder(
        analyzer=UNICODE_CJK_ANALYZER,
        sort_cols=("doc_id",),
        store_positions=True,
    ).build(docs, idx)
    s = Searcher(spark, idx, analyzer=UNICODE_CJK_ANALYZER)
    hits = s.search("形態素解析", k=3, method="dataframe").collect()
    assert {r["doc_id"] for r in hits} == {0, 1}
    assert s.search("検索エンジン", k=3, method="dataframe").collect()[0]["doc_id"] == 2
    assert s.search("only ascii", k=3, method="dataframe").collect()[0]["doc_id"] == 3
    # CJK PHRASE search over position-carrying posting shards: the
    # bigrams of 形態素解析 must be ADJACENT — doc 0 and 1 contain the
    # contiguous phrase; exact adjacency distinguishes it from mere
    # bigram co-occurrence
    ph = s.search_phrase("形態素解析", k=3, method="postings").collect()
    assert {r["doc_id"] for r in ph} == {0, 1}, ph
    assert s.search_phrase("検索エンジン", k=3, method="postings").collect()[0]["doc_id"] == 2


def test_term_counts_udf_agrees_with_tokenize(spark):
    texts = _random_texts(150, seed=77)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    tc = STANDARD_ANALYZER.term_counts_udf()
    rows = df.select("i", tc(F.col("text")).alias("c")).collect()
    for r in sorted(rows, key=lambda r: r["i"]):
        toks = STANDARD_ANALYZER.tokenize(texts[r["i"]])
        counts = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        got = dict(zip(r["c"]["terms"], r["c"]["tfs"]))
        assert got == counts
        assert r["c"]["dl"] == len(toks)


FOLD_ALPHABET = list(
    "abcdefXYZ0123  \t.,;!?()-_"
    "àáâãäåāăąçćčèéêëēėęìíîïīįñńòóôõöōøùúûüūýÿšśžźżłđğţ"
    "æœßÀÉÜÑŠ"
)


def _random_fold_texts(n: int, seed: int) -> list[str]:
    rng = np.random.RandomState(seed)
    out = []
    for _ in range(n):
        length = int(rng.randint(0, 60))
        out.append("".join(rng.choice(FOLD_ALPHABET, size=length)))
    out += ["", "café crème brûlée", "München STRASSE straße", "œuvre æther"]
    return out


# UAX#29 contract alphabet: joiners (' ’ . ,), combining marks (U+0300
# acute/diaeresis), digits, hyphens, edge punctuation — the cases VERDICT
# r2 #4 named (word-internal apostrophes, numeric patterns, combining
# marks), plus plain ASCII so the common path is co-tested
UAX_ALPHABET = list(
    "abcdefghijkXYZ0123456789"
    "  \t\n"
    "'\u2019.,-"
    ";:!?()[]\"/"
    "\u0301\u0308"
    # round-4 Extend completeness: marks beyond U+036F (Cyrillic titlo,
    # Devanagari vowel signs Mn+Mc, Thai sara u, combining enclosing),
    # ZWJ, and ExtendNumLet (_ undertie \u2040 fullwidth _ and U+202F NNBSP)
    "\u0483\u094d\u093e\u0e38\u20e0"
    "\u200d"
    "_\u203f\u2040\uff3f\u202f"
    # round-5 Extend completeness: SUPPLEMENTARY-plane Mn/Mc (Brahmi
    # candrabindu Mc, Kharoshthi vowel Mn, musical combining stem Mc,
    # variation selector supplement Mn, Adlam nukta Mn)
    "\U00011000\U00010a01\U0001d165\U000e0100\U0001e94a"
)


def _random_uax_texts(n: int, seed: int) -> list[str]:
    rng = np.random.RandomState(seed)
    out = []
    for _ in range(n):
        length = int(rng.randint(0, 80))
        out.append("".join(rng.choice(UAX_ALPHABET, size=length)))
    out += [
        "",
        "Don't stop O\u2019Brien's run",
        "U.S.A. vs u.s.s.r.",
        "pi 3.14 grouping 1,000,000 swiss 1'000",
        "state-of-the-art b2b x86 x.5 a,b",
        "cafe\u0301 nai\u0308ve 'edge' trailing.",
        "1..2 3.14.15 don''t",
    ]
    return out


def test_four_engines_agree_uax29(spark):
    """The UAX#29 word-break mode holds across all four engines —
    including the quote-bearing pattern embedded in DuckDB SQL (escaped)
    and shipped to Spark as a Column literal."""
    from nlp4l_spark.analysis import UAX29_ANALYZER

    _assert_four_engines(spark, UAX29_ANALYZER, _random_uax_texts(300, seed=5150))
    # golden word-break decisions (Lucene StandardTokenizer behavior;
    # of/the are stopwords)
    assert UAX29_ANALYZER.tokenize("Don't stop U.S.A. 3.14 1,000") == [
        "don't", "stop", "u.s.a", "3.14", "1,000",
    ]
    assert UAX29_ANALYZER.tokenize("state-of-the-art x.5 a,b") == [
        "state", "art", "x", "5", "b",
    ]
    assert UAX29_ANALYZER.tokenize("cafe\u0301 o\u2019brien") == [
        "cafe\u0301", "o\u2019brien",
    ]
    # the default contract splits at every joiner — the gap this mode closes
    assert STANDARD_ANALYZER.tokenize("don't 3.14") == ["don", "t", "3", "14"]
    # round-4 goldens: full Mn/Mc Extend, ZWJ transparency, ExtendNumLet
    assert UAX29_ANALYZER.tokenize("veॄda c҃x") == [
        "veॄda", "c҃x",   # marks beyond U+036F attach
    ]
    assert UAX29_ANALYZER.tokenize("x‍y") == ["x‍y"]  # WB3c/WB4
    assert UAX29_ANALYZER.tokenize("foo_bar _lead trail_ 1_2 a__b") == [
        "foo_bar", "_lead", "trail_", "1_2", "a__b",  # WB13a/WB13b
    ]
    assert UAX29_ANALYZER.tokenize("tok join x‿9") == [
        "tok join", "x‿9",  # NNBSP + undertie are ExtendNumLet
    ]
    # round-5 goldens: supplementary-plane Mn/Mc attach like BMP marks
    assert UAX29_ANALYZER.tokenize("x\U0001d165y ve\U00011000da") == [
        "x\U0001d165y", "ve\U00011000da",
    ]
    assert UAX29_ANALYZER.tokenize("q\U000e0100r 3\U00010a01.14") == [
        "q\U000e0100r", "3\U00010a01.14",
    ]


def test_four_engines_agree_ascii_folding(spark):
    """The ASCII-folding contract (Lucene ASCIIFoldingFilter subset) holds
    across all four engines, including uppercase accents (lower() runs
    first) and the multi-char ae/oe/ss foldings."""
    from nlp4l_spark.analysis import FOLDING_ANALYZER, STANDARD_ANALYZER

    texts = _random_fold_texts(300, seed=9291)
    _assert_four_engines(spark, FOLDING_ANALYZER, texts)
    assert FOLDING_ANALYZER.tokenize("Café straße Œuvre") == [
        "cafe",
        "strasse",
        "oeuvre",
    ]
    # the unfolded analyzer splits at every diacritic — the gap folding fixes
    assert STANDARD_ANALYZER.tokenize("café straße") == ["caf", "stra", "e"]


def test_four_engines_agree_index_time_synonyms(spark):
    """Synonym injection (posinc-0, one-way rules incl. a multi-target
    key) must agree across all four engines, including on texts where
    the key never appears and where it collides with stopwords."""
    from nlp4l_spark.analysis import LUCENE_ENGLISH_STOPWORDS
    from nlp4l_spark.analysis.analyzer import Analyzer

    syn = Analyzer(
        stopwords=LUCENE_ENGLISH_STOPWORDS,
        synonyms=(("dup", "duplicate"), ("ml", "learning"), ("ml", "machine")),
    )
    texts = _random_texts(200, seed=77) + [
        "dup the dup",
        "ml and DUP",
        "no keys here",
        "",
        "dup ml dup ml",
    ]
    _assert_four_engines(spark, syn, texts)


@pytest.mark.parametrize(
    "name",
    ["standard", "synonyms", "shingles", "edge", "shingles+edge", "cjk", "porter"],
)
def test_term_positions_frame_matches_term_counts_frame(name):
    """The positions build's one tokenize pass (``token_stream``) yields
    the terms, tfs and dl of ``term_counts_frame``, plus each term's
    tf ascending positions, term-major."""
    from nlp4l_spark.analysis import LUCENE_ENGLISH_STOPWORDS as STOP
    from nlp4l_spark.analysis.analyzer import Analyzer
    from nlp4l_spark.analysis.stem import PorterAnalyzer
    from nlp4l_spark.analysis.unicode import UNICODE_CJK_ANALYZER
    from nlp4l_spark.data import LONDON_BRIDGE_VERSES

    an = {
        "standard": STANDARD_ANALYZER,
        "synonyms": Analyzer(stopwords=STOP, synonyms=(("dup", "duplicate"),)),
        "shingles": Analyzer(stopwords=STOP, shingle_size=2),
        "edge": Analyzer(stopwords=STOP, edge_ngrams=(2, 4)),
        "shingles+edge": Analyzer(shingle_size=2, edge_ngrams=(3, 5)),
        "cjk": UNICODE_CJK_ANALYZER,
        "porter": PorterAnalyzer(stopwords=STOP),
    }[name]
    texts = LONDON_BRIDGE_VERSES + [
        "dup rows in the scan", "a b", "", None, "東京都に住む the 猫",
        "quick quiet quick_brown quicker",
    ]
    counts = an.term_counts_frame(texts)
    pos = an.term_positions_frame(texts)
    assert pos[["terms", "tfs", "dl"]].to_dict("list") == counts.to_dict("list")
    for text, terms, tfs, flat in zip(
        texts, pos["terms"], pos["tfs"], pos["positions"]
    ):
        want: dict[str, list[int]] = {}
        for t, p, _s, _e in an.token_stream(text):
            want.setdefault(t, []).append(p)
        runs, i = {}, 0
        for t, tf in zip(terms, tfs):
            runs[t] = flat[i : i + tf]
            i += tf
        assert i == len(flat)
        assert runs == {t: sorted(v) for t, v in want.items()}


def test_synonym_token_stream_and_norms(spark):
    """posinc-0 contract: injected tokens share position/offsets with
    their source; dl (term_counts) counts the PRE-injection stream
    (BM25 discountOverlaps), while tfs include injections."""
    from nlp4l_spark.analysis.analyzer import Analyzer

    syn = Analyzer(stopwords=frozenset(), synonyms=(("dup", "duplicate"),))
    stream = syn.token_stream("dup scan dup")
    assert stream == [
        ("dup", 0, 0, 3),
        ("duplicate", 0, 0, 3),
        ("scan", 1, 4, 8),
        ("dup", 2, 9, 12),
        ("duplicate", 2, 9, 12),
    ]
    df = spark.createDataFrame([("dup scan dup",)], "text string")
    row = df.select(syn.term_counts_udf()(F.col("text")).alias("c")).first()["c"]
    counts = dict(zip(row["terms"], row["tfs"]))
    assert counts == {"dup": 2, "duplicate": 2, "scan": 1}
    assert row["dl"] == 3  # injected tokens never count toward length


def test_synonym_index_build_and_search(spark, tmp_path, phrase_paths_agree):
    """Index-time synonyms drop into the real build + BM25 + phrase
    path: searching the INJECTED variant finds source docs; the
    injected token shares its source's position, so phrases match
    through either variant (Lucene SynonymFilter posinc-0 semantics)."""
    from nlp4l_spark.analysis import LUCENE_ENGLISH_STOPWORDS
    from nlp4l_spark.analysis.analyzer import Analyzer
    from nlp4l_spark.index import IndexBuilder, check_index
    from nlp4l_spark.search import Searcher

    syn = Analyzer(
        stopwords=LUCENE_ENGLISH_STOPWORDS,
        synonyms=(("dup", "duplicate"),),
    )
    docs = spark.createDataFrame(
        [
            (0, "dup rows in the scan"),
            (1, "a duplicate record appeared"),
            (2, "nothing relevant here"),
            (3, "dup dup everywhere"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "syn_idx")
    IndexBuilder(
        analyzer=syn, sort_cols=("doc_id",), store_positions=True,
        store_term_vectors=True,
    ).build(docs, idx)
    s = Searcher(spark, idx, analyzer=syn)
    # query "duplicate" (itself expanded at query time is a no-op: the
    # rule is one-way dup=>duplicate) matches docs 0, 1, 3 via the index
    hits = {r["doc_id"] for r in s.search("duplicate", k=10).collect()}
    assert hits == {0, 1, 3}
    # tf of 'duplicate' in doc 3 is 2 (two injections) while its dl
    # stays 3 (discountOverlaps): doc 3 outranks doc 1 (tf 1)
    ranked = [r["doc_id"] for r in s.search("duplicate", k=10).collect()]
    assert ranked[0] == 3
    # phrase through the synonym: "duplicate rows" matches doc 0 because
    # the injected token sits at the source position
    ph = s.search_phrase("duplicate rows", k=10, method="postings").collect()
    assert [r["doc_id"] for r in ph] == [0]
    # the positions in the postings share the postings' dl, which counts
    # the pre-injection stream like doc_lens: the reader and the Spark
    # postings plan score every phrase exactly as the term_vectors path
    for q in ("duplicate rows", "dup rows", "rows", "dup"):
        phrase_paths_agree(s, q)
    report = check_index(spark, idx).collect()
    assert report and all(r["ok"] for r in report), report
