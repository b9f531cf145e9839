# Auto-split from the former monolithic entry_queries.py (round 4);
# cross-part names are imported explicitly so each query resolves
# from its own module globals exactly as in the monolith.
from __future__ import annotations

from nlp4l_spark.entry_queries.core import (  # noqa: F401
    BM25_K, BM25_QUERY, BM25_TERMS, F, STANDARD_ANALYZER, TOKS_CTE, _docs, os,
    tempfile,
)
from nlp4l_spark.entry_queries.search import (  # noqa: F401
    PHRASE_QUERY,
)
# Unicode / CJK analysis (stand-in for JaUserDictionaryProcessor,
# FeaturedProcessors.scala:302-342 — dictionary-free CJK bigrams)
# --------------------------------------------------------------------- #
UNI_SNIPPETS = [
    "漢字 解析 テスト 形態素",
    "café résumé naïve münchen",
    "москва зима тест поиск",
    "한국어 형태소 분석 검색",
]


def _uni_augmented_sql_case() -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(UNI_SNIPPETS)
    )
    return f"(text || ' ' || CASE doc_id % 4 {whens} END)"


def q_unicode_wordcount(spark, sf_dir):
    """Multilingual wordcount through the Unicode+CJK-bigram analyzer
    (UnicodeCJKAnalyzer): the documents corpus deterministically augmented
    with CJK/Cyrillic/accented-Latin snippets keyed by doc_id, tokenized
    by the 4-engine-identical unicode contract, top-30 terms by cf. The
    base ASCII analyzer tokenizes all of the added text to nothing — this
    query is green ONLY if the unicode contract matches in Spark and
    DuckDB."""
    from nlp4l_spark.analysis.unicode import UNICODE_CJK_ANALYZER

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    snip = F.element_at(
        F.array(*[F.lit(s) for s in UNI_SNIPPETS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    aug = docs.withColumn("text", F.concat_ws(" ", F.col("text"), snip))
    toks = UNICODE_CJK_ANALYZER.tokens_expr("text")
    return (
        aug.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(30)
    )


def _o_unicode_wordcount() -> str:
    from nlp4l_spark.analysis.unicode import UNICODE_CJK_ANALYZER

    tok = UNICODE_CJK_ANALYZER.duckdb_tokens_sql("text")
    return f"""
WITH aug AS (SELECT doc_id, {_uni_augmented_sql_case()} AS text FROM documents),
toks AS (SELECT unnest({tok}) AS term FROM aug)
SELECT term, count(*)::bigint AS cf FROM toks GROUP BY term
ORDER BY cf DESC, term ASC LIMIT 30
"""


O_UNICODE_WORDCOUNT = _o_unicode_wordcount()


# --------------------------------------------------------------------- #
# Dictionary-based Japanese analysis (JaUserDictionaryProcessor,
# FeaturedProcessors.scala:302-342 — real user-dictionary segmentation,
# analysis/jadict.py; upgrades the round-2 bigram-only stand-in)
# --------------------------------------------------------------------- #
JA_SNIPPETS = [
    "関西国際空港から東京大学へ移動した",
    "日本経済新聞で全文検索の記事を読む",
    "形態素解析は全文検索エンジンの基盤技術",
    "東京大学の研究者が関西国際空港に到着",
]


def q_ja_dict_wordcount(spark, sf_dir):
    """Wordcount through the user-dictionary Japanese analyzer
    (JA_DICT_ANALYZER): the corpus augmented with Japanese snippets keyed
    by doc_id, tokenized by the dictionary contract (leftmost-longest
    user-entry match -> dictionary segments; CJK-bigram fallback
    elsewhere), top-30 terms by cf. Green ONLY if the single-pass
    alternation match + segment expansion behaves identically in Spark
    (Java regex) and DuckDB (RE2): dictionary hits like 関西国際空港 must
    count as 関西/国際/空港, never as bigrams."""
    from nlp4l_spark.analysis.jadict import JA_DICT_ANALYZER

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    snip = F.element_at(
        F.array(*[F.lit(s) for s in JA_SNIPPETS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    aug = docs.withColumn("text", F.concat_ws(" ", F.col("text"), snip))
    toks = JA_DICT_ANALYZER.tokens_expr("text")
    return (
        aug.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(30)
    )


def _o_ja_dict_wordcount() -> str:
    from nlp4l_spark.analysis.jadict import JA_DICT_ANALYZER

    whens = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(JA_SNIPPETS)
    )
    aug = f"(text || ' ' || CASE doc_id % 4 {whens} END)"
    tok = JA_DICT_ANALYZER.duckdb_tokens_sql("text")
    return f"""
WITH aug AS (SELECT doc_id, {aug} AS text FROM documents),
toks AS (SELECT unnest({tok}) AS term FROM aug)
SELECT term, count(*)::bigint AS cf FROM toks GROUP BY term
ORDER BY cf DESC, term ASC LIMIT 30
"""


O_JA_DICT_WORDCOUNT = _o_ja_dict_wordcount()


def q_ja_user_dict_records(spark, sf_dir):
    """JaUserDictionaryProcessor end-to-end (generateRecord,
    FeaturedProcessors.scala:324-341): surfaces sampled from the corpus
    (every 97th doc picks a Japanese phrase by doc_id), the processor
    emits (surface, terms, readings, pos) with terms/readings
    space-joined and NOREADING where the dictionary has no reading —
    one JVM scan, readings via a broadcast map literal (no join)."""
    from nlp4l_spark.analysis.jadict import JA_DICT_ANALYZER
    from nlp4l_spark.ops.processors import ja_user_dictionary

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0)
    surf = F.element_at(
        F.array(*[F.lit(s) for s in JA_SNIPPETS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    src = docs.select("doc_id", surf.alias("ja_text"))
    out = ja_user_dictionary(src, "ja_text", JA_DICT_ANALYZER)
    return out.select("doc_id", "surface", "terms", "readings", "pos").orderBy(
        "doc_id"
    )


def _o_ja_user_dict_records() -> str:
    from nlp4l_spark.analysis.jadict import (
        DEFAULT_POS,
        JA_DICT_ANALYZER,
        NOREADING,
    )

    whens = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(JA_SNIPPETS)
    )
    tok = JA_DICT_ANALYZER.duckdb_tokens_sql("ja_text")
    rmap = JA_DICT_ANALYZER.reading_map()
    rwhens = " ".join(
        f"WHEN t = '{k}' THEN '{rmap[k]}'" for k in sorted(rmap)
    )
    return f"""
WITH src AS (
  SELECT doc_id, CASE doc_id % 4 {whens} END AS ja_text
  FROM documents WHERE doc_id % 97 = 0
),
tokd AS (SELECT doc_id, ja_text, {tok} AS toks FROM src)
SELECT doc_id, ja_text AS surface,
       array_to_string(toks, ' ') AS terms,
       array_to_string(
         list_transform(toks, t -> CASE {rwhens} ELSE '{NOREADING}' END),
         ' ') AS readings,
       '{DEFAULT_POS}' AS pos
FROM tokd ORDER BY doc_id
"""


O_JA_USER_DICT_RECORDS = _o_ja_user_dict_records()


# Pure-CJK snippets (each a single CJK run — the oracle's lattice CTE
# operates per run). The first two cross the overlapping 東京/東/京都
# entries, so the min-cost path VISIBLY disagrees with leftmost-longest
# (東|京都 beats 東京) — the behavior the lattice exists for.
JA_LATTICE_SNIPPETS = [
    "東京都圏の全文検索",
    "関西国際空港から東京都へ",
    "形態素解析は基盤技術",
    "日本経済新聞と東京大学",
]


def q_ja_lattice_records(spark, sf_dir):
    """Dictionary-LATTICE segmentation (analysis/jadict.py::
    JaLatticeAnalyzer — per-entry costs + min-cost path over the match
    lattice, the Kuromoji shape; JaUserDictionaryProcessor semantics,
    FeaturedProcessors.scala:302-342). Arrow engine on the scan (a
    cost-minimizing path is not a scalar JVM expression); the DuckDB
    twin replays the SAME path enumeration as a recursive CTE over
    (doc, last_end) states, min by the SAME (cost, path-string) order —
    shared constants via lattice_paths_sql_parts()."""
    from nlp4l_spark.analysis.jadict import JA_LATTICE_ANALYZER

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0)
    surf = F.element_at(
        F.array(*[F.lit(s) for s in JA_LATTICE_SNIPPETS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    tok = JA_LATTICE_ANALYZER.tokenize_udf()
    return (
        docs.select("doc_id", surf.alias("surface"))
        .withColumn("terms", F.array_join(tok(F.col("surface")), " "))
        .orderBy("doc_id")
    )


def _o_ja_lattice_records() -> str:
    from nlp4l_spark.analysis.jadict import JA_LATTICE_ANALYZER

    parts = JA_LATTICE_ANALYZER.lattice_paths_sql_parts()
    unk = parts["unk_char_cost"]
    ent_vals = ", ".join(
        f"('{s}', {c}, '{' '.join(segs)}')"
        for s, c, segs in parts["entries"]
    )
    whens = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(JA_LATTICE_SNIPPETS)
    )

    def gap(g: str) -> str:
        return (
            f"CASE WHEN len({g}) = 0 THEN CAST([] AS VARCHAR[]) "
            f"WHEN len({g}) = 1 THEN [{g}] "
            f"ELSE list_transform(range(1, len({g})), "
            f"k -> substr({g}, k::int, 2)) END"
        )

    mid_gap = gap("substr(p.run, p.last_end + 1, m.s1 - 1 - p.last_end)")
    tail_gap = gap("substr(run, last_end + 1, len(run) - last_end)")
    return f"""
WITH RECURSIVE
src AS (SELECT doc_id, CASE doc_id % 4 {whens} END AS run
        FROM documents WHERE doc_id % 97 = 0),
ent(surface, cost, segs) AS (VALUES {ent_vals}),
pos AS (SELECT doc_id, run, unnest(range(1, len(run) + 1)) AS i FROM src),
m AS (SELECT p.doc_id, e.surface, e.cost, e.segs, p.i::int AS s1
      FROM pos p JOIN ent e
        ON substr(p.run, p.i::int, len(e.surface)) = e.surface),
paths AS (
  SELECT doc_id, run, 0::bigint AS cost, 0 AS last_end,
         '' AS path, CAST([] AS VARCHAR[]) AS toks
  FROM src
  UNION ALL
  SELECT p.doc_id, p.run,
         p.cost + m.cost + {unk} * (m.s1 - 1 - p.last_end),
         m.s1 - 1 + len(m.surface),
         p.path || CASE WHEN p.path = '' THEN '' ELSE chr(31) END
                || CAST(m.s1 - 1 AS VARCHAR) || ':' || m.surface,
         p.toks || {mid_gap} || string_split(m.segs, ' ')
  FROM paths p JOIN m ON m.doc_id = p.doc_id AND m.s1 - 1 >= p.last_end
),
done AS (
  SELECT doc_id, run, cost + {unk} * (len(run) - last_end) AS total, path,
         toks || {tail_gap} AS toks
  FROM paths
),
best AS (SELECT doc_id, run, toks,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY total, path) AS rn
         FROM done)
SELECT doc_id, run AS surface, array_to_string(toks, ' ') AS terms
FROM best WHERE rn = 1 ORDER BY doc_id
"""


O_JA_LATTICE_RECORDS = _o_ja_lattice_records()


# Pure-CJK snippets for the BUILT-IN dictionary (each a single CJK run;
# no user entries anywhere — segmentation comes entirely from the
# shipped ja_builtin_mini.csv lexicon, VERDICT r4 #6). Coverage mix:
# compounds that must win over their parts (自然言語処理, 関西国際空港),
# particles, a verb+auxiliary chain, katakana lexicon words, and gap
# characters (圏/違/人口) that fall back to bigrams.
JA_BUILTIN_SNIPPETS = [
    "私は東京大学で自然言語処理を勉強します",
    "全文検索の索引を作る",
    "関西国際空港から京都へ行った",
    "データベースの設計と運用は重要です",
]


def q_ja_builtin_lattice_records(spark, sf_dir):
    """BUILT-IN-dictionary lattice segmentation (analysis/jadict.py::
    JaViterbiAnalyzer over the shipped ~285-entry mini lexicon — true
    Viterbi position-DP, O(run x surface-lengths), because exhaustive
    path enumeration is exponential at lexicon density): the Kuromoji
    default-dictionary role (JapaneseAnalyzer always carries IPADIC;
    JaUserDictionaryProcessor layers user entries on top,
    FeaturedProcessors.scala:302-342). No user entries here — every
    segment comes from the built-in lexicon, gaps fall back to CJK
    bigrams. Arrow engine on the scan; the DuckDB twin unrolls the SAME
    DP position by position (JaViterbiAnalyzer.viterbi_sql), same
    (cost, path) comparisons, so the engines agree by construction."""
    from nlp4l_spark.analysis.jadict import JA_BUILTIN_ANALYZER

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0)
    surf = F.element_at(
        F.array(*[F.lit(s) for s in JA_BUILTIN_SNIPPETS]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    tok = JA_BUILTIN_ANALYZER.tokenize_udf()
    return (
        docs.select("doc_id", surf.alias("surface"))
        .withColumn("terms", F.array_join(tok(F.col("surface")), " "))
        .orderBy("doc_id")
    )


def _o_ja_builtin_lattice_records() -> str:
    from nlp4l_spark.analysis.jadict import JA_BUILTIN_ANALYZER

    whens = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(JA_BUILTIN_SNIPPETS)
    )
    max_len = max(len(s) for s in JA_BUILTIN_SNIPPETS)
    return f"""
WITH src AS MATERIALIZED (
  SELECT doc_id, CASE doc_id % 4 {whens} END AS run
  FROM documents WHERE doc_id % 97 = 0),
{JA_BUILTIN_ANALYZER.viterbi_sql("src", max_len)}
SELECT doc_id, run AS surface, array_to_string(toks, ' ') AS terms
FROM vit ORDER BY doc_id
"""


O_JA_BUILTIN_LATTICE_RECORDS = _o_ja_builtin_lattice_records()


def _index_cache_dir(sf_dir: str) -> str:
    key = sf_dir.strip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), f"nlp4l_idx_{key}")


HL_IDX_W = 8
_STOP_SQL = ", ".join(
    f"'{w}'" for w in sorted(STANDARD_ANALYZER.stopwords)
)


def q_index_highlight(spark, sf_dir):
    """Index-served highlighting (Searcher.highlight_indexed): BM25
    top-k via postings, snippets reconstructed ENTIRELY from the
    term_vectors forward index — stored text never read, corpus never
    re-tokenized; stopword holes stay holes (exactly Lucene's
    offsets-from-postings highlight mode). The term_vectors stage is
    resume-added to the cached index. Oracle:
    identical window semantics recomputed from raw-stream token
    positions with the analyzer's stop list applied."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.index.catalog import IndexCatalog
    from nlp4l_spark.search import Searcher

    idx = _index_cache_dir(sf_dir)
    cat = IndexCatalog(idx)
    if not cat.is_committed("term_vectors"):
        IndexBuilder(
            sort_cols=("doc_id",), store_term_vectors=True
        ).build(_docs(spark, sf_dir), idx)
    s = Searcher(spark, idx)
    return s.highlight_indexed(BM25_QUERY, k=BM25_K, window=HL_IDX_W)


O_INDEX_HIGHLIGHT = f"""
WITH {TOKS_CTE},
dt AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::double AS dl FROM toks GROUP BY 1),
st AS (SELECT count(*)::double AS n,
              (SELECT count(*) FROM toks)::double / count(*) AS avgdl FROM dl),
qt AS (SELECT unnest({BM25_TERMS!r}) AS term),
dfm AS (SELECT term, count(*)::double AS df FROM dt JOIN qt USING (term) GROUP BY 1),
sc AS (SELECT dt.doc_id,
              sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                  * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS s
       FROM dt JOIN dfm USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       GROUP BY dt.doc_id),
top AS (SELECT doc_id, round(s, 6) AS score FROM sc
        ORDER BY round(s, 6) DESC, doc_id ASC LIMIT {BM25_K}),
ftq AS (SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                 AS term,
               generate_subscripts(
                 regexp_extract_all(lower(text), '[a-z0-9]+'), 1) - 1
                 AS pos
        FROM documents),
tvx AS (SELECT f.doc_id, f.term, f.pos
        FROM ftq f JOIN top USING (doc_id)
        WHERE f.term NOT IN ({_STOP_SQL})),
qp AS (SELECT doc_id, pos AS p FROM tvx
       WHERE term IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})),
cand AS (SELECT qp.doc_id, qp.p,
                (SELECT count(DISTINCT t.term) FROM tvx t
                 WHERE t.doc_id = qp.doc_id AND t.pos >= qp.p
                   AND t.pos < qp.p + {HL_IDX_W}
                   AND t.term IN
                     ({", ".join(f"'{t}'" for t in BM25_TERMS)}))
                  AS hits
         FROM qp),
best AS (SELECT doc_id, p, hits FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY hits DESC, p ASC) AS rn FROM cand)
         WHERE rn = 1),
snip AS (SELECT b.doc_id,
                string_agg(
                  CASE WHEN t.term IN
                    ({", ".join(f"'{t}'" for t in BM25_TERMS)})
                  THEN upper(t.term) ELSE t.term END,
                  ' ' ORDER BY t.pos) AS snippet
         FROM best b JOIN tvx t
           ON t.doc_id = b.doc_id AND t.pos >= b.p
          AND t.pos < b.p + {HL_IDX_W}
         GROUP BY b.doc_id)
SELECT top.doc_id, top.score, best.p::bigint AS start_pos,
       best.hits::bigint AS n_hits, snip.snippet
FROM top JOIN best USING (doc_id) JOIN snip USING (doc_id)
ORDER BY top.score DESC, top.doc_id ASC
"""


def q_index_bm25_topk(spark, sf_dir):
    """The real engine path: build (or reuse) the compressed posting-list
    index for the documents table, answer with block-max WAND."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.index.catalog import IndexCatalog
    from nlp4l_spark.search import Searcher

    idx = _index_cache_dir(sf_dir)
    cat = IndexCatalog(idx)
    if not cat.is_committed("field_stats"):
        IndexBuilder(sort_cols=("doc_id",)).build(_docs(spark, sf_dir), idx)
    s = Searcher(spark, idx)
    res = s.search(BM25_QUERY, k=BM25_K, method="wand")
    return res.select("doc_id", F.round("score", 6).alias("score"))


PRUNE_P = 64


def q_pruned_bm25_topk(spark, sf_dir):
    """Static impact-ordered index pruning (Carmel et al.): top-k served
    from a bounded tier keeping only each term's top-P postings by BM25
    impact (tie doc_id asc), scored with FULL-index stats — worst-case
    query cost O(|q|*P) regardless of corpus size, the 10^12-turn cheap
    first pass. Engine: index/pruning.py materializes the tier on the
    committed layout (resume-committed like every stage); WAND runs on
    it unchanged. Oracle mirrors the exact contract: per-term row_number
    over (impact DESC, doc_id) <= P, idf/avgdl from the unpruned
    corpus."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.index.catalog import IndexCatalog
    from nlp4l_spark.index.pruning import prune_postings
    from nlp4l_spark.search import Searcher

    idx = _index_cache_dir(sf_dir)
    cat = IndexCatalog(idx)
    if not cat.is_committed("field_stats"):
        IndexBuilder(sort_cols=("doc_id",)).build(_docs(spark, sf_dir), idx)
    tbl = prune_postings(spark, idx, PRUNE_P)
    s = Searcher(spark, idx, postings_table=tbl)
    res = s.search(BM25_QUERY, k=BM25_K, method="wand")
    return res.select("doc_id", F.round("score", 6).alias("score"))


O_PRUNED_BM25_TOPK = f"""
WITH {TOKS_CTE},
dt AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::double AS dl FROM toks GROUP BY 1),
st AS (SELECT count(*)::double AS n,
              (SELECT count(*) FROM toks)::double / count(*) AS avgdl FROM dl),
qt AS (SELECT unnest({BM25_TERMS!r}) AS term),
dfm AS (SELECT term, count(*)::double AS df
        FROM dt JOIN qt USING (term) GROUP BY 1),
imp AS (SELECT dt.doc_id, dt.term,
               tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS impact
        FROM dt JOIN qt USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
kept AS (SELECT doc_id, term, impact FROM (
           SELECT doc_id, term, impact,
                  row_number() OVER (PARTITION BY term
                    ORDER BY impact DESC, doc_id ASC) AS rn
           FROM imp)
         WHERE rn <= {PRUNE_P}),
sc AS (SELECT kept.doc_id,
              sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * impact) AS s
       FROM kept JOIN dfm USING (term) CROSS JOIN st
       GROUP BY kept.doc_id)
SELECT doc_id, round(s, 6) AS score FROM sc
ORDER BY s DESC, doc_id ASC LIMIT {BM25_K}
"""


TIER_WINDOW = 50


def q_tiered_bm25_topk(spark, sf_dir):
    """Tiered retrieval end-to-end (Searcher.search_tiered): cheap first
    pass on the P=64 pruned tier picks the rounded top-50 window, exact
    full-index BM25 rescores the window only — returned scores are
    bit-identical to the unpruned engine for every surviving doc. The
    10^12-turn serving shape: first pass O(|q|·P), second pass
    window-bounded, nothing corpus-sized at query time."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.index.catalog import IndexCatalog
    from nlp4l_spark.index.pruning import prune_postings
    from nlp4l_spark.search import Searcher

    idx = _index_cache_dir(sf_dir)
    cat = IndexCatalog(idx)
    if not cat.is_committed("field_stats"):
        IndexBuilder(sort_cols=("doc_id",)).build(_docs(spark, sf_dir), idx)
    prune_postings(spark, idx, PRUNE_P)
    s = Searcher(spark, idx)
    res = s.search_tiered(BM25_QUERY, k=BM25_K, window=TIER_WINDOW)
    return res.select("doc_id", F.round("score", 6).alias("score"))


O_TIERED_BM25_TOPK = f"""
WITH {TOKS_CTE},
dt AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::double AS dl FROM toks GROUP BY 1),
st AS (SELECT count(*)::double AS n,
              (SELECT count(*) FROM toks)::double / count(*) AS avgdl FROM dl),
qt AS (SELECT unnest({BM25_TERMS!r}) AS term),
dfm AS (SELECT term, count(*)::double AS df
        FROM dt JOIN qt USING (term) GROUP BY 1),
imp AS (SELECT dt.doc_id, dt.term,
               tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS impact
        FROM dt JOIN qt USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
kept AS (SELECT doc_id, term, impact FROM (
           SELECT doc_id, term, impact,
                  row_number() OVER (PARTITION BY term
                    ORDER BY impact DESC, doc_id ASC) AS rn
           FROM imp)
         WHERE rn <= {PRUNE_P}),
s1 AS (SELECT kept.doc_id,
              sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * impact) AS s1
       FROM kept JOIN dfm USING (term) CROSS JOIN st
       GROUP BY kept.doc_id),
win AS (SELECT doc_id FROM s1
        ORDER BY round(s1, 6) DESC, doc_id ASC LIMIT {TIER_WINDOW}),
sc AS (SELECT dt.doc_id,
              sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                  * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS s
       FROM dt JOIN dfm USING (term) JOIN dl USING (doc_id)
            JOIN win USING (doc_id) CROSS JOIN st
       GROUP BY dt.doc_id)
SELECT doc_id, round(s, 6) AS score FROM sc
ORDER BY s DESC, doc_id ASC LIMIT {BM25_K}
"""


PRUNE_CURVE_PS = (8, 16, 32, 64)


def q_prune_tuning_curve(spark, sf_dir):
    """Pruning quality-vs-cost curve: recall@10 of the P-pruned tier
    against the full-index top-10, plus the postings actually touchable
    for this query (Σ min(df, P) over query terms) — the evidence a
    10^12-turn deployment uses to pick P. Engine path: one materialized
    tier per P (resume-committed), WAND on each."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.index.catalog import IndexCatalog
    from nlp4l_spark.index.pruning import prune_postings
    from nlp4l_spark.search import Searcher

    idx = _index_cache_dir(sf_dir)
    cat = IndexCatalog(idx)
    if not cat.is_committed("field_stats"):
        IndexBuilder(sort_cols=("doc_id",)).build(_docs(spark, sf_dir), idx)
    s_full = Searcher(spark, idx)
    full_ids = {
        r["doc_id"]
        for r in s_full.search(BM25_QUERY, k=BM25_K, method="wand").collect()
    }
    terms = sorted(set(s_full.analyzer.tokenize(BM25_QUERY)))
    dfs = s_full._term_stats(terms)
    rows = []
    for p in PRUNE_CURVE_PS:
        tbl = prune_postings(spark, idx, p)
        got = {
            r["doc_id"]
            for r in Searcher(spark, idx, postings_table=tbl)
            .search(BM25_QUERY, k=BM25_K, method="wand")
            .collect()
        }
        kept = sum(min(int(dfs[t]), p) for t in terms if t in dfs)
        rows.append(
            (p, kept, round(len(got & full_ids) / float(BM25_K), 6))
        )
    return spark.createDataFrame(
        rows, "keep_p int, kept_query_postings long, recall_at_10 double"
    )


def _o_prune_tuning_curve() -> str:
    per_p = []
    for p in PRUNE_CURVE_PS:
        per_p.append(f"""
SELECT {p} AS keep_p,
       (SELECT sum(least(df, {p}))::bigint FROM dfm) AS kept_query_postings,
       (SELECT count(*)::double / {BM25_K} FROM
          (SELECT doc_id FROM s1_{p}
           ORDER BY s1 DESC, doc_id ASC LIMIT {BM25_K}) AS t{p}
          WHERE doc_id IN (SELECT doc_id FROM fulltop)) AS recall_at_10""")
    s1_ctes = ",\n".join(
        f"""kept_{p} AS (SELECT doc_id, term, impact FROM ranked
         WHERE rn <= {p}),
s1_{p} AS (SELECT kept_{p}.doc_id,
              sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * impact) AS s1
       FROM kept_{p} JOIN dfm USING (term) CROSS JOIN st
       GROUP BY kept_{p}.doc_id)"""
        for p in PRUNE_CURVE_PS
    )
    return f"""
WITH {TOKS_CTE},
dt AS (SELECT doc_id, term, count(*)::double AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::double AS dl FROM toks GROUP BY 1),
st AS (SELECT count(*)::double AS n,
              (SELECT count(*) FROM toks)::double / count(*) AS avgdl FROM dl),
qt AS (SELECT unnest({BM25_TERMS!r}) AS term),
dfm AS (SELECT term, count(*)::double AS df
        FROM dt JOIN qt USING (term) GROUP BY 1),
imp AS (SELECT dt.doc_id, dt.term,
               tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS impact
        FROM dt JOIN qt USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
ranked AS (SELECT doc_id, term, impact,
                  row_number() OVER (PARTITION BY term
                    ORDER BY impact DESC, doc_id ASC) AS rn
           FROM imp),
fullsc AS (SELECT imp.doc_id,
              sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * impact) AS s
       FROM imp JOIN dfm USING (term) CROSS JOIN st
       GROUP BY imp.doc_id),
fulltop AS (SELECT doc_id FROM fullsc
            ORDER BY s DESC, doc_id ASC LIMIT {BM25_K}),
{s1_ctes}
{" UNION ALL ".join(per_p)}
ORDER BY keep_p
"""


O_PRUNE_TUNING_CURVE = _o_prune_tuning_curve()


def q_index_maxscore_topk(spark, sf_dir):
    """Same compressed-index path answered with MaxScore dynamic pruning
    (Lucene's MaxScoreBulkScorer shape; Turtle & Flood) instead of
    block-max WAND — result-identical by construction (the two strategies
    share the shard harness and skip rule; tests/test_maxscore.py), so
    the oracle is the same BM25 SQL."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.index.catalog import IndexCatalog
    from nlp4l_spark.search import Searcher

    idx = _index_cache_dir(sf_dir)
    cat = IndexCatalog(idx)
    if not cat.is_committed("field_stats"):
        IndexBuilder(sort_cols=("doc_id",)).build(_docs(spark, sf_dir), idx)
    s = Searcher(spark, idx)
    res = s.search(BM25_QUERY, k=BM25_K, method="maxscore")
    return res.select("doc_id", F.round("score", 6).alias("score"))


def q_multi_index_bm25_topk(spark, sf_dir):
    """Federated-search path (Searcher composition, the MultiReader
    shape): the documents table split at its docID midpoint into TWO
    independently built indexes, searched through MultiSearcher with
    blended global stats. The split is a prefix split in the builder's
    (doc_id) sort order, so the docBase offsets reproduce the original
    doc_ids — and BM25 over blended (N, df, avgdl) is EXACTLY the
    whole-corpus BM25, so the oracle is the same SQL as bm25_topk.
    Identity vs the single-index path is additionally asserted in
    tests/test_multisearcher.py."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.index.catalog import IndexCatalog
    from nlp4l_spark.search import MultiSearcher

    docs = _docs(spark, sf_dir)
    base = _index_cache_dir(sf_dir)
    dirs = [f"{base}_splitA", f"{base}_splitB"]
    if not all(IndexCatalog(d).is_committed("field_stats") for d in dirs):
        k = docs.count() // 2
        IndexBuilder(sort_cols=("doc_id",)).build(
            docs.filter(F.col("doc_id") < k), dirs[0]
        )
        IndexBuilder(sort_cols=("doc_id",)).build(
            docs.filter(F.col("doc_id") >= k), dirs[1]
        )
    ms = MultiSearcher(spark, dirs)
    res = ms.search(BM25_QUERY, k=BM25_K)
    return res.select("doc_id", F.round("score", 6).alias("score"))


def q_index_phrase_topk(spark, sf_dir):
    """The phrase SCALE path, driver-verified: positions ride inside the
    postings (a store_positions build over the cached index re-runs the
    stages from the forward index on, with positions, keeping stored),
    the adjacency check runs in a per-shard Arrow task — no corpus-sized
    join (tests/test_plans.py guards the plan). Same oracle as the corpus
    path: the two are rank- and score-identical."""
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.index.builder import has_positions
    from nlp4l_spark.index.catalog import IndexCatalog
    from nlp4l_spark.search import Searcher

    idx = _index_cache_dir(sf_dir)
    cat = IndexCatalog(idx)
    if not has_positions(cat):
        IndexBuilder(sort_cols=("doc_id",), store_positions=True).build(
            _docs(spark, sf_dir), idx
        )
    s = Searcher(spark, idx)
    res = s.search_phrase(PHRASE_QUERY, k=BM25_K, method="postings")
    return res.select("doc_id", F.round("score", 6).alias("score"))


# --------------------------------------------------------------------- #
