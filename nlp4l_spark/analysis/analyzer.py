"""Analyzer: the tokenization/normalization contract of the engine.

Reference semantics (what, not how): Lucene analysis chains built by
``SchemaLoader.buildAnalyzer`` (/root/reference/app/org/nlp4l/lucene/
SchemaLoader.scala:98-149) — char filters -> tokenizer -> token filters.
The indexed-text pipeline used by every golden test is ``StandardAnalyzer``:
UAX#29 word break + lowercase + the 33-word English stop set
(/root/reference/test/org/nlp4l/lucene/RawReaderSpec.scala:30,
 stats/TFIDFSuite.scala:33).

Our contract (documented deviation, pinned by the pure-Python oracle, see
SURVEY.md §7.3): tokens are maximal ASCII ``[a-z0-9]+`` runs of the
lowercased text. This is identical to UAX#29 on the fixture/synthetic
alphabet (ASCII letters, digits, whitespace incl. U+3000, and punctuation)
and is expressible 1:1 in Spark SQL, DuckDB SQL (the correctness oracle),
and NumPy/pandas.

Two execution engines produce identical tokens:

* ``tokens_col`` — pure Spark SQL expressions (JVM, whole-stage codegen;
  zero Python in the hot path). Preferred for ad-hoc queries.
* ``tokenize_udf`` / ``term_counts_udf`` — Arrow-vectorized pandas UDFs
  (the ``north_star`` index-build path; one pass computes per-doc term
  counts so the explode after it is narrow).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Lucene's StopAnalyzer.ENGLISH_STOP_WORDS_SET (Lucene 7.2.1), identical to
# /root/reference/test/resources/org/nlp4l/lucene/stopwords_en.txt
LUCENE_ENGLISH_STOPWORDS: frozenset[str] = frozenset(
    """a an and are as at be but by for if in into is it no not of on or
    such that the their then there these they this to was will with""".split()
)

TOKEN_PATTERN = r"[a-z0-9]+"
_TOKEN_RE = re.compile(TOKEN_PATTERN)

# ---- UAX#29 word-break mode (round 3) ------------------------------------
# A closer match to Lucene's StandardTokenizer (UAX#29 default rules) on
# the Latin contract alphabet, as ONE regex valid in Python re, Java
# regex (Spark), and RE2 (DuckDB) — so it must avoid lookarounds (RE2 has
# none). The trick: encode the word-break automaton as typed runs, where
# a mid-token joiner is only consumable when the run on BOTH sides has
# the right type:
#   WB6/WB7   letter  × ['’.] × letter   (MidLetter/MidNumLet/Single_Quote:
#             don't, u.s.a, o’brien stay single tokens)
#   WB11/WB12 numeric × [.,'’] × numeric (MidNum/MidNumLet/Single_Quote:
#             3.14, 1,000, 1'000 stay single tokens)
#   WB9/WB10  letter × digit mixes freely (b2b, x86)
#   Extend    combining marks U+0300-U+036F attach to the preceding char
#             (cafe + U+0301 is one token, mark kept)
# A joiner with mismatched sides ("x.5", "a,b") or at an edge ("foo.",
# "'bar") breaks, exactly as UAX#29 prescribes. Hyphens are NOT joiners
# (UAX#29 breaks "state-of-the-art" into four words — so does Lucene).
# Extend class (WB4): ALL Mn/Mc combining marks — BMP (generated from
# unicodedata General_Category over U+0000-U+FFFF; 192 ranges) AND,
# since round 5, the supplementary planes (U+10000-U+10FFFF; 110 ranges,
# 1072 code points, Unicode 14.0 — Brahmi/Kharoshthi/musical/variation-
# selector families; all three engines accept supplementary code points
# inside a character class: Python re natively, Java regex as surrogate
# pairs treated as code points, RE2 as UTF-8) plus ZWJ U+200D, which
# WB3c/WB4 make transparent mid-token exactly like a combining mark.
# Remaining divergence from Lucene's StandardTokenizer (documented, with
# tests): non-ZWJ Format (Cf) transparency, Regional_Indicator pairs,
# and the script-run rules (WB7a-c Hebrew, Katakana WB13); the contract
# alphabet is still Latin a-z0-9, so marks only ever attach to those
# bases.
_UAX_MN_MC = (
    "\u0300-\u036f\u0483-\u0487\u0591-\u05bd\u05bf\u05c1-\u05c2\u05c4"
    "-\u05c5\u05c7\u0610-\u061a\u064b-\u065f\u0670\u06d6-\u06dc\u06df"
    "-\u06e4\u06e7-\u06e8\u06ea-\u06ed\u0711\u0730-\u074a\u07a6-"
    "\u07b0\u07eb-\u07f3\u07fd\u0816-\u0819\u081b-\u0823\u0825-\u0827"
    "\u0829-\u082d\u0859-\u085b\u0898-\u089f\u08ca-\u08e1\u08e3-"
    "\u0903\u093a-\u093c\u093e-\u094f\u0951-\u0957\u0962-\u0963\u0981"
    "-\u0983\u09bc\u09be-\u09c4\u09c7-\u09c8\u09cb-\u09cd\u09d7\u09e2"
    "-\u09e3\u09fe\u0a01-\u0a03\u0a3c\u0a3e-\u0a42\u0a47-\u0a48\u0a4b"
    "-\u0a4d\u0a51\u0a70-\u0a71\u0a75\u0a81-\u0a83\u0abc\u0abe-\u0ac5"
    "\u0ac7-\u0ac9\u0acb-\u0acd\u0ae2-\u0ae3\u0afa-\u0aff\u0b01-"
    "\u0b03\u0b3c\u0b3e-\u0b44\u0b47-\u0b48\u0b4b-\u0b4d\u0b55-\u0b57"
    "\u0b62-\u0b63\u0b82\u0bbe-\u0bc2\u0bc6-\u0bc8\u0bca-\u0bcd\u0bd7"
    "\u0c00-\u0c04\u0c3c\u0c3e-\u0c44\u0c46-\u0c48\u0c4a-\u0c4d\u0c55"
    "-\u0c56\u0c62-\u0c63\u0c81-\u0c83\u0cbc\u0cbe-\u0cc4\u0cc6-"
    "\u0cc8\u0cca-\u0ccd\u0cd5-\u0cd6\u0ce2-\u0ce3\u0d00-\u0d03\u0d3b"
    "-\u0d3c\u0d3e-\u0d44\u0d46-\u0d48\u0d4a-\u0d4d\u0d57\u0d62-"
    "\u0d63\u0d81-\u0d83\u0dca\u0dcf-\u0dd4\u0dd6\u0dd8-\u0ddf\u0df2-"
    "\u0df3\u0e31\u0e34-\u0e3a\u0e47-\u0e4e\u0eb1\u0eb4-\u0ebc\u0ec8-"
    "\u0ecd\u0f18-\u0f19\u0f35\u0f37\u0f39\u0f3e-\u0f3f\u0f71-\u0f84"
    "\u0f86-\u0f87\u0f8d-\u0f97\u0f99-\u0fbc\u0fc6\u102b-\u103e\u1056"
    "-\u1059\u105e-\u1060\u1062-\u1064\u1067-\u106d\u1071-\u1074"
    "\u1082-\u108d\u108f\u109a-\u109d\u135d-\u135f\u1712-\u1715\u1732"
    "-\u1734\u1752-\u1753\u1772-\u1773\u17b4-\u17d3\u17dd\u180b-"
    "\u180d\u180f\u1885-\u1886\u18a9\u1920-\u192b\u1930-\u193b\u1a17-"
    "\u1a1b\u1a55-\u1a5e\u1a60-\u1a7c\u1a7f\u1ab0-\u1abd\u1abf-\u1ace"
    "\u1b00-\u1b04\u1b34-\u1b44\u1b6b-\u1b73\u1b80-\u1b82\u1ba1-"
    "\u1bad\u1be6-\u1bf3\u1c24-\u1c37\u1cd0-\u1cd2\u1cd4-\u1ce8\u1ced"
    "\u1cf4\u1cf7-\u1cf9\u1dc0-\u1dff\u20d0-\u20dc\u20e1\u20e5-\u20f0"
    "\u2cef-\u2cf1\u2d7f\u2de0-\u2dff\u302a-\u302f\u3099-\u309a\ua66f"
    "\ua674-\ua67d\ua69e-\ua69f\ua6f0-\ua6f1\ua802\ua806\ua80b\ua823-"
    "\ua827\ua82c\ua880-\ua881\ua8b4-\ua8c5\ua8e0-\ua8f1\ua8ff\ua926-"
    "\ua92d\ua947-\ua953\ua980-\ua983\ua9b3-\ua9c0\ua9e5\uaa29-\uaa36"
    "\uaa43\uaa4c-\uaa4d\uaa7b-\uaa7d\uaab0\uaab2-\uaab4\uaab7-\uaab8"
    "\uaabe-\uaabf\uaac1\uaaeb-\uaaef\uaaf5-\uaaf6\uabe3-\uabea\uabec"
    "-\uabed\ufb1e\ufe00-\ufe0f\ufe20-\ufe2f"
)
_UAX_MN_MC_SUPP = (
    "\U000101fd\U000102e0\U00010376-\U0001037a\U00010a01-\U00010a03"
    "\U00010a05-\U00010a06\U00010a0c-\U00010a0f\U00010a38-\U00010a3a"
    "\U00010a3f\U00010ae5-\U00010ae6\U00010d24-\U00010d27"
    "\U00010eab-\U00010eac\U00010f46-\U00010f50\U00010f82-\U00010f85"
    "\U00011000-\U00011002\U00011038-\U00011046\U00011070"
    "\U00011073-\U00011074\U0001107f-\U00011082\U000110b0-\U000110ba"
    "\U000110c2\U00011100-\U00011102\U00011127-\U00011134"
    "\U00011145-\U00011146\U00011173\U00011180-\U00011182"
    "\U000111b3-\U000111c0\U000111c9-\U000111cc\U000111ce-\U000111cf"
    "\U0001122c-\U00011237\U0001123e\U000112df-\U000112ea"
    "\U00011300-\U00011303\U0001133b-\U0001133c\U0001133e-\U00011344"
    "\U00011347-\U00011348\U0001134b-\U0001134d\U00011357"
    "\U00011362-\U00011363\U00011366-\U0001136c\U00011370-\U00011374"
    "\U00011435-\U00011446\U0001145e\U000114b0-\U000114c3"
    "\U000115af-\U000115b5\U000115b8-\U000115c0\U000115dc-\U000115dd"
    "\U00011630-\U00011640\U000116ab-\U000116b7\U0001171d-\U0001172b"
    "\U0001182c-\U0001183a\U00011930-\U00011935\U00011937-\U00011938"
    "\U0001193b-\U0001193e\U00011940\U00011942-\U00011943"
    "\U000119d1-\U000119d7\U000119da-\U000119e0\U000119e4"
    "\U00011a01-\U00011a0a\U00011a33-\U00011a39\U00011a3b-\U00011a3e"
    "\U00011a47\U00011a51-\U00011a5b\U00011a8a-\U00011a99"
    "\U00011c2f-\U00011c36\U00011c38-\U00011c3f\U00011c92-\U00011ca7"
    "\U00011ca9-\U00011cb6\U00011d31-\U00011d36\U00011d3a"
    "\U00011d3c-\U00011d3d\U00011d3f-\U00011d45\U00011d47"
    "\U00011d8a-\U00011d8e\U00011d90-\U00011d91\U00011d93-\U00011d97"
    "\U00011ef3-\U00011ef6\U00016af0-\U00016af4\U00016b30-\U00016b36"
    "\U00016f4f\U00016f51-\U00016f87\U00016f8f-\U00016f92\U00016fe4"
    "\U00016ff0-\U00016ff1\U0001bc9d-\U0001bc9e\U0001cf00-\U0001cf2d"
    "\U0001cf30-\U0001cf46\U0001d165-\U0001d169\U0001d16d-\U0001d172"
    "\U0001d17b-\U0001d182\U0001d185-\U0001d18b\U0001d1aa-\U0001d1ad"
    "\U0001d242-\U0001d244\U0001da00-\U0001da36\U0001da3b-\U0001da6c"
    "\U0001da75\U0001da84\U0001da9b-\U0001da9f\U0001daa1-\U0001daaf"
    "\U0001e000-\U0001e006\U0001e008-\U0001e018\U0001e01b-\U0001e021"
    "\U0001e023-\U0001e024\U0001e026-\U0001e02a\U0001e130-\U0001e136"
    "\U0001e2ae\U0001e2ec-\U0001e2ef\U0001e8d0-\U0001e8d6"
    "\U0001e944-\U0001e94a\U000e0100-\U000e01ef"
)
_UAX_E = f"[\u200d{_UAX_MN_MC}{_UAX_MN_MC_SUPP}]*"
# ExtendNumLet (WB13a/WB13b): connector punctuation Pc + U+202F NARROW
# NO-BREAK SPACE — joins on BOTH sides of letter/number runs, so
# foo_bar, _foo, foo_, 1_2 each stay one token.
_UAX_ENL = (
    f"[_\u202f\u203f\u2040\u2054\ufe33\ufe34\ufe4d-\ufe4f\uff3f]"
    f"{_UAX_E}"
)
_UAX_L = f"[a-z]{_UAX_E}"
_UAX_D = f"[0-9]{_UAX_E}"
_UAX_LRUN = f"{_UAX_L}(?:['\u2019.]{_UAX_E}{_UAX_L}|{_UAX_L})*"
_UAX_DRUN = f"{_UAX_D}(?:[.,'\u2019]{_UAX_E}{_UAX_D}|{_UAX_D})*"
_UAX_G = f"(?:{_UAX_LRUN}|{_UAX_DRUN})"
UAX29_TOKEN_PATTERN = (
    f"(?:{_UAX_ENL})*{_UAX_G}(?:{_UAX_G}|(?:{_UAX_ENL})+{_UAX_G}?)*"
)

# ASCII folding (Lucene ASCIIFoldingFilter, the Latin-1 Supplement /
# Latin Extended-A subset): single-char foldings go through translate(),
# the three multi-char foldings (ae/oe/ss) through replace(); both exist
# verbatim in Spark SQL, DuckDB SQL, and Python, so the folded contract
# stays engine-identical. Applied AFTER lowercasing, so only lowercase
# source chars are listed.
_FOLD_PAIRS = [
    ("àáâãäåāăą", "a"),
    ("çćč", "c"),
    ("èéêëēėę", "e"),
    ("ìíîïīį", "i"),
    ("ñń", "n"),
    ("òóôõöōø", "o"),
    ("ùúûüū", "u"),
    ("ýÿ", "y"),
    ("šś", "s"),
    ("žźż", "z"),
    ("ł", "l"),
    ("đ", "d"),
    ("ğ", "g"),
    ("ţ", "t"),
]
FOLD_MULTI = (("æ", "ae"), ("œ", "oe"), ("ß", "ss"))
FOLD_FROM = "".join(src for src, _ in _FOLD_PAIRS)
FOLD_TO = "".join(dst * len(src) for src, dst in _FOLD_PAIRS)
_FOLD_TABLE = str.maketrans(FOLD_FROM, FOLD_TO)


def load_stopwords(path: str, comment_char: str = "#") -> frozenset[str]:
    """Stopword file loader: one word per line, ``#`` comments, blank lines
    ignored (reference loader: StopWordsUtil.stopwords,
    /root/reference/app/org/nlp4l/framework/builtin/FeaturedProcessors.scala:189-213).
    """
    words: set[str] = set()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith(comment_char):
                continue
            words.add(line.split(",")[0].strip())
    return frozenset(words)


@dataclass(frozen=True)
class Analyzer:
    """A declarative analyzer spec (reference: Schema/FieldType per-field
    analyzers, /root/reference/app/org/nlp4l/lucene/Schema.scala:45-90)."""

    lowercase: bool = True
    token_pattern: str = TOKEN_PATTERN
    stopwords: frozenset[str] = field(default_factory=frozenset)
    # Lucene ASCIIFoldingFilter (diacritics -> ASCII before tokenizing);
    # offsets in token_stream then refer to the folded text (its length
    # shifts only at the ae/oe/ss multi-char foldings)
    ascii_fold: bool = False
    # Index-time synonym injection (Lucene SynonymFilter with one-way
    # single-token rules, "dup => duplicate"): each (term, injected)
    # pair emits ``injected`` at the SAME position as ``term``
    # (posinc 0), after stop filtering. Norm semantics follow
    # BM25Similarity's discountOverlaps=true default: injected tokens
    # do NOT count toward dl (see term_counts_udf), but DO carry tf and
    # positions (phrases match through either variant).
    synonyms: tuple[tuple[str, str], ...] = ()
    # Lucene ShingleFilter (word n-grams, outputUnigrams=true, token
    # separator "_"): shingles are built over the stop-filtered
    # PRE-synonym stream and appended after the unigram stream.
    # Deviation (documented): no "_" filler tokens at stopword holes —
    # shingles join across holes. Shingles never count toward dl
    # (the discountOverlaps convention, like synonyms).
    shingle_size: int = 0
    # Lucene EdgeNGramTokenFilter(min, max) with preserveOriginal: each
    # emitted token is REPLACED by its prefixes of length
    # min..min(max, len(token)), plus the original token when longer
    # than max — the search-as-you-type index analyzer. Tokens shorter
    # than min emit nothing. Edge grams never count toward dl.
    edge_ngrams: tuple[int, ...] = ()

    def _normalize(self, text: str) -> str:
        if self.lowercase:
            text = text.lower()
        if self.ascii_fold:
            for src, dst in FOLD_MULTI:
                text = text.replace(src, dst)
            text = text.translate(_FOLD_TABLE)
        return text

    # ---- driver-side / oracle path (plain Python; used for query strings
    # and the single-node oracle, never on the distributed hot path) ----
    def _base_tokens(self, text: str | None) -> list[str]:
        """Tokens BEFORE synonym injection — the dl/norm stream
        (discountOverlaps: overlapping synonym tokens never count toward
        document length)."""
        if not text:
            return []
        text = self._normalize(text)
        toks = re.findall(self.token_pattern, text)
        if self.stopwords:
            toks = [t for t in toks if t not in self.stopwords]
        return toks

    def tokenize(self, text: str | None) -> list[str]:
        base = self._base_tokens(text)
        out = base
        if self.synonyms:
            syn: dict[str, list[str]] = {}
            for k, v in self.synonyms:
                syn.setdefault(k, []).append(v)
            out = []
            for t in base:
                out.append(t)
                out.extend(syn.get(t, ()))
        if self.shingle_size >= 2:
            n = self.shingle_size
            out = out + [
                "_".join(base[i : i + n]) for i in range(len(base) - n + 1)
            ]
        if self.edge_ngrams:
            mn, mx = self.edge_ngrams
            edged: list[str] = []
            for t in out:
                if len(t) < mn:
                    continue
                edged.extend(t[:k] for k in range(mn, min(mx, len(t)) + 1))
                if len(t) > mx:
                    edged.append(t)
            out = edged
        return out

    # ---- Spark SQL engine (JVM-side, codegen; no Python) ----
    def tokens_col(self, col: Column | str) -> Column:
        """Column[array<string>] of analyzed tokens, all built-ins
        (regexp_extract_all runs JVM-side inside whole-stage codegen)."""
        name = col if isinstance(col, str) else None
        if name is None:
            raise TypeError("tokens_col takes a column NAME (SQL identifier)")
        return self.tokens_expr(name)

    def _normalize_sql(self, col_sql: str) -> str:
        """The ``_normalize`` chain as a SQL expression — the SAME string
        is valid Spark SQL and DuckDB SQL (lower/replace/translate exist
        identically in both)."""
        src = f"lower({col_sql})" if self.lowercase else col_sql
        if self.ascii_fold:
            for s, d in FOLD_MULTI:
                src = f"replace({src}, '{s}', '{d}')"
            src = f"translate({src}, '{FOLD_FROM}', '{FOLD_TO}')"
        return src

    def tokens_expr(self, col_sql: str) -> Column:
        """Analyzed tokens from a SQL expression via regexp_extract_all
        (still JVM codegen — the pattern rides as a Column literal, so
        quote-bearing patterns like UAX29_TOKEN_PATTERN need no SQL
        string escaping)."""
        src = self._normalize_sql(col_sql)
        toks = F.regexp_extract_all(F.expr(src), F.lit(self.token_pattern), F.lit(0))
        base = self._strip_stopwords(toks)
        out = self._expand_synonyms(base)
        if self.shingle_size >= 2:
            out = F.concat(out, self._shingles_expr(base))
        if self.edge_ngrams:
            out = self._edge_expr(out)
        return out

    def _shingles_expr(self, toks: Column) -> Column:
        n = self.shingle_size
        sh = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), "_"),
        )
        empty = F.array().cast("array<string>")
        return F.when(F.size(toks) >= n, sh).otherwise(empty)

    def _edge_expr(self, toks: Column) -> Column:
        mn, mx = self.edge_ngrams
        empty = F.array().cast("array<string>")

        def per_token(t):
            ln = F.length(t)
            prefixes = F.transform(
                F.sequence(F.lit(mn), F.least(F.lit(mx), ln)),
                lambda k: t.substr(F.lit(1), k),
            )
            full = F.when(ln > mx, F.array(t)).otherwise(empty)
            return F.when(ln >= mn, F.concat(prefixes, full)).otherwise(empty)

        return F.flatten(F.transform(toks, per_token))

    def _expand_synonyms(self, toks: Column) -> Column:
        if not self.synonyms:
            return toks
        syn: dict[str, list[str]] = {}
        for k, v in self.synonyms:
            syn.setdefault(k, []).append(v)

        def expand(x):
            expr = F.array(x)
            for k in sorted(syn):
                expr = F.when(
                    x == k, F.array(x, *[F.lit(s) for s in syn[k]])
                ).otherwise(expr)
            return expr

        return F.flatten(F.transform(toks, expand))

    def _strip_stopwords(self, toks: Column) -> Column:
        if not self.stopwords:
            return toks
        stop_arr = F.array(*[F.lit(w) for w in sorted(self.stopwords)])
        return F.filter(toks, lambda x: ~F.array_contains(stop_arr, x))

    def duckdb_tokens_sql(self, col_sql: str) -> str:
        """The IDENTICAL tokenizer as a DuckDB SQL expression — used by the
        driver's oracle comparisons (list<varchar> of analyzed tokens)."""
        src = self._normalize_sql(col_sql)
        pat = self.token_pattern.replace("'", "''")  # SQL string escaping
        base = f"regexp_extract_all({src}, '{pat}')"
        if self.stopwords:
            stoplist = ", ".join(f"'{w}'" for w in sorted(self.stopwords))
            base = (
                f"list_filter({base}, t -> t NOT IN ({stoplist}))"
            )
        expr = base
        if self.synonyms:
            syn: dict[str, list[str]] = {}
            for k, v in self.synonyms:
                syn.setdefault(k, []).append(v)
            cases = " ".join(
                f"WHEN x = '{k}' THEN "
                f"[x, {', '.join(repr(s) for s in syn[k])}]"
                for k in sorted(syn)
            )
            expr = (
                f"flatten(list_transform({expr},"
                f" x -> CASE {cases} ELSE [x] END))"
            )
        if self.shingle_size >= 2:
            n = self.shingle_size
            # generate_series(1, m) is empty when m < 1, so no guard
            sh = (
                f"list_transform(generate_series(1, len({base}) - {n - 1}),"
                f" i -> array_to_string({base}[i:i+{n - 1}], '_'))"
            )
            expr = f"list_concat({expr}, {sh})"
        if self.edge_ngrams:
            mn, mx = self.edge_ngrams
            expr = (
                f"flatten(list_transform({expr}, t -> "
                f"CASE WHEN length(t) >= {mn} THEN list_concat("
                f"list_transform(generate_series({mn}, least({mx}, length(t))),"
                f" k -> substr(t, 1, k)),"
                f" CASE WHEN length(t) > {mx} THEN [t] ELSE []::VARCHAR[] END)"
                f" ELSE []::VARCHAR[] END))"
            )
        return expr

    # ---- Arrow-vectorized engines (index-build hot path) ----
    def tokenize_udf(self):
        """pandas UDF string -> array<string> (Arrow-batched). Delegates to
        ``self.tokenize`` so analyzer subclasses (UnicodeCJKAnalyzer)
        inherit the Arrow engine with their own contract."""
        analyzer = self  # frozen dataclass: pickles by fields

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def _tok(texts: pd.Series) -> pd.Series:
            return texts.map(analyzer.tokenize)

        return _tok

    # ---- token stream with positions/offsets (term-vector path) ----
    def token_stream(self, text: str | None) -> list[tuple[str, int, int, int]]:
        """[(term, position, start_offset, end_offset)] for one text.

        Position semantics match Lucene's StopFilter position-increment
        preservation (/root/reference golden:
        test/org/nlp4l/lucene/RawReaderSpec.scala:185-192): positions are
        assigned over the FULL token stream, then stopword tokens are
        dropped, leaving holes. Offsets are character offsets into the
        original text (lowercasing is length-preserving on the contract
        alphabet)."""
        if not text:
            return []
        src = self._normalize(text)
        pattern = (
            _TOKEN_RE
            if self.token_pattern == TOKEN_PATTERN
            else re.compile(self.token_pattern)
        )
        syn: dict[str, list[str]] = {}
        for k, v in self.synonyms:
            syn.setdefault(k, []).append(v)
        out = []
        kept: list[tuple[str, int, int, int]] = []  # pre-synonym stream
        for pos, m in enumerate(pattern.finditer(src)):
            term = m.group(0)
            if self.stopwords and term in self.stopwords:
                continue
            kept.append((term, pos, m.start(), m.end()))
            out.append((term, pos, m.start(), m.end()))
            for s in syn.get(term, ()):  # posinc 0: same position/offsets
                out.append((s, pos, m.start(), m.end()))
        if self.shingle_size >= 2:
            # shingle carries its FIRST word's position; offsets span the
            # whole shingle (Lucene ShingleFilter's offset contract)
            n = self.shingle_size
            for i in range(len(kept) - n + 1):
                grams = kept[i : i + n]
                out.append(
                    (
                        "_".join(g[0] for g in grams),
                        grams[0][1],
                        grams[0][2],
                        grams[-1][3],
                    )
                )
        if self.edge_ngrams:
            mn, mx = self.edge_ngrams
            edged = []
            for term, pos, start, end in out:
                if len(term) < mn:
                    continue
                for k in range(mn, min(mx, len(term)) + 1):
                    # posinc 0: every gram sits at the source position
                    edged.append((term[:k], pos, start, end))
                if len(term) > mx:
                    edged.append((term, pos, start, end))
            out = edged
        return out

    def term_vectors_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField("terms", T.ArrayType(T.StringType())),
                T.StructField(
                    "positions", T.ArrayType(T.ArrayType(T.IntegerType()))
                ),
                T.StructField(
                    "start_offsets", T.ArrayType(T.ArrayType(T.IntegerType()))
                ),
                T.StructField(
                    "end_offsets", T.ArrayType(T.ArrayType(T.IntegerType()))
                ),
            ]
        )

    def term_vectors_udf(self):
        """pandas UDF string -> per-doc term vector with positions/offsets:
        struct(terms[], positions[][], start_offsets[][], end_offsets[][]),
        arrays aligned by term index, positions ascending per term.

        Grouping happens inside the Arrow pass so the downstream explode is
        narrow — no (doc_id, term) shuffle is ever needed to materialize
        term vectors (reference walks Lucene term vectors per doc:
        /root/reference/app/org/nlp4l/lucene/TermVector.scala:28-59).
        Delegates to ``self.token_stream`` so analyzer subclasses
        (UnicodeCJKAnalyzer) inherit the engine with their contract."""
        analyzer = self

        @F.pandas_udf(self.term_vectors_schema())
        def _tv(texts: pd.Series) -> pd.DataFrame:
            terms_o, pos_o, so_o, eo_o = [], [], [], []
            for t in texts:
                acc: dict[str, list[list[int]]] = {}
                for term, pos, start, end in analyzer.token_stream(t):
                    e = acc.setdefault(term, [[], [], []])
                    e[0].append(pos)
                    e[1].append(start)
                    e[2].append(end)
                terms_o.append(list(acc.keys()))
                pos_o.append([v[0] for v in acc.values()])
                so_o.append([v[1] for v in acc.values()])
                eo_o.append([v[2] for v in acc.values()])
            return pd.DataFrame(
                {
                    "terms": terms_o,
                    "positions": pos_o,
                    "start_offsets": so_o,
                    "end_offsets": eo_o,
                }
            )

        return _tv

    def term_counts_schema(self, positions: bool = False) -> T.StructType:
        fields = [
            T.StructField("terms", T.ArrayType(T.StringType())),
            T.StructField("tfs", T.ArrayType(T.IntegerType())),
            T.StructField("dl", T.IntegerType()),
        ]
        if positions:
            fields.append(
                T.StructField("positions", T.ArrayType(T.IntegerType()))
            )
        return T.StructType(fields)

    def term_counts_udf(self, positions: bool = False):
        """pandas UDF string -> struct(terms array, tfs array, dl int),
        plus the flat ``positions`` array when ``positions`` is set (see
        ``term_positions_frame``).

        One Arrow pass produces the per-doc term-frequency map AND the doc
        length, so downstream ``explode(arrays_zip(terms, tfs))`` is narrow
        (no (doc_id, term) shuffle — the reference re-walks Lucene term
        vectors for the same data, Terms.scala:118-138).
        """
        analyzer = self
        frame = (
            analyzer.term_positions_frame
            if positions
            else analyzer.term_counts_frame
        )

        @F.pandas_udf(self.term_counts_schema(positions))
        def _counts(texts: pd.Series) -> pd.DataFrame:
            return frame(texts)

        return _counts

    def _doc_len(self, text, n_tokens: int) -> int:
        """BM25 dl of a doc whose analyzed stream holds ``n_tokens``
        tokens. discountOverlaps: dl counts the pre-injection stream, so
        synonym, shingle and edge-gram tokens never count."""
        if n_tokens and (self.synonyms or self.shingle_size or self.edge_ngrams):
            return len(self._base_tokens(text))
        return n_tokens

    def term_positions_frame(self, texts) -> pd.DataFrame:
        """``term_counts_frame`` plus each doc's positions, from ONE
        ``token_stream`` pass: terms, tfs and dl equal
        ``term_counts_frame``'s (``token_stream`` yields ``tokenize``'s
        token sequence), and ``positions`` is flat and term-major — term
        i's tfs[i] positions, ascending, follow term i-1's."""
        terms_out: list[list[str]] = []
        tfs_out: list[list[int]] = []
        dls: list[int] = []
        pos_out: list[list[int]] = []
        for t in texts:
            acc: dict[str, list[int]] = {}
            for term, pos, _s, _e in self.token_stream(t):
                acc.setdefault(term, []).append(pos)
            tfs = [len(v) for v in acc.values()]
            terms_out.append(list(acc))
            tfs_out.append(tfs)
            dls.append(self._doc_len(t, sum(tfs)))
            # sorted: with shingles and edge grams one term can come from
            # a shingle after it came from a later unigram
            pos_out.append([p for v in acc.values() for p in sorted(v)])
        return pd.DataFrame(
            {"terms": terms_out, "tfs": tfs_out, "dl": dls, "positions": pos_out}
        )

    def term_counts_frame(self, texts) -> pd.DataFrame:
        """The term_counts_udf body as a plain pandas function — shared
        by the Arrow UDF and the driver-side micro-generation builder
        (index/microbuild.py), so the two paths cannot diverge. With
        positions both take ``term_positions_frame`` instead."""
        terms_out: list[list[str]] = []
        tfs_out: list[list[int]] = []
        dls: list[int] = []
        for t in texts:
            toks = self.tokenize(t)
            if not toks:
                terms_out.append([])
                tfs_out.append([])
                dls.append(0)
                continue
            counts: dict[str, int] = {}
            for x in toks:
                counts[x] = counts.get(x, 0) + 1
            terms_out.append(list(counts.keys()))
            tfs_out.append(list(counts.values()))
            dls.append(self._doc_len(t, len(toks)))
        return pd.DataFrame({"terms": terms_out, "tfs": tfs_out, "dl": dls})


STANDARD_ANALYZER = Analyzer(stopwords=LUCENE_ENGLISH_STOPWORDS)
WHITESPACE_ANALYZER = Analyzer(stopwords=frozenset())
FOLDING_ANALYZER = Analyzer(
    stopwords=LUCENE_ENGLISH_STOPWORDS, ascii_fold=True
)
# UAX#29 word-break mode (see UAX29_TOKEN_PATTERN above): word-internal
# apostrophes / dotted acronyms / numeric grouping / combining marks, as
# Lucene's StandardTokenizer does. The [a-z0-9]+ contract stays the
# engine default (149 oracles encode it); this is the opt-in closer match.
UAX29_ANALYZER = Analyzer(
    token_pattern=UAX29_TOKEN_PATTERN, stopwords=LUCENE_ENGLISH_STOPWORDS
)
