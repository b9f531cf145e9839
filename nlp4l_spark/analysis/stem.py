"""Porter stemming (Porter 1980, "An algorithm for suffix stripping") and
an analyzer that applies it — the Lucene EnglishAnalyzer's
stop-then-PorterStemFilter chain
(reference analyzers are schema-configurable Lucene chains,
/root/reference/app/org/nlp4l/lucene/Schema.scala:45-90).

The implementation follows the published algorithm exactly (the updated
official version, i.e. including the ``logi -> log`` step-2 rule) and is
golden-tested against the paper's own example words
(tests/test_analyzer.py). There is no SQL engine for stemming — DuckDB's
``stem()`` lives in the FTS extension, absent in this sandbox — so
``PorterAnalyzer`` supports only the Python/Arrow engines (which is what
the index build uses); ``tokens_expr`` raises. Queries oracled through
DuckDB therefore keep using the standard analyzer; the stemmed analyzer
is for index builds where recall beats oracle-checkability.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from nlp4l_spark.analysis.analyzer import Analyzer

_VOWELS = "aeiou"


def _is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(w, i - 1)
    return True


def _measure(w: str) -> int:
    """m in the [C](VC)^m[V] decomposition."""
    m, i, n = 0, 0, len(w)
    while i < n and _is_cons(w, i):
        i += 1
    while i < n:
        while i < n and not _is_cons(w, i):
            i += 1
        if i >= n:
            break
        m += 1
        while i < n and _is_cons(w, i):
            i += 1
    return m


def _has_vowel(w: str) -> bool:
    return any(not _is_cons(w, i) for i in range(len(w)))


def _double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1)


def _cvc(w: str) -> bool:
    """*o: stem ends cons-vowel-cons and the final cons is not w, x or y."""
    if len(w) < 3:
        return False
    return (
        _is_cons(w, len(w) - 3)
        and not _is_cons(w, len(w) - 2)
        and _is_cons(w, len(w) - 1)
        and w[-1] not in "wxy"
    )


_STEP2 = sorted(
    [
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
        ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
        ("alli", "al"), ("entli", "ent"), ("eli", "e"), ("ousli", "ous"),
        ("ization", "ize"), ("ation", "ate"), ("ator", "ate"),
        ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"),
        ("biliti", "ble"), ("logi", "log"),
    ],
    key=lambda p: -len(p[0]),
)
_STEP3 = sorted(
    [
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ],
    key=lambda p: -len(p[0]),
)
_STEP4 = sorted(
    [
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant",
        "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti",
        "ous", "ive", "ize",
    ],
    key=len,
    reverse=True,
)


def porter_stem(word: str) -> str:
    w = word
    if len(w) <= 2:
        return w
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    flag = False
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and _has_vowel(w[:-2]):
        w, flag = w[:-2], True
    elif w.endswith("ing") and _has_vowel(w[:-3]):
        w, flag = w[:-3], True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _double_cons(w) and w[-1] not in "lsz":
            w = w[:-1]
        elif _measure(w) == 1 and _cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break
    # step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 0:
                w = stem + rep
            break
    # step 4
    for suf in _STEP4:
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _measure(stem) > 1 and (suf != "ion" or stem.endswith(("s", "t"))):
                w = stem
            break
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem
    # step 5b
    if _measure(w) > 1 and _double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


_ALNUM = re.compile("[a-z0-9]*$")


@dataclass(frozen=True)
class PorterAnalyzer(Analyzer):
    """standard + lowercase + stop + PorterStem — Lucene's
    EnglishAnalyzer chain. Arrow/Python engines only (see module doc);
    the inherited index-build UDFs delegate to ``tokenize`` so this
    analyzer drops straight into IndexBuilder(analyzer=...). Non-ASCII
    tokens pass through unstemmed, like Lucene's PorterStemFilter which
    only rewrites lowercase-ASCII runs."""

    def tokenize(self, text: str | None) -> list[str]:
        return [
            porter_stem(t) if _ALNUM.match(t) else t
            for t in super().tokenize(text)
        ]

    def token_stream(self, text: str | None):
        return [
            (porter_stem(t) if _ALNUM.match(t) else t, pos, so, eo)
            for (t, pos, so, eo) in super().token_stream(text)
        ]

    def tokens_expr(self, col_sql: str):
        raise NotImplementedError(
            "PorterAnalyzer has no SQL engine (stemming needs the Arrow "
            "path, which every index build tokenizes through)"
        )

    def duckdb_tokens_sql(self, col_sql: str) -> str:
        raise NotImplementedError(
            "no DuckDB twin: the fts stem() extension is unavailable here"
        )
