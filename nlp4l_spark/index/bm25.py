"""The package's one BM25 formula: ``K1``, ``B``, ``idf`` and
``bm25_impact``.

Lucene BM25Similarity with its defaults (k1=1.2, b=0.75) — the ranking
NLP4L's ISearcher uses. A term's contribution to a document's score is
``idf(num_docs, df) * bm25_impact(tf, dl, avgdl)``; idf is constant per
term, so ``idf * max(impact)`` over a posting block is that block's exact
upper bound (the block-max metadata ``codec.encode_runs`` writes for every
index writer and WAND/MaxScore read).

``bm25_impact`` uses plain arithmetic operators only, so one call site
shape serves every engine: NumPy arrays (build-time block-max, the
WAND/MaxScore kernels, the checker) and Spark ``Column`` expressions (the
dataframe scoring paths) evaluate the same IEEE-754 expression tree. A
single-term dataframe score therefore equals the kernel's bit for bit;
multi-term sums differ only by summation order.

The module sits in the index layer because block-max impacts are written
at build time and the search layer already imports the index layer.
``nlp4l_spark.oracle`` keeps an independent copy on purpose: it is the
reference the tests hold this module to.
"""

from __future__ import annotations

import math

K1 = 1.2
B = 0.75


def idf(num_docs: int, df: int) -> float:
    """Lucene BM25 idf: ln(1 + (N - df + 0.5) / (df + 0.5))."""
    return math.log(1.0 + (num_docs - df + 0.5) / (df + 0.5))


def bm25_impact(tf, dl, avgdl: float):
    """tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)) — the
    idf-free part of a term's score. ``tf``/``dl`` may be scalars, NumPy
    arrays or Spark Columns; an empty collection's ``avgdl`` of 0 is
    treated as 1."""
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / (avgdl or 1.0)))
