"""Seed-driven workload generators, frozen inside the benchmark.

Nothing here imports the library: the corpus, the query mix, the phrase
sampler and the micro-batch splitter are the benchmark's own, so a change
to the library's data helpers cannot change what the benchmark measures.

Every random value is a pure function of ``(seed, stream, counter)``
through splitmix64, so the same seed gives byte-identical inputs on any
host and in any order of calls.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

MASK = (1 << 64) - 1
_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)

# Head of the Zipf ranks: English stopwords the standard analyzer drops,
# so texts carry the position holes real transcripts have.
STOPWORDS = ("the", "of", "and", "to", "a", "in", "is", "it")
ROLES = ("user", "assistant", "system", "tool")
TOOLS = (None, "bash", "read", "write", "grep", "edit")
QUERY_KINDS = ("head", "rare", "or2", "or4", "needle", "stop", "unknown")

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorised splitmix64 over uint64 counters."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
    return z ^ (z >> np.uint64(31))


def mix(seed: int, *parts: int) -> int:
    """Derive a sub-seed from a seed and integer labels."""
    h = np.array([seed & MASK], dtype=np.uint64)
    for p in parts:
        h = splitmix64(h ^ np.uint64(p & MASK))
    return int(h[0])


def uniform(seed: int, stream: int, n: int) -> np.ndarray:
    """n floats in [0, 1) for one (seed, stream)."""
    ctr = np.arange(n, dtype=np.uint64) + np.uint64(mix(seed, stream) >> 1)
    return (splitmix64(ctr) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


class Vocab:
    """Zipf(s) vocabulary: ranks 0..7 are stopwords, the rest ``wNNNNN``."""

    def __init__(self, size: int, s: float = 1.07):
        ranks = np.arange(1, size + 1, dtype=np.float64)
        w = 1.0 / np.power(ranks, s)
        self.cdf = np.cumsum(w) / w.sum()
        self.words = np.array(
            list(STOPWORDS) + [f"w{i:05d}" for i in range(len(STOPWORDS), size)],
            dtype=object,
        )
        self.size = size

    def word(self, rank: int) -> str:
        return str(self.words[rank])


def transcripts(
    vocab: Vocab,
    n_turns: int,
    seed: int,
    *,
    first_turn: int = 0,
    max_len: int = 120,
    needle_every: int = 97,
    n_needles: int = 20,
    fresh_token: str | None = None,
    fresh_every: int = 50,
) -> pa.Table:
    """Transcript turns in the library's input schema.

    Turn ``i`` (global, from ``first_turn``) belongs to conversation
    ``i // 8``; sorting by (conv_id, turn_idx) therefore keeps generation
    order, so a build assigns doc_id ``i - first_turn``. Needles give
    queries with analytically known postings: turn ``i`` carries
    ``needleJJ`` iff ``i % needle_every == seed % needle_every``, with
    ``JJ = (i // needle_every) % n_needles``. With ``fresh_token`` every
    ``fresh_every``-th turn of the table also carries that token, which
    marks one micro-batch.
    """
    ids = np.arange(first_turn, first_turn + n_turns, dtype=np.int64)
    u_len = uniform(seed, 1_000_003 + first_turn, n_turns)
    lens = 1 + (u_len * max_len).astype(np.int64)
    total = int(lens.sum())
    u_tok = uniform(seed, 2_000_003 + first_turn, total)
    ranks = np.minimum(np.searchsorted(vocab.cdf, u_tok, side="right"), vocab.size - 1)
    toks = vocab.words[ranks]
    ends = np.cumsum(lens)
    starts = ends - lens
    phase = seed % needle_every
    texts = []
    for r in range(n_turns):
        t = " ".join(toks[starts[r] : ends[r]])
        i = int(ids[r])
        if i % needle_every == phase:
            t += f" needle{(i // needle_every) % n_needles:02d}"
        if fresh_token is not None and r % fresh_every == 0:
            t += " " + fresh_token
        texts.append(t)
    base_us = int(dt.datetime(2026, 1, 1).timestamp() * 1_000_000)
    return pa.Table.from_arrays(
        [
            pa.array([f"conv-{i // 8:08d}" for i in ids], pa.string()),
            pa.array((ids % 8).astype(np.int32), pa.int32()),
            pa.array([ROLES[i % len(ROLES)] for i in ids], pa.string()),
            pa.array(texts, pa.string()),
            pa.array([TOOLS[(i // 3) % len(TOOLS)] for i in ids], pa.string()),
            pa.array(base_us + ids * 7_000_000, pa.timestamp("us")),
        ],
        schema=TRANSCRIPT_SCHEMA,
    )


def needle_postings(
    n_turns: int, seed: int, needle_every: int = 97, n_needles: int = 20
) -> dict[str, list[int]]:
    """doc_ids of every needle term in ``transcripts(.., n_turns, seed)``."""
    out: dict[str, list[int]] = {}
    for i in range(seed % needle_every, n_turns, needle_every):
        out.setdefault(f"needle{(i // needle_every) % n_needles:02d}", []).append(i)
    return out


def or_queries(vocab: Vocab, n: int, seed: int, n_needles: int = 20) -> list[tuple[str, str]]:
    """(kind, text) OR queries cycling through QUERY_KINDS, so every run
    sees the same kind mix whatever its length; the seed picks terms.
    head: one of the 20 most frequent non-stop terms; rare: a term from
    the third quarter of the ranks (rare, yet present in
    a 10^4-turn corpus); or2: head + mid term; or4: four terms
    drawn uniformly over ranks; needle: one needle; stop: stopwords
    only; unknown: a term absent from every corpus."""
    u = uniform(seed, 3_000_017, 4 * n)
    lo = len(STOPWORDS)
    out = []
    for q in range(n):
        kind = QUERY_KINDS[q % len(QUERY_KINDS)]
        a, b, c, d = u[4 * q : 4 * q + 4]
        if kind == "head":
            text = vocab.word(lo + int(a * 20))
        elif kind == "rare":
            text = vocab.word(vocab.size // 4 + int(a * (vocab.size // 4)))
        elif kind == "or2":
            mid = min(5000, vocab.size) - 100
            text = f"{vocab.word(lo + int(a * 100))} {vocab.word(100 + int(b * mid))}"
        elif kind == "or4":
            text = " ".join(vocab.word(lo + int(x * (vocab.size - lo))) for x in (a, b, c, d))
        elif kind == "needle":
            text = f"needle{int(a * n_needles):02d}"
        elif kind == "stop":
            text = "the is of and"
        else:
            text = f"zz{int(a * 1e6):06d}notaterm"
        out.append((kind, text))
    return out


def and_queries(vocab: Vocab, n: int, seed: int) -> list[str]:
    """2-term conjunctions: a head term with a mid-frequency term, so the
    intersection is non-empty but much smaller than either list."""
    u = uniform(seed, 4_000_037, 2 * n)
    lo = len(STOPWORDS)
    return [
        f"{vocab.word(lo + int(u[2 * i] * 30))} {vocab.word(lo + 30 + int(u[2 * i + 1] * 300))}"
        for i in range(n)
    ]


def phrases(texts: list[str], n: int, seed: int) -> list[str]:
    """2-3 consecutive non-stopword tokens sampled from stored texts, so
    every phrase occurs at least once in the corpus."""
    u = uniform(seed, 5_000_011, 3 * n * 8)
    stop = set(STOPWORDS)
    out: list[str] = []
    j = 0
    while len(out) < n and j + 3 <= len(u):
        a, b, c = u[j : j + 3]
        j += 3
        toks = texts[int(a * len(texts))].split()
        width = 2 + int(c * 2)
        if len(toks) < width:
            continue
        s = int(b * (len(toks) - width + 1))
        window = toks[s : s + width]
        if any(t in stop or t.startswith("needle") for t in window):
            continue
        out.append(" ".join(window))
    return out


def micro_batches(n_batches: int, batch_turns: int) -> list[tuple[int, int]]:
    """(first_turn, n_turns) per micro-batch: contiguous, non-overlapping
    global turn ranges, so batch b's docs follow batch b-1's."""
    return [(b * batch_turns, batch_turns) for b in range(n_batches)]


def fresh_token(batch: int) -> str:
    """The token that marks micro-batch ``batch``'s needle docs."""
    return f"fresh{batch:04d}"
