"""Posting-list codec: delta-gap + varbyte docID/TF/dl blocks with
block-max metadata, and ``encode_runs``, the one encoder of a posting
row that every index writer calls.

Reference semantics: Lucene posting lists enumerated via TermDocs/Doc
(/root/reference/app/org/nlp4l/lucene/Terms.scala:35-157). Lucene 7 stores
postings as FOR/PackedInts blocks with skip data carrying block maxima;
we implement the same *capability* (compressed, block-skippable, max-score
bounded postings) with a vectorized NumPy varbyte codec writing to Spark
``binary`` columns — per north_star (BASELINE.json:6): "delta-gap +
varbyte-compressed docID/TF blocks ... with block-max metadata".

Encoding of one posting row (one (term, shard) run of postings):
* doc_ids_enc: strictly increasing int64 -> gaps (first gap = doc_id[0] + 1
  so every gap >= 1) -> LEB128-style varbyte, little-endian 7-bit groups,
  high bit set = continuation.
* tfs_enc, dls_enc: raw tf (>= 1) and doc length per posting, varbyte.
* pos_enc (optional): each posting's run of tf positions, gap-reset per
  posting (``encode_positions``).
* block_max: one entry per BLOCK_SIZE postings: (last_doc, max_impact),
  max_impact the block's largest ``bm25_impact(tf, dl, avgdl)``
  (index/bm25.py), so idf * max_impact is the block's exact BM25 upper
  bound — what block-max WAND needs for safe pruning.

Everything is vectorized NumPy — no per-posting Python loops — so it runs
inside Arrow-batched applyInPandas at full speed.
"""

from __future__ import annotations

import numpy as np

from nlp4l_spark.index.bm25 import bm25_impact

BLOCK_SIZE = 128


def _varbyte_lengths(v: np.ndarray) -> np.ndarray:
    """Bytes needed per value: ceil(bit_length/7), min 1 — computed with 9
    threshold compares (O(9n)) instead of a shift loop (O(maxbits*n))."""
    nbytes = np.ones(v.shape, dtype=np.int64)
    for k in range(1, 10):  # values needing k+1 bytes: >= 2^(7k)
        nbytes += (v >= np.uint64(1) << np.uint64(7 * k)).astype(np.int64)
    return nbytes


def varbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized LEB128 encode; also returns per-value byte lengths so a
    caller that encoded many runs in ONE call can slice out each run's
    bytes (the per-run-encode-call pattern is numpy-overhead-bound at
    ~10^5 runs per partition)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    nbytes = _varbyte_lengths(v)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    starts = np.zeros(v.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    idx = np.arange(total, dtype=np.int64)
    owner = np.repeat(np.arange(v.size, dtype=np.int64), nbytes)
    within = idx - starts[owner]
    chunk = (v[owner] >> (within.astype(np.uint64) * np.uint64(7))) & np.uint64(0x7F)
    is_last = within == (nbytes[owner] - 1)
    out[:] = chunk.astype(np.uint8)
    out[~is_last] |= 0x80
    return out.tobytes(), nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128 encode of a non-negative int64 array."""
    return varbyte_encode_with_lengths(values)[0]


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized LEB128 decode -> uint64 array."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    n_vals = int(is_last.sum())
    # owner[i] = which value byte i belongs to
    owner = np.zeros(raw.size, dtype=np.int64)
    owner[1:] = np.cumsum(is_last[:-1])
    # within-value byte position
    starts_mask = np.ones(raw.size, dtype=bool)
    starts_mask[1:] = is_last[:-1]
    start_idx = np.flatnonzero(starts_mask)
    within = np.arange(raw.size, dtype=np.int64) - start_idx[owner]
    contrib = (raw & np.uint8(0x7F)).astype(np.uint64) << (
        within.astype(np.uint64) * np.uint64(7)
    )
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(out, owner, contrib)
    return out


def encode_doc_ids(doc_ids: np.ndarray) -> bytes:
    """Delta-gap + varbyte encode of a strictly increasing int64 array."""
    d = np.asarray(doc_ids, dtype=np.int64)
    if d.size == 0:
        return b""
    gaps = np.empty(d.size, dtype=np.uint64)
    gaps[0] = np.uint64(d[0] + 1)  # ensure every gap >= 1
    if d.size > 1:
        gaps[1:] = np.diff(d).astype(np.uint64)
    return varbyte_encode(gaps)


def decode_doc_ids(buf: bytes) -> np.ndarray:
    gaps = varbyte_decode(buf).astype(np.int64)
    if gaps.size == 0:
        return gaps
    out = np.cumsum(gaps)
    out -= 1  # undo the +1 on the first gap
    return out


def encode_tfs(tfs: np.ndarray) -> bytes:
    return varbyte_encode(np.asarray(tfs, dtype=np.uint64))


def decode_tfs(buf: bytes) -> np.ndarray:
    return varbyte_decode(buf).astype(np.int64)


def encode_positions(flat_positions: np.ndarray, lens: np.ndarray) -> bytes:
    """Per-doc position runs (lens[i] positions for doc i, ascending
    within each run), delta-gapped with a reset at every run start
    (first value = pos0 + 1 so every gap >= 1), one varbyte buffer.
    Concatenating buffers of disjoint doc ranges stays decodable because
    the reset is per-DOC, not per-buffer."""
    p = np.asarray(flat_positions, dtype=np.int64)
    if p.size == 0:
        return b""
    lens = np.asarray(lens, dtype=np.int64)
    starts = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    starts = starts[lens > 0]
    gaps = np.empty(p.size, dtype=np.uint64)
    gaps[1:] = np.diff(p).astype(np.uint64)
    gaps[starts] = (p[starts] + 1).astype(np.uint64)
    return varbyte_encode(gaps)


def decode_positions(buf: bytes, lens: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions: flat int64 positions, per-doc runs
    delimited by ``lens`` (cumsum within each run, -1 at run starts)."""
    v = varbyte_decode(buf).astype(np.int64)
    if v.size == 0:
        return v
    lens = np.asarray(lens, dtype=np.int64)
    starts = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    starts = starts[lens > 0]
    # segmented cumsum: subtract, at each run start, the running total of
    # the previous runs so each run restarts from its own first value
    out = np.cumsum(v)
    run_of = np.zeros(v.size, dtype=np.int64)
    run_of[starts[1:]] = 1
    run_of = np.cumsum(run_of)
    base = np.concatenate(([0], out[starts[1:] - 1]))
    return out - base[run_of] - 1


def gather_runs(lens: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Index that reorders a flat array of per-posting runs (posting i
    owns ``lens[i]`` consecutive values) into posting order ``order``."""
    starts = np.cumsum(lens) - lens
    ol = lens[order]
    return np.repeat(starts[order] - (np.cumsum(ol) - ol), ol) + np.arange(
        int(ol.sum()), dtype=np.int64
    )


def _encode_sliced(values: np.ndarray, starts, ends) -> list[bytes]:
    """The varbyte bytes of ``values[s:e]`` for each (s, e), from ONE
    encode pass sliced per run."""
    buf, nbytes = varbyte_encode_with_lengths(values)
    cum = np.concatenate(([0], np.cumsum(nbytes))).tolist()
    return [buf[cum[s] : cum[e]] for s, e in zip(starts, ends)]


def encode_runs(
    d: np.ndarray,
    f: np.ndarray,
    l: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    *,
    positions: np.ndarray | None = None,
    avgdl: float | None = None,
) -> dict:
    """The columns of the posting rows, one per run ``[starts[i], ends[i])``
    of flat postings (doc ids ``d``, tfs ``f``, doc lengths ``l``) ordered
    by run and, inside a run, by doc id; the runs tile the arrays.

    Returns ``df``, ``cf``, ``min_doc``, ``max_doc``, ``doc_ids_enc`` (gaps
    reset at each run start), ``tfs_enc`` and ``dls_enc``; plus
    ``block_max`` when ``avgdl`` is given, and ``pos_enc`` when
    ``positions`` (flat, ``f[i]`` per posting, in posting order) is given.
    Each column is one varbyte pass sliced per run: a per-run encode call
    is NumPy fixed-cost bound at ~10^5 runs per batch. The segment
    builder, the segment merger, microbuild and the pruned tier all write
    posting rows through this function."""
    d = np.asarray(d, dtype=np.int64)
    f = np.asarray(f, dtype=np.int64)
    l = np.asarray(l, dtype=np.int64)
    s_l, e_l = starts.tolist(), ends.tolist()
    gaps = np.empty(d.size, dtype=np.uint64)
    gaps[1:] = (d[1:] - d[:-1]).astype(np.uint64)
    gaps[starts] = (d[starts] + 1).astype(np.uint64)  # run-start reset
    cols = {
        "df": ends - starts,
        "cf": np.add.reduceat(f, starts) if starts.size else f[:0],
        "min_doc": d[starts],
        "max_doc": d[ends - 1],
        "doc_ids_enc": _encode_sliced(gaps, s_l, e_l),
        "tfs_enc": _encode_sliced(f, s_l, e_l),
        "dls_enc": _encode_sliced(l, s_l, e_l),
    }
    if avgdl is not None:
        # blocks of BLOCK_SIZE postings that never cross a run
        per_run = (ends - starts + BLOCK_SIZE - 1) // BLOCK_SIZE
        run_of = np.repeat(np.arange(starts.size), per_run)
        first = np.cumsum(per_run) - per_run
        blk_starts = starts[run_of] + BLOCK_SIZE * (
            np.arange(run_of.size) - first[run_of]
        )
        blk_last = d[np.minimum(blk_starts + BLOCK_SIZE, ends[run_of]) - 1]
        blk_max = np.maximum.reduceat(bm25_impact(f, l, avgdl), blk_starts)
        flat = [
            {"last_doc": ld, "max_impact": mi}
            for ld, mi in zip(blk_last.tolist(), blk_max.tolist())
        ]
        cum = np.concatenate(([0], np.cumsum(per_run))).tolist()
        cols["block_max"] = [flat[a:b] for a, b in zip(cum[:-1], cum[1:])]
    if positions is not None:
        p = np.asarray(positions, dtype=np.int64)
        pstart = np.concatenate(([0], np.cumsum(f)))
        pgaps = np.empty(p.size, dtype=np.uint64)
        pgaps[1:] = (p[1:] - p[:-1]).astype(np.uint64)
        firsts = pstart[:-1][f > 0]
        pgaps[firsts] = (p[firsts] + 1).astype(np.uint64)  # per-posting reset
        cols["pos_enc"] = _encode_sliced(
            pgaps, pstart[starts].tolist(), pstart[ends].tolist()
        )
    return cols

