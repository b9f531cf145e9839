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


def decode_posting(doc_ids_enc: bytes, tfs_enc: bytes) -> tuple[np.ndarray, np.ndarray]:
    return decode_doc_ids(doc_ids_enc), decode_tfs(tfs_enc)


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


# --------------------------------------------------------------------- #
# FOR128: Lucene-format bit-packed blocks (PackedInts / ForUtil shape)
# --------------------------------------------------------------------- #
def for128_encode(values: np.ndarray) -> bytes:
    """Frame-of-Reference encode: BLOCK_SIZE-value frames, each packed at
    the frame's max bit width — Lucene's postings format (ForUtil packs
    128-int blocks at ceil(log2(max+1)) bits; we add a 4-byte count and
    a 1-byte width header per frame instead of Lucene's implicit block
    structure).

    Layout: uint32 n_values, then per frame: uint8 width b,
    ceil(frame_len*b/8) bytes of LSB-first packed bits.

    NOT the wire default: the segment merger's bulk pass decodes the
    CONCATENATION of thousands of per-row varbyte streams in one
    vectorized call (varbyte is self-delimiting; see _segment_merger) —
    FOR frames are padded per row, so that trick dies with them. FOR128
    exists for the measured storage comparison (tests/test_codec.py:
    ~2-3x smaller on small-gap postings, same-order decode speed) and as
    the codec a multi-file Lucene-layout export would use."""
    v = np.asarray(values, dtype=np.uint64)
    parts = [np.uint32(v.size).tobytes()]
    for s in range(0, v.size, BLOCK_SIZE):
        frame = v[s : s + BLOCK_SIZE]
        mx = int(frame.max()) if frame.size else 0
        b = max(1, mx.bit_length())
        bits = (
            (frame[:, None] >> np.arange(b, dtype=np.uint64)) & np.uint64(1)
        ).astype(np.uint8)
        parts.append(np.uint8(b).tobytes())
        parts.append(np.packbits(bits.reshape(-1), bitorder="little").tobytes())
    return b"".join(parts)


def for128_decode(buf: bytes) -> np.ndarray:
    """Inverse of for128_encode -> uint64 array."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    n = int(np.frombuffer(buf[:4], dtype=np.uint32)[0])
    out = np.empty(n, dtype=np.uint64)
    off, done = 4, 0
    while done < n:
        frame_len = min(BLOCK_SIZE, n - done)
        b = buf[off]
        off += 1
        nbytes = (frame_len * b + 7) // 8
        bits = np.unpackbits(
            np.frombuffer(buf[off : off + nbytes], dtype=np.uint8),
            count=frame_len * b,
            bitorder="little",
        )
        powers = np.uint64(1) << np.arange(b, dtype=np.uint64)
        out[done : done + frame_len] = (
            bits.reshape(frame_len, b).astype(np.uint64) * powers
        ).sum(axis=1, dtype=np.uint64)
        off += nbytes
        done += frame_len
    return out


# --------------------------------------------------------------------- #
# Front-coded term dictionary (Lucene BlockTree prefix sharing)
# --------------------------------------------------------------------- #
TERM_BLOCK = 16


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def front_code_terms(terms) -> bytes:
    """Front-code a SORTED term list into TERM_BLOCK-term blocks —
    Lucene's BlockTree term-dictionary prefix sharing (every block
    leader is stored whole so a seekCeil can land on block boundaries;
    followers store only (lcp, suffix) against their predecessor).

    Layout: uint32 n_terms, then per term: uvarint lcp, uvarint
    suffix_len, suffix utf-8 bytes (block leaders have lcp forced to 0).
    Like FOR128 this is NOT the live layout (the term dictionary lives
    in parquet, whose own dictionary+RLE encoding the reader prunes
    with pushed ranges); it is the measured storage twin for a
    Lucene-file-layout export — tests/test_codec.py shows ~2-4x
    shrinkage on real sorted vocabularies."""
    parts = [np.uint32(len(terms)).tobytes()]
    prev = b""
    for i, t in enumerate(terms):
        tb = t.encode("utf-8")
        if i % TERM_BLOCK == 0:
            lcp = 0
        else:
            lcp = 0
            m = min(len(prev), len(tb))
            while lcp < m and prev[lcp] == tb[lcp]:
                lcp += 1
        suffix = tb[lcp:]
        parts.append(_uvarint(lcp))
        parts.append(_uvarint(len(suffix)))
        parts.append(suffix)
        prev = tb
    return b"".join(parts)


def front_decode_terms(buf: bytes) -> list[str]:
    """Inverse of front_code_terms."""
    if not buf:
        return []
    n = int(np.frombuffer(buf[:4], dtype=np.uint32)[0])
    off = 4
    out: list[str] = []
    prev = b""

    def uv(off):
        val, shift = 0, 0
        while True:
            b = buf[off]
            off += 1
            val |= (b & 0x7F) << shift
            if not b & 0x80:
                return val, off
            shift += 7

    for _ in range(n):
        lcp, off = uv(off)
        slen, off = uv(off)
        tb = prev[:lcp] + buf[off : off + slen]
        off += slen
        out.append(tb.decode("utf-8"))
        prev = tb
    return out
