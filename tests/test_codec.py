"""Varbyte/delta codec round-trip tests (FIXTURES.md §5: empty list, single
doc, gaps of 1, gaps > 2^28, tf=1 runs, seeded random arrays)."""

from __future__ import annotations

import numpy as np
import pytest

from nlp4l_spark.index import codec
from nlp4l_spark.index.bm25 import bm25_impact


CASES = [
    np.array([], dtype=np.int64),
    np.array([0], dtype=np.int64),
    np.array([7], dtype=np.int64),
    np.arange(1000, dtype=np.int64),  # gaps of 1
    np.array([0, 1, 2, 3, 2**28 + 5, 2**40, 2**40 + 1], dtype=np.int64),
    np.array([2**62], dtype=np.int64),
]


@pytest.mark.parametrize("doc_ids", CASES, ids=range(len(CASES)))
def test_doc_id_roundtrip(doc_ids):
    enc = codec.encode_doc_ids(doc_ids)
    out = codec.decode_doc_ids(enc)
    np.testing.assert_array_equal(out, doc_ids)


def _one_run(doc_ids, tfs, dls, avgdl):
    """encode_runs over a single (term, shard) run."""
    n = np.asarray(doc_ids).size
    return codec.encode_runs(
        doc_ids, tfs, dls, np.array([0]), np.array([n]), avgdl=avgdl
    )


def _bm25_block_maxima(tfs, dls, avgdl):
    imp = bm25_impact(tfs, dls, avgdl)
    return [
        float(imp[s : s + codec.BLOCK_SIZE].max())
        for s in range(0, imp.size, codec.BLOCK_SIZE)
    ]


def test_random_roundtrip_seeded():
    rng = np.random.RandomState(42)
    for _ in range(25):
        n = rng.randint(1, 5000)
        gaps = rng.randint(1, 2**20, size=n).astype(np.int64)
        doc_ids = np.cumsum(gaps) - 1
        tfs = rng.randint(1, 300, size=n).astype(np.int64)
        dls = tfs + rng.randint(0, 500, size=n)
        avgdl = float(dls.mean())
        row = _one_run(doc_ids, tfs, dls, avgdl)
        np.testing.assert_array_equal(
            codec.decode_doc_ids(row["doc_ids_enc"][0]), doc_ids
        )
        np.testing.assert_array_equal(codec.decode_tfs(row["tfs_enc"][0]), tfs)
        np.testing.assert_array_equal(codec.decode_tfs(row["dls_enc"][0]), dls)
        assert (row["df"][0], row["cf"][0]) == (n, tfs.sum())
        assert (row["min_doc"][0], row["max_doc"][0]) == (doc_ids[0], doc_ids[-1])
        bm = row["block_max"][0]
        assert len(bm) == (n + codec.BLOCK_SIZE - 1) // codec.BLOCK_SIZE
        assert bm[-1]["last_doc"] == int(doc_ids[-1])
        assert [b["max_impact"] for b in bm] == _bm25_block_maxima(
            tfs, dls, avgdl
        )


def test_varbyte_compression_is_compact():
    # gaps of 1 must take exactly 1 byte each
    doc_ids = np.arange(10_000, dtype=np.int64)
    assert len(codec.encode_doc_ids(doc_ids)) == 10_000


def test_tf_one_runs():
    tfs = np.ones(4096, dtype=np.int64)
    enc = codec.encode_tfs(tfs)
    assert len(enc) == 4096
    np.testing.assert_array_equal(codec.decode_tfs(enc), tfs)


def test_block_max_values():
    doc_ids = np.arange(300, dtype=np.int64)
    tfs = np.concatenate([np.full(128, 3), np.full(128, 9), np.full(44, 1)])
    dls = np.arange(300, dtype=np.int64) % 17 + 9
    bm = _one_run(doc_ids, tfs, dls, 12.5)["block_max"][0]
    assert [b["max_impact"] for b in bm] == _bm25_block_maxima(tfs, dls, 12.5)
    assert [b["last_doc"] for b in bm] == [127, 255, 299]


def test_encode_runs_rows_match_per_run_encoders():
    """Several runs in one call: each row's bytes equal the per-run
    encoders' (gaps and position runs reset at every run start), and
    block maxima never cross a run."""
    rng = np.random.RandomState(5)
    sizes = [1, 128, 129, 300, 2]
    runs = [np.sort(rng.choice(10**6, size=n, replace=False)) for n in sizes]
    d = np.concatenate(runs)
    f = rng.randint(1, 5, size=d.size)
    l = f + rng.randint(0, 40, size=d.size)
    p = np.concatenate([np.sort(rng.choice(64, size=k, replace=False)) for k in f])
    ends = np.cumsum(sizes)
    starts = ends - sizes
    rows = codec.encode_runs(d, f, l, starts, ends, positions=p, avgdl=20.0)
    pstart = np.concatenate(([0], np.cumsum(f)))
    for i, (s, e) in enumerate(zip(starts, ends)):
        assert rows["doc_ids_enc"][i] == codec.encode_doc_ids(d[s:e])
        assert rows["tfs_enc"][i] == codec.encode_tfs(f[s:e])
        assert rows["dls_enc"][i] == codec.encode_tfs(l[s:e])
        assert rows["pos_enc"][i] == codec.encode_positions(
            p[pstart[s] : pstart[e]], f[s:e]
        )
        assert [b["max_impact"] for b in rows["block_max"][i]] == (
            _bm25_block_maxima(f[s:e], l[s:e], 20.0)
        )


# ---------------- positions codec (hypothesis property tests) ----------- #
try:
    from hypothesis import given, settings, strategies as st

    HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAS_HYPOTHESIS = False

if HAS_HYPOTHESIS:

    @st.composite
    def _position_runs(draw):
        """Per-doc ascending position runs (possibly empty), flat array +
        lens — the exact shape a postings row's pos_enc stores."""
        n_docs = draw(st.integers(0, 12))
        lens, flat = [], []
        for _ in range(n_docs):
            run = sorted(
                draw(
                    st.sets(st.integers(0, 2**40), min_size=0, max_size=10)
                )
            )
            lens.append(len(run))
            flat.extend(run)
        return np.asarray(flat, dtype=np.int64), np.asarray(
            lens, dtype=np.int64
        )

    @given(_position_runs())
    @settings(max_examples=300, deadline=None)
    def test_positions_roundtrip_property(runs):
        flat, lens = runs
        buf = codec.encode_positions(flat, lens)
        np.testing.assert_array_equal(codec.decode_positions(buf, lens), flat)

    @given(_position_runs(), _position_runs())
    @settings(max_examples=150, deadline=None)
    def test_positions_buffers_concat_property(a, b):
        """Posting rows with disjoint doc ranges concatenate WITHOUT
        re-encoding — the invariant the segment merger and the phrase
        kernel's one-pass decode depend on (per-doc gap reset)."""
        fa, la = a
        fb, lb = b
        buf = codec.encode_positions(fa, la) + codec.encode_positions(fb, lb)
        lens = np.concatenate([la, lb])
        flat = np.concatenate([fa, fb])
        np.testing.assert_array_equal(codec.decode_positions(buf, lens), flat)

    @given(
        st.lists(st.integers(0, 2**55), min_size=0, max_size=60, unique=True)
    )
    @settings(max_examples=300, deadline=None)
    def test_doc_id_roundtrip_property(ids):
        d = np.asarray(sorted(ids), dtype=np.int64)
        np.testing.assert_array_equal(
            codec.decode_doc_ids(codec.encode_doc_ids(d)), d
        )

