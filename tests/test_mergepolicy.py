"""Tiered merge policy + generation compaction (index/mergepolicy.py).

Semantics pinned here:
1. TieredMergePolicy.find_merges is deterministic, bounds group width by
   max_merge_at_once / max_merged_segment_bytes, and leaves a generation
   list that fits the Lucene tier budget.
2. compact(gens) is rank-, score- AND docID-identical to both
   MultiSearcher(gens) (the query-time federation it replaces) and a
   single index built over the whole corpus — the Lucene invariant that
   merging segments never changes search results.
3. compact([g0, g1]) writes the same tables as one build over the same
   docs: both run the builder's one forward-index -> searchable-tables
   path (builder.write_searchable), the only Spark writer of postings,
   term_stats and field_stats. Its driver twin
   (microbuild.write_searchable_arrow) writes the same tables, positions
   included.
"""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from pyspark.sql import functions as F

import nlp4l_spark
from nlp4l_spark.data.transcripts import synth_transcripts
from nlp4l_spark.index import build_index
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.index.mergepolicy import (
    TieredMergePolicy,
    compact,
    index_size_bytes,
)
from nlp4l_spark.search import MultiSearcher, Searcher


# ---------------------------------------------------------------- policy


def test_allowed_count_tier_walk():
    p = TieredMergePolicy(
        segs_per_tier=4, max_merge_at_once=4, floor_segment_bytes=1
    )
    # 16 segments of 1 byte: tier walk -> 4 at level 1, 4 at level 4 ...
    assert p.allowed_segment_count([1] * 16) < 16
    # under budget: small counts are always allowed
    assert p.allowed_segment_count([1, 1]) >= 2
    assert p.allowed_segment_count([]) == 0


def test_find_merges_deterministic_and_bounded():
    p = TieredMergePolicy(
        segs_per_tier=2,
        max_merge_at_once=3,
        floor_segment_bytes=1,
        max_merged_segment_bytes=100,
    )
    sizes = {f"g{i:02d}": 10 for i in range(9)}
    m1 = p.find_merges(dict(sizes))
    m2 = p.find_merges(dict(reversed(list(sizes.items()))))
    assert m1 == m2  # input-order independent
    assert m1, "9 equal segments at segs_per_tier=2 must trigger merges"
    for g in m1:
        assert 2 <= len(g) <= 3
        assert g == sorted(g)
    # a merged group never exceeds the byte cap unless it's forced
    for g in m1:
        assert sum(sizes[x] for x in g if x in sizes) <= 100


def test_find_merges_respects_byte_cap():
    p = TieredMergePolicy(
        segs_per_tier=1,
        max_merge_at_once=10,
        floor_segment_bytes=1,
        max_merged_segment_bytes=25,
    )
    sizes = {"a": 10, "b": 10, "c": 10, "d": 10}
    for g in p.find_merges(sizes):
        assert sum(sizes[x] for x in g) <= 25


def test_find_merges_noop_when_under_budget():
    p = TieredMergePolicy(segs_per_tier=10, max_merge_at_once=10)
    assert p.find_merges({"a": 5 << 20, "b": 6 << 20}) == []
    assert p.find_merges({"a": 5 << 20}) == []
    assert p.find_merges({}) == []


# ------------------------------------------------------------- compaction


@pytest.fixture(scope="module")
def gens(spark, tmp_path_factory):
    """Three prefix-split generations + the single-index twin."""
    root = tmp_path_factory.mktemp("mergepol")
    full = synth_transcripts(spark, 1200, num_partitions=4)
    convs = sorted(
        r["conv_id"] for r in full.select("conv_id").distinct().collect()
    )
    c1, c2 = convs[len(convs) // 3], convs[2 * len(convs) // 3]
    d_full = str(root / "full")
    d = [str(root / f"gen{i}") for i in range(3)]
    build_index(full, d_full)
    build_index(full.filter(F.col("conv_id") < c1), d[0])
    build_index(
        full.filter((F.col("conv_id") >= c1) & (F.col("conv_id") < c2)), d[1]
    )
    build_index(full.filter(F.col("conv_id") >= c2), d[2])
    return d_full, d


@pytest.fixture(scope="module")
def compacted(spark, gens, tmp_path_factory):
    """compact(gens), written once for the tests that read it."""
    _, d = gens
    out = str(tmp_path_factory.mktemp("mergepol_compacted") / "out")
    return out, compact(spark, d, out)


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


QUERIES = ("w00001 w00454", "w00002", "w00010 w00020 w00030")


def test_compact_identical_to_federation_and_single(spark, gens, compacted):
    d_full, d = gens
    out, cat = compacted
    # collection stats are exact unions
    fs = cat.read(spark, "field_stats").collect()[0]
    single = Searcher(spark, d_full)
    assert fs["num_docs"] == single.num_docs
    assert fs["sum_dl"] == single.sum_dl
    comp = Searcher(spark, out)
    multi = MultiSearcher(spark, d)
    for q in QUERIES:
        want_multi = _rows(multi.search(q, k=10))
        want_single = _rows(single.search(q, k=10, method="dataframe"))
        got = _rows(comp.search(q, k=10, method="dataframe"))
        assert got == want_multi and got == want_single and got, q
    # WAND over the compacted index agrees on ranking too
    got_w = [x[0] for x in _rows(comp.search(QUERIES[0], k=10, method="wand"))]
    assert got_w == [x[0] for x in _rows(single.search(QUERIES[0], k=10))]


# build-only and compaction-only keys of the stored manifest: the index
# sort a build declares, and the docID holes compaction reserves
_STORED_ONLY = {"index_sort", "index_sort_desc", "expunged"}
SHARED_TABLES = (
    "stored", "doc_terms_fwd", "doc_lens", "postings", "term_stats",
    "field_stats",
)


def test_compact_matches_single_build(spark, gens, compacted):
    """compact(gens) and one build over the same docs run the same
    forward-index -> searchable-tables stages, so every table they share
    is row-identical: same schema, same rows, same manifest counters
    (segments is per-(term, shard, pid) and legitimately differs with
    partitioning; _lineage is the builder's own)."""
    d_full, _ = gens
    _assert_same_tables(spark, *compacted, d_full)


def test_compact_matches_single_positions_build(spark, pos_gens, pos_compacted):
    """The same identity for positions generations: the forward index
    carries the positions, so the compacted postings equal one positions
    build's, pos_enc bytes included."""
    d_full, _ = pos_gens
    out, comp = pos_compacted
    assert "pos_enc" in comp.columns("postings")
    _assert_same_tables(spark, out, comp, d_full)


def _assert_same_rows(spark, a_dir, b_dir, tables=SHARED_TABLES):
    """Each table of ``tables`` has the same parquet schema and rows in
    both index directories."""
    for t in tables:
        a = spark.read.parquet(os.path.join(a_dir, t))
        b = spark.read.parquet(os.path.join(b_dir, t))
        assert a.schema == b.schema, t
        key = [c for c in ("doc_id", "term", "shard", "field") if c in a.columns]
        assert (
            [tuple(r) for r in a.orderBy(*key).collect()]
            == [tuple(r) for r in b.orderBy(*key).collect()]
        ), t


def _assert_same_tables(spark, out, comp, d_full):
    single = IndexCatalog(d_full)
    assert comp.manifest("stored")["counters"]["expunged"] == 0
    _assert_same_rows(spark, out, d_full)
    for t in SHARED_TABLES:
        ca, cb = (
            {k: v for k, v in c.manifest(t)["counters"].items()
             if k not in _STORED_ONLY}
            for c in (comp, single)
        )
        assert ca == cb, t
    assert not comp.is_committed("_lineage")


class _Calls(ast.NodeVisitor):
    """(module, innermost function, str argument) of every call of a
    method named in ``attrs``; the function is ``None`` at module level."""

    def __init__(self, module: str, attrs: set[str]):
        self.module, self.attrs, self.fn, self.found = module, attrs, None, []

    def visit_FunctionDef(self, node):
        outer, self.fn = self.fn, node.name
        self.generic_visit(node)
        self.fn = outer

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr in self.attrs:
            self.found += [
                (self.module, self.fn, a.value)
                for a in node.args
                if isinstance(a, ast.Constant) and isinstance(a.value, str)
            ]
        self.generic_visit(node)


def _package_sources():
    pkg = pathlib.Path(nlp4l_spark.__file__).parent
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text(encoding="utf-8")
        yield path.relative_to(pkg).as_posix(), src, ast.parse(src)


@pytest.fixture(scope="module")
def pos_micro(spark, pos_gens, tmp_path_factory):
    """pos_gens' whole corpus (its full build's stored table without
    doc_id) micro-built with positions: the driver harness's twin of
    the full positions build."""
    from nlp4l_spark.index.microbuild import try_micro_build

    d_full, _ = pos_gens
    out = str(tmp_path_factory.mktemp("mergepol_pos_micro") / "micro")
    frame = IndexCatalog(d_full).read(spark, "stored").drop("doc_id")
    assert try_micro_build(frame, out, store_positions=True) is not None
    return out


def test_searchable_tables_have_one_spark_writer(pos_gens, pos_micro):
    """The doc_lens -> field_stats stages exist once per harness: the
    Spark harness (builder.write_searchable) and the driver harness
    (microbuild.write_searchable_arrow) are the only writers of those
    tables in the package, one call each; pruning's tier table is
    another writer by design. Posting rows are encoded only in codec.py
    (the only caller of ``varbyte_encode_with_lengths``), and manifests
    are written only by catalog.py. ``postings`` is the one posting
    table: positions ride in it, so a store_positions build commits no
    other table, and a micro generation commits no ``segments``."""
    tables = {"doc_lens", "segments", "postings", "term_stats", "field_stats"}
    writes, encodes = [], set()
    for module, src, tree in _package_sources():
        calls = _Calls(module, {"write", "write_arrow"})
        calls.visit(tree)
        writes += calls.found
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and "varbyte_encode_with_lengths" in (
                getattr(node.func, "attr", None), getattr(node.func, "id", None)
            ):
                encodes.add(module)
        if module != "index/catalog.py":
            assert "_MANIFEST.json" not in src, module
            assert not any(
                (isinstance(n, ast.Attribute) and n.attr == "manifest_path")
                or (isinstance(n, ast.alias) and n.name == "MANIFEST")
                for n in ast.walk(tree)
            ), module
    assert sorted(w for w in writes if w[2] in tables) == sorted(
        [("index/builder.py", "write_searchable", t) for t in tables]
        + [
            ("index/microbuild.py", "write_searchable_arrow", t)
            for t in tables - {"segments"}
        ]
    )
    assert {t for *_, t in writes if "post" in t} == {"postings"}
    assert encodes == {"index/codec.py"}
    # the positions + term-vector build of pos_gens
    d_full, _ = pos_gens
    cat = IndexCatalog(d_full)
    committed = {t for t in os.listdir(d_full) if cat.is_committed(t)}
    assert committed == {
        "stored", "doc_terms_fwd", "doc_lens", "segments", "postings",
        "term_stats", "field_stats", "_lineage", "term_vectors",
    }
    micro = IndexCatalog(pos_micro)
    assert {t for t in os.listdir(pos_micro) if micro.is_committed(t)} == {
        "stored", "doc_terms_fwd", "doc_lens", "postings", "term_stats",
        "field_stats", "_lineage",
    }


def test_micro_build_matches_positions_build(spark, pos_gens, pos_micro):
    """The driver harness writes positions as the Spark harness does: a
    positions micro build of pos_gens' corpus has the same schemas and
    rows as its full positions build (``doc_terms_fwd.positions`` and
    ``postings.pos_enc`` bytes included), phrase search agrees on the
    reader and the Spark postings plan, and check_index passes on
    both."""
    from nlp4l_spark.index import check_index
    from nlp4l_spark.index.builder import has_positions

    d_full, _ = pos_gens
    assert has_positions(IndexCatalog(pos_micro))
    _assert_same_rows(spark, pos_micro, d_full)
    micro, single = Searcher(spark, pos_micro), Searcher(spark, d_full)
    hit = False
    for phrase in PHRASES:
        for m in ("auto", "postings"):
            got, want = (
                [(r["doc_id"], r["score"]) for r in s.search_phrase(
                    phrase, k=10, method=m
                ).collect()]
                for s in (micro, single)
            )
            _same_hits(got, want)
            hit = hit or bool(got)
    assert hit
    for d in (pos_micro, d_full):
        report = check_index(spark, d).collect()
        bad = [(r["check"], r["detail"]) for r in report if not r["ok"]]
        assert report and not bad, (d, bad)


def test_compact_requires_forward_index(spark, tmp_path):
    df = synth_transcripts(spark, 60, num_partitions=2)
    d0 = str(tmp_path / "nofwd")
    build_index(df, d0).drop("doc_terms_fwd")
    with pytest.raises(ValueError, match="doc_terms_fwd"):
        compact(spark, [d0], str(tmp_path / "out"))


@pytest.fixture(scope="module")
def pos_gens(spark, tmp_path_factory):
    """Two prefix-split positions + term-vector generations and their
    single-index twin, shared by the positions compaction tests."""
    from nlp4l_spark.index import IndexBuilder

    root = tmp_path_factory.mktemp("mergepol_pos")
    full = synth_transcripts(spark, 600, num_partitions=3)
    convs = sorted(
        r["conv_id"] for r in full.select("conv_id").distinct().collect()
    )
    mid = convs[len(convs) // 2]
    b = IndexBuilder(store_positions=True, store_term_vectors=True)
    d_full = str(root / "full")
    d = [str(root / "g0"), str(root / "g1")]
    b.build(full, d_full)
    b.build(full.filter(F.col("conv_id") < mid), d[0])
    b.build(full.filter(F.col("conv_id") >= mid), d[1])
    return d_full, d


@pytest.fixture(scope="module")
def pos_compacted(spark, pos_gens, tmp_path_factory):
    _, d = pos_gens
    out = str(tmp_path_factory.mktemp("mergepol_pos_compacted") / "out")
    return out, compact(spark, d, out)


PHRASES = ("w00010 w00020", "w00001 w00454", "w00002 w00003")


def _same_hits(got, want):
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want))


def _phrase_paths(s, phrase):
    """The phrase top-10 of the driver reader, which the Spark postings
    plan and the term_vectors path must equal (doc ids exact, scores
    within 1e-9)."""
    auto, *others = [
        [(r["doc_id"], r["score"]) for r in s.search_phrase(
            phrase, k=10, method=m
        ).collect()]
        for m in ("auto", "postings", "term_vectors")
    ]
    for other in others:
        _same_hits(other, auto)
    return auto


def test_compact_carries_positions_and_vectors(spark, pos_gens, pos_compacted):
    """Positions (in the forward index, so in the rebuilt postings) and
    term_vectors survive compaction without re-analysis. The compacted
    index answers phrase queries identically to a single build on every
    path and passes the full offline integrity check."""
    from nlp4l_spark.index import check_index
    from nlp4l_spark.index.builder import has_positions

    d_full, _ = pos_gens
    out, cat = pos_compacted
    assert has_positions(cat)
    assert cat.is_committed("term_vectors")
    comp = Searcher(spark, out)
    single = Searcher(spark, d_full)
    hit = False
    for phrase in PHRASES:
        got = _phrase_paths(comp, phrase)
        _same_hits(got, _phrase_paths(single, phrase))
        hit = hit or bool(got)
    assert hit
    # term_vectors: rebased union matches the single build row-for-row
    tv_c = cat.read(spark, "term_vectors")
    tv_s = single.cat.read(spark, "term_vectors")
    assert sorted(map(tuple, tv_c.collect())) == sorted(
        map(tuple, tv_s.collect())
    )
    # offline integrity: postings (with positions)/term_vectors agree
    report = check_index(spark, out).collect()
    bad = [(r["check"], r["detail"]) for r in report if not r["ok"]]
    assert report and not bad, bad


def test_compact_expunges_deletes(spark, pos_gens, tmp_path, oracle_phrase):
    """Lucene merge semantics: tombstoned docs leave the compacted
    generation and stats recompute. Surviving docIDs keep their
    federation numbering (holes where deleted). The independent Python
    OracleIndex over the surviving (rebased_id, text) pairs is the
    referee for both ranking AND absolute BM25 scores, phrases included;
    a deliberately tiny docs_per_shard splits the rebased doc range into
    many shards; check_index validates postings (with positions) and
    term_vectors after the masked carry-over."""
    import shutil

    from nlp4l_spark.index import delete_docs
    from nlp4l_spark.oracle import OracleIndex

    d0, d1 = str(tmp_path / "g0"), str(tmp_path / "g1")
    for src, dst in zip(pos_gens[1], (d0, d1)):
        shutil.copytree(src, dst)
    multi = MultiSearcher(spark, [d0, d1])
    base1 = multi.doc_bases[1]
    # delete a top hit from each generation (global ids span both)
    top = [r["doc_id"] for r in multi.search("w00001", k=4).collect()]
    dels_global = {top[0], top[-1], 3, base1 + 3}
    for g in sorted(dels_global):
        if g < base1:
            delete_docs(spark, d0, [g])
        else:
            delete_docs(spark, d1, [g - base1])
    out = str(tmp_path / "out")
    cat = compact(spark, [d0, d1], out, docs_per_shard=97)
    # surviving corpus with federation numbering, minus deletions
    pairs = []
    for d, bb in ((d0, 0), (d1, base1)):
        for r in (
            Searcher(spark, d).cat.read(spark, "stored")
            .select("doc_id", "text").collect()
        ):
            g = r["doc_id"] + bb
            if g not in dels_global:
                pairs.append((g, r["text"]))
    oracle = OracleIndex.build(pairs)
    fs = cat.read(spark, "field_stats").collect()[0]
    assert fs["num_docs"] == len(pairs)
    assert fs["sum_dl"] == oracle.sum_dl
    comp = Searcher(spark, out)
    for q in ("w00001", "w00002 w00005", "w00010 w00020"):
        got = [
            (r["doc_id"], round(r["score"], 6))
            for r in comp.search(q, k=10, method="wand").collect()
        ]
        want = [(d, round(s, 6)) for d, s in oracle.search(q, 10)]
        assert got == want, (q, got, want)
        assert not ({g for g, _ in got} & dels_global)
    # phrase paths: reader, Spark plan and term_vectors equal the oracle
    texts = dict(pairs)
    cut = " ".join(pairs[5][1].split()[1:3])  # a phrase a survivor holds
    for ph in PHRASES + (cut,):
        got = _phrase_paths(comp, ph)
        _same_hits(got, oracle_phrase(oracle, texts, ph, 10))
        assert not ({g for g, _ in got} & dels_global)
    assert got
    _assert_check_green(spark, out)
    # nested: compacting the holed generation again keeps its docIDs,
    # its holes (expunged counts them all), its results and a green check
    out2 = str(tmp_path / "out2")
    again = compact(spark, [out], out2)
    assert again.manifest("stored")["counters"]["expunged"] == len(dels_global)
    for q in ("w00001", "w00002 w00005"):
        assert Searcher(spark, out2).search(q, k=10).collect() == (
            comp.search(q, k=10).collect()
        ), q
    _assert_check_green(spark, out2)


def _assert_check_green(spark, d):
    from nlp4l_spark.index import check_index

    report = check_index(spark, d).collect()
    bad = [(r["check"], r["detail"]) for r in report if not r["ok"]]
    assert report and not bad, (d, bad)


def _stored_ids(d):
    return IndexCatalog(d).read_arrow("stored", ["doc_id"])["doc_id"].to_pylist()


def test_generation_log_delete_routes_and_expunges(spark, tmp_path):
    from nlp4l_spark.index import GenerationLog, TieredMergePolicy, deleted_count

    full = synth_transcripts(spark, 450, num_partitions=2)
    convs = sorted(
        r["conv_id"] for r in full.select("conv_id").distinct().collect()
    )
    c1, c2 = convs[len(convs) // 3], convs[2 * len(convs) // 3]
    log = GenerationLog(str(tmp_path / "log"))
    log.ingest(full.filter(F.col("conv_id") < c1))
    log.ingest(full.filter((F.col("conv_id") >= c1) & (F.col("conv_id") < c2)))
    # NOTE: a 2-generation log is always within the tier budget
    # (allowed_segment_count >= 2) — three generations force the merge
    log.ingest(full.filter(F.col("conv_id") >= c2))
    fed = log.searcher(spark)
    top = [r["doc_id"] for r in fed.search("w00001", k=3).collect()]
    n = log.delete(spark, top[:2])
    assert n == 2
    # visible immediately through the federated view
    after = [r["doc_id"] for r in log.searcher(spark).search("w00001", k=3).collect()]
    assert not (set(after) & set(top[:2]))
    with pytest.raises(ValueError):
        log.delete(spark, [10**9])
    # maintain physically expunges: compacted generation has no tombstones
    policy = TieredMergePolicy(
        segs_per_tier=1.0,
        floor_segment_bytes=1 << 30,
        max_merged_segment_bytes=1 << 42,
    )
    log.maintain(spark, policy)
    assert len(log.live_dirs) == 1
    assert deleted_count(log.live_dirs[0]) == 0
    final = [r["doc_id"] for r in log.searcher(spark).search("w00001", k=3).collect()]
    assert not (set(final) & set(top[:2]))
    # a batch after the holed compaction: docBases sum the maxDoc, so
    # the federated IDs stay distinct and a delete lands where it points
    log.ingest(full.filter(F.col("conv_id") < c1))
    fed = log.searcher(spark)
    ids = [
        base + i
        for d, base in zip(log.live_dirs, fed.doc_bases)
        for i in _stored_ids(d)
    ]
    assert len(ids) == len(set(ids))
    holed, fresh = log.live_dirs
    last = max(_stored_ids(holed))
    assert log.delete(spark, [last]) == 1
    assert IndexCatalog(holed).read_arrow("tombstones", ["doc_id"])[
        "doc_id"
    ].to_pylist() == [last]
    assert deleted_count(fresh) == 0
    # and the next round compacts the three into a generation that checks
    log.ingest(full.filter(F.col("conv_id") >= c2))
    log.maintain(spark, policy)
    assert len(log.live_dirs) == 1
    _assert_check_green(spark, log.live_dirs[0])


def test_index_size_bytes(gens):
    _, d = gens
    s = index_size_bytes(d[0])
    assert s > 0
    assert index_size_bytes(d[0] + "_missing") == 0
