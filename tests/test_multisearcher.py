"""MultiSearcher (Lucene MultiReader analogue): searching K per-split
indexes with blended global stats must be rank- AND score-identical to
searching one index built over the whole corpus — BM25 sees the corpus
only through (N, df, avgdl, tf, dl), all blended exactly. The split is
a prefix split in (conv_id, turn_idx) order so docBase offsets line up
with the single index's dense docIDs."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from nlp4l_spark.data.transcripts import synth_transcripts
from nlp4l_spark.index import GenerationLog, build_index, delete_docs
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.search import MultiSearcher, Searcher
from nlp4l_spark.search import reader as reader_mod


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("multi")
    full = synth_transcripts(spark, 1500, num_partitions=4)
    convs = sorted(
        r["conv_id"] for r in full.select("conv_id").distinct().collect()
    )
    mid = convs[len(convs) // 2]
    d_full, d_a, d_b = str(root / "full"), str(root / "a"), str(root / "b")
    build_index(full, d_full)
    build_index(full.filter(F.col("conv_id") < mid), d_a)
    build_index(full.filter(F.col("conv_id") >= mid), d_b)
    return d_full, d_a, d_b


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_split_equals_single_index(spark, dirs):
    d_full, d_a, d_b = dirs
    single = Searcher(spark, d_full)
    multi = MultiSearcher(spark, [d_a, d_b])
    assert multi.num_docs == single.num_docs
    assert multi.sum_dl == single.sum_dl
    assert abs(multi.avgdl - single.avgdl) < 1e-12
    for q in ("w00001 w00454", "w00002", "w00010 w00020 w00030"):
        got = _rows(multi.search(q, k=10))
        want = _rows(single.search(q, k=10, method="dataframe"))
        assert got == want and want, q
    # and rank-identity against the WAND path too
    got = [d for d, _ in _rows(multi.search("w00001 w00454", k=10))]
    want = [
        d for d, _ in _rows(single.search("w00001 w00454", k=10, method="wand"))
    ]
    assert got == want


def test_single_dir_degenerate(spark, dirs):
    d_full, _, _ = dirs
    multi = MultiSearcher(spark, [d_full])
    single = Searcher(spark, d_full)
    q = "w00001 w00454"
    assert _rows(multi.search(q, k=10)) == _rows(
        single.search(q, k=10, method="dataframe")
    )


def test_unknown_and_empty(spark, dirs):
    _, d_a, d_b = dirs
    multi = MultiSearcher(spark, [d_a, d_b])
    assert multi.search("zzzqqqxxx", k=5).count() == 0
    with pytest.raises(ValueError):
        MultiSearcher(spark, [])


def test_federation_respects_per_shard_deletes(spark, dirs, tmp_path):
    """Deleting a doc in ONE shard must drop it from federated results
    while the other shard's candidates are untouched — Lucene's
    per-reader liveDocs semantics under MultiReader."""
    import shutil

    from nlp4l_spark.index import delete_docs

    d_full, d_a, d_b = dirs
    # work on copies so the module fixture stays pristine
    ca, cb = str(tmp_path / "da"), str(tmp_path / "db")
    shutil.copytree(d_a, ca)
    shutil.copytree(d_b, cb)
    ms0 = MultiSearcher(spark, [ca, cb])
    q = "w00001 w00454"
    before = [r["doc_id"] for r in ms0.search(q, k=5).collect()]
    assert before
    top = before[0]
    # locate the top doc's owning shard + local id, tombstone it there
    base_a = ms0.doc_bases[1]
    if top < base_a:
        delete_docs(spark, ca, [top])
    else:
        delete_docs(spark, cb, [top - base_a])
    ms1 = MultiSearcher(spark, [ca, cb])
    after = [r["doc_id"] for r in ms1.search(q, k=5).collect()]
    assert top not in after
    # the rest of the ranking is unchanged (stats frozen until expunge,
    # the Lucene deletes model) and the next candidate fills in
    assert after[: len(before) - 1] == [d for d in before if d != top][:4]


# --------------------------------------------------------------------- #
# The driver path (per-member IndexReader + NumPy merge) against the
# Spark plan it falls back to (gate forced to 0) and a single index.
# --------------------------------------------------------------------- #
STOP_ONLY = "the and of"
UNKNOWN = "zzzqqqxxx"


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _assert_same(got, want, what):
    assert [d for d, _ in got] == [d for d, _ in want], what
    assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want)), what


def _three_ways(multi, single, queries, monkeypatch, k=10):
    """Routed MultiSearcher == forced Spark plan (the same kernel, equal
    rows) and == single index (the dataframe plan, scores within 1e-9),
    for every query."""
    routed = [_pairs(multi.search(q, k=k)) for q in queries]
    with monkeypatch.context() as m:
        m.setattr(reader_mod, "MAX_POSTING_BYTES", 0)
        forced = [_pairs(multi.search(q, k=k)) for q in queries]
    for q, got, spark_rows in zip(queries, routed, forced):
        want = _pairs(single.search(q, k=k, method="dataframe"))
        assert got == spark_rows, f"driver vs Spark plan: {q!r}"
        _assert_same(got, want, f"driver vs single index: {q!r}")
    return routed


def _only_in(d_has, d_not):
    """The highest-df term of ``d_has`` that ``d_not`` lacks."""
    has = IndexCatalog(d_has).read_arrow("term_stats", ["term", "df"])
    lacks = set(
        IndexCatalog(d_not).read_arrow("term_stats", ["term"])["term"].to_pylist()
    )
    rows = sorted(
        zip(has["df"].to_pylist(), has["term"].to_pylist()), reverse=True
    )
    return next(t for _, t in rows if t not in lacks)


def test_driver_path_matches_spark_plan_and_single_index(spark, dirs, monkeypatch):
    d_full, d_a, d_b = dirs
    multi = MultiSearcher(spark, [d_a, d_b])
    single = Searcher(spark, d_full)
    only_a, only_b = _only_in(d_a, d_b), _only_in(d_b, d_a)
    queries = [
        "w00001 w00454", "w00002", "w00010 w00020 w00030",
        only_a, only_b, f"{only_a} w00001", UNKNOWN, STOP_ONLY,
        f"{UNKNOWN} w00002",
    ]
    routed = _three_ways(multi, single, queries, monkeypatch)
    assert routed[0] and routed[3] and routed[4]
    assert routed[6] == [] and routed[7] == []
    base_b = multi.doc_bases[1]
    assert all(d < base_b for d, _ in routed[3])
    assert all(d >= base_b for d, _ in routed[4])


def test_driver_path_k_above_hit_count(spark, dirs, monkeypatch):
    d_full, d_a, d_b = dirs
    multi = MultiSearcher(spark, [d_a, d_b])
    single = Searcher(spark, d_full)
    only_a, only_b = _only_in(d_a, d_b), _only_in(d_b, d_a)
    hits = single._term_stats([only_a])[only_a]
    routed = _three_ways(
        multi, single, [only_a, f"{only_a} {only_b}"], monkeypatch, k=hits + 50
    )
    assert len(routed[0]) == hits


def test_driver_path_single_dir(spark, dirs, monkeypatch):
    d_full, _, _ = dirs
    multi = MultiSearcher(spark, [d_full])
    single = Searcher(spark, d_full)
    routed = _three_ways(
        multi, single, ["w00001 w00454", "w00002", STOP_ONLY], monkeypatch
    )
    assert routed[0] == [
        (r["doc_id"], r["score"])
        for r in single.search("w00001 w00454", k=10).collect()
    ]


def test_driver_path_per_shard_tombstones(spark, dirs, tmp_path, monkeypatch):
    d_full, d_a, d_b = dirs
    ca, cb, cf = (str(tmp_path / n) for n in ("a", "b", "full"))
    for src, dst in ((d_a, ca), (d_b, cb), (d_full, cf)):
        shutil.copytree(src, dst)
    q = "w00001 w00454"
    ms0 = MultiSearcher(spark, [ca, cb])
    base_b = ms0.doc_bases[1]
    top = [d for d, _ in _pairs(ms0.search(q, k=20))]
    in_a = [d for d in top if d < base_b][:3]
    in_b = [d for d in top if d >= base_b][:3]
    assert in_a and in_b
    delete_docs(spark, ca, in_a)
    delete_docs(spark, cb, [d - base_b for d in in_b])
    delete_docs(spark, cf, in_a + in_b)
    multi = MultiSearcher(spark, [ca, cb])
    routed = _three_ways(
        multi, Searcher(spark, cf), [q, "w00002", "w00010 w00020"], monkeypatch
    )
    assert not set(in_a + in_b) & {d for d, _ in routed[0]}


@pytest.fixture(scope="module")
def micro_log(spark, dirs, tmp_path_factory):
    """The ``dirs`` corpus ingested in three prefix-ordered batches as
    microbuild-written generations, with its whole-corpus index."""
    full = synth_transcripts(spark, 1500, num_partitions=4)
    convs = sorted(
        r["conv_id"] for r in full.select("conv_id").distinct().collect()
    )
    cuts = [convs[len(convs) * i // 3] for i in (1, 2)]
    log = GenerationLog(str(tmp_path_factory.mktemp("micro_log") / "log"))
    log.ingest(full.filter(F.col("conv_id") < cuts[0]))
    log.ingest(
        full.filter((F.col("conv_id") >= cuts[0]) & (F.col("conv_id") < cuts[1]))
    )
    log.ingest(full.filter(F.col("conv_id") >= cuts[1]))
    return log, dirs[0]


def test_driver_path_on_microbuilt_generations(spark, micro_log, monkeypatch):
    log, d_full = micro_log
    assert len(log.live_dirs) == 3
    routed = _three_ways(
        log.searcher(spark),
        Searcher(spark, d_full),
        ["w00001 w00454", "w00002 needle03", UNKNOWN, STOP_ONLY],
        monkeypatch,
    )
    assert routed[0] and routed[1]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_federated_search_runs_no_spark_job(spark, micro_log, monkeypatch):
    """The guard on the ingest read path: opening a searcher on the log
    and answering an admitted query runs zero Spark jobs; with the gate
    at 0 the same call runs the Spark plan and answers the same rows."""
    log, _ = micro_log
    q = "w00001 w00454 needle03"
    fed, jobs = _jobs(spark, "fed-open", lambda: log.searcher(spark))
    assert jobs == [], f"searcher construction ran Spark jobs {jobs}"
    rows, jobs = _jobs(
        spark, "fed-search", lambda: fed.search(q, k=10).collect()
    )
    assert jobs == [], f"federated search ran Spark jobs {jobs}"
    assert rows
    monkeypatch.setattr(reader_mod, "MAX_POSTING_BYTES", 0)
    forced, jobs = _jobs(
        spark, "fed-forced", lambda: fed.search(q, k=10).collect()
    )
    assert jobs, "the federated search stayed on the driver past the gate"
    _assert_same(
        [(r["doc_id"], r["score"]) for r in forced],
        [(r["doc_id"], r["score"]) for r in rows],
        q,
    )


def test_driver_path_members_with_different_doc_lengths(
    spark, tmp_path_factory, monkeypatch
):
    """One member of short turns, one of long turns: the union's avgdl
    is far above the short member's, so its impacts rise above the block
    maxima it stored under its own avgdl. The driver path must still
    find every top-k doc there."""
    root = tmp_path_factory.mktemp("skew")
    full = synth_transcripts(spark, 1500, num_partitions=4)
    convs = sorted(
        r["conv_id"] for r in full.select("conv_id").distinct().collect()
    )
    mid = convs[len(convs) // 2]
    short = full.filter(F.col("conv_id") < mid).withColumn(
        "text", F.expr("substring_index(text, ' ', 4 + turn_idx % 8)")
    )
    long = full.filter(F.col("conv_id") >= mid).withColumn(
        "text", F.concat_ws(" ", "text", F.lit(" ".join(["zpad"] * 1000)))
    )
    d_full, d_a, d_b = (str(root / n) for n in ("full", "a", "b"))
    build_index(short.unionByName(long), d_full)
    build_index(short, d_a)
    build_index(long, d_b)
    multi = MultiSearcher(spark, [d_a, d_b])
    a_avgdl = multi.searchers[0].avgdl
    assert multi.avgdl > 50 * a_avgdl
    routed = _three_ways(
        multi,
        Searcher(spark, d_full),
        ["w00000", "w00001", "w00002", "w00000 w00001"],
        monkeypatch,
        k=30,
    )
    assert all(routed)
    assert all(any(d < multi.doc_bases[1] for d, _ in r) for r in routed)
