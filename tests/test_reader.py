"""The driver-resident IndexReader behind ``method="auto"``.

Every routed entry point — OR ``search``, ``operator="and"``,
``search_batch`` and ``search_phrase`` — must answer exactly what the
explicitly named Spark plan (doc ids and scores ``==``: both run the same
row kernel) and the OracleIndex (doc ids exactly, scores within 1e-9)
answer, on a plain index, with
tombstones, on a pruned postings tier, on a microbuild-written
generation and after ``expunge_deletes`` under a live searcher. The gate
constant set below a query's size must send ``auto`` to the Spark plan
with identical results, and an admitted routed call must run no Spark
job at all.
"""

from __future__ import annotations

import heapq
import shutil
from functools import partial

import pandas as pd
import pytest

from pyspark.sql import functions as F

from nlp4l_spark.data import LONDON_BRIDGE_VERSES
from nlp4l_spark.data.fixtures import transcripts_df
from nlp4l_spark.data.transcripts import synth_queries, synth_transcripts
from nlp4l_spark.index import GenerationLog, IndexBuilder, check_index
from nlp4l_spark.index.bm25 import idf
from nlp4l_spark.index.deletes import delete_docs, expunge_deletes
from nlp4l_spark.index.pruning import prune_postings
from nlp4l_spark.oracle import OracleIndex
from nlp4l_spark.search import MultiSearcher, Searcher
from nlp4l_spark.search import engine, reader as reader_mod
from nlp4l_spark.search.wand import maxscore_topk, wand_topk

K = 10
STOP = "the and of"
UNKNOWN = "zzqqxxnotaterm"
OR_QUERIES = [q for _, q, _ in synth_queries(7)] + [
    STOP,
    UNKNOWN,
    "w00001 w00454 needle00",
]
AND_QUERIES = ["w00001 w00002", "w00003 w00010 w00017", "w00001 needle00",
               STOP, UNKNOWN, "w00001 zzqqxxnotaterm"]
DELETED = [0, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377]
# OR queries over a federation of the verses and the synthetic corpus
FED_QUERIES = ["london bridge", "silver gold w00001", "w00001 w00454 needle00"]


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_transcripts(spark, 600, num_partitions=4)


@pytest.fixture(scope="module")
def idx(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reader") / "idx")
    IndexBuilder(store_positions=True).build(corpus, d)
    return d


@pytest.fixture(scope="module")
def deleted_idx(spark, idx, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reader_del") / "idx")
    shutil.copytree(idx, d)
    delete_docs(spark, d, DELETED)
    return d


@pytest.fixture(scope="module")
def verses_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reader_verses") / "idx")
    IndexBuilder(store_positions=True).build(transcripts_df(spark), d)
    return d


@pytest.fixture(scope="module")
def micro_dir(spark, corpus, tmp_path_factory):
    log = GenerationLog(str(tmp_path_factory.mktemp("reader_gens") / "log"))
    return log.ingest(corpus)


def _docs(spark, d):
    s = Searcher(spark, d)
    rows = s.cat.read(spark, "stored").select("doc_id", "text").collect()
    return [(int(r["doc_id"]), r["text"]) for r in rows]


@pytest.fixture(scope="module")
def oracle(spark, idx):
    return OracleIndex.build(_docs(spark, idx))


def _rows(df):
    return sorted(
        ((int(r["doc_id"]), float(r["score"])) for r in df.collect()),
        key=lambda x: (-x[1], x[0]),
    )


def _same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want))


def _live(hits, dead, k):
    return [h for h in hits if h[0] not in dead][:k]


def _oracle_and(ix: OracleIndex, q: str, k: int, dead=frozenset()):
    terms = sorted(set(ix.analyzer.tokenize(q)))
    lists = [dict(ix.postings.get(t, [])) for t in terms]
    if not terms or any(not pl for pl in lists):
        return []
    docs = set(lists[0]).intersection(*lists[1:]) - set(dead)
    scores = {
        d: sum(ix.bm25_score(pl[d], ix.doc_lens[d], ix.idf(t))
               for t, pl in zip(terms, lists))
        for d in docs
    }
    return heapq.nsmallest(k, scores.items(), key=lambda kv: (-kv[1], kv[0]))


def _phrases(docs, n=6):
    """Two- and three-word phrases cut from stored texts."""
    out = []
    for i, (_, text) in enumerate(docs[: n * 7 : 7]):
        words = text.split()
        if len(words) >= 3:
            out.append(" ".join(words[1 : 3 + i % 2]))
    return out


def _check_or(s, q, k, want=None, dataframe=False):
    auto = _rows(s.search(q, k=k))
    wand = _rows(s.search(q, k=k, method="wand"))
    assert auto == wand, q  # same kernel, same summation order
    if dataframe:
        _same(auto, _rows(s.search(q, k=k, method="dataframe")))
    if want is not None:
        _same(auto, want)
    return auto


def _check_and(s, q, k, want=None):
    auto = _rows(s.search(q, k=k, operator="and"))
    assert auto == _rows(s.search(q, k=k, operator="and", method="wand")), q
    if want is not None:
        _same(auto, want)
    return auto


def _check_batch(s, queries, want=None):
    def per_q(df):
        out = {}
        for r in sorted(df.collect(), key=lambda r: (r["qid"], r["rank"])):
            out.setdefault(int(r["qid"]), []).append(
                (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            )
        return out

    auto = per_q(s.search_batch(queries))
    assert auto == per_q(s.search_batch(queries, method="wand"))
    if want is not None:
        for qid, q, k in queries:
            _same([(d, sc) for _, d, sc in auto.get(qid, [])], want(q, k))


def _check_phrase(s, q, k, want=None):
    auto = _rows(s.search_phrase(q, k=k))
    assert auto == _rows(s.search_phrase(q, k=k, method="postings")), q
    if s.cat.is_committed("term_vectors"):
        _same(auto, _rows(s.search_phrase(q, k=k, method="term_vectors")))
    if want is not None:
        _same(auto, want)
    return len(auto)


# --------------------------------------------------------------------- #
def test_auto_matches_spark_and_oracle(spark, idx, oracle, oracle_phrase):
    s = Searcher(spark, idx)
    for q in OR_QUERIES:
        _check_or(s, q, K, oracle.search(q, K), dataframe=True)
    for q in AND_QUERIES:
        _check_and(s, q, K, _oracle_and(oracle, q, K))
    batch = [(i, q, K) for i, q in enumerate(OR_QUERIES)]
    _check_batch(s, batch, lambda q, k: oracle.search(q, k))
    docs = _docs(spark, idx)
    texts = dict(docs)
    hits = 0
    for q in _phrases(docs) + [STOP, UNKNOWN]:
        hits += _check_phrase(s, q, K, oracle_phrase(oracle, texts, q, K))
    assert hits > 0
    assert s._reader_cache is not None  # the routed calls took the reader


def test_k_larger_than_hit_count(spark, idx, oracle, oracle_phrase):
    s = Searcher(spark, idx)
    q = "needle00"
    hits = _check_or(s, q, 500, oracle.search(q, 500))
    assert 0 < len(hits) < 500
    q_and = "w00001 needle00"
    _check_and(s, q_and, 500, _oracle_and(oracle, q_and, 500))
    _check_batch(
        s, [(0, q, 500), (1, "w00454", 3)], lambda q, k: oracle.search(q, k)
    )
    docs = _docs(spark, idx)
    ph = _phrases(docs)[0]
    _check_phrase(s, ph, 500, oracle_phrase(oracle, dict(docs), ph, 500))


def test_tombstoned_docs(spark, deleted_idx, oracle, oracle_phrase):
    """Deletes keep collection stats frozen, so the oracle over every doc
    with the deleted ids filtered out is the reference."""
    s = Searcher(spark, deleted_idx)
    dead = frozenset(DELETED)
    assert s.deleted_ids == dead
    for q in OR_QUERIES:
        _check_or(s, q, K, _live(oracle.search(q, K + len(dead)), dead, K))
    for q in AND_QUERIES:
        _check_and(s, q, K, _oracle_and(oracle, q, K, dead))
    batch = [(i, q, K) for i, q in enumerate(OR_QUERIES)]
    _check_batch(
        s, batch, lambda q, k: _live(oracle.search(q, k + len(dead)), dead, k)
    )
    docs = _docs(spark, deleted_idx)
    for q in _phrases(docs):
        _check_phrase(s, q, K, oracle_phrase(oracle, dict(docs), q, K, dead))


def test_pruned_tier(spark, idx):
    table = prune_postings(spark, idx, keep_per_term=5)
    s = Searcher(spark, idx, postings_table=table)
    for q in OR_QUERIES:
        _check_or(s, q, K)
    for q in AND_QUERIES:
        _check_and(s, q, K)
    # the 5-per-term tier keeps docs holding both terms
    assert _check_and(s, "w00026 w00134", K)
    _check_batch(s, [(i, q, K) for i, q in enumerate(OR_QUERIES)])
    # the tier really answers: fewer candidates than the full index
    full = Searcher(spark, idx)
    assert len(_rows(s.search("w00001", k=500))) < len(
        _rows(full.search("w00001", k=500))
    )


def test_microbuild_generation(spark, micro_dir):
    s = Searcher(spark, micro_dir)
    ix = OracleIndex.build(_docs(spark, micro_dir))
    for q in OR_QUERIES:
        _check_or(s, q, K, ix.search(q, K))
    for q in AND_QUERIES:
        _check_and(s, q, K, _oracle_and(ix, q, K))
    _check_batch(
        s, [(i, q, K) for i, q in enumerate(OR_QUERIES)],
        lambda q, k: ix.search(q, k),
    )


def test_searcher_follows_expunge_deletes(spark, tmp_path, oracle_phrase):
    """``expunge_deletes`` rewrites the index in place under a live
    searcher: docs renumbered, stats recomputed, tombstones gone. The
    searcher's next call reloads stats, tombstones and reader as one unit
    (no Spark job) and then answers on every method exactly as a fresh
    searcher and the OracleIndex over the surviving docs do."""
    path = str(tmp_path / "idx")
    IndexBuilder(store_positions=True, store_term_vectors=True).build(
        transcripts_df(spark), path
    )
    delete_docs(spark, path, [0, 1, 2])
    s = Searcher(spark, path)
    queries = ["build", "silver gold", "wood clay needles pins"]
    for q in queries:  # opens the reader on the tombstoned snapshot
        _check_or(s, q, K)
    assert s.num_docs == 11 and s.deleted_ids == {0, 1, 2}
    expunge_deletes(spark, path)
    _, jobs = _jobs(spark, "reader-reopen", lambda: s.search(queries[0]).collect())
    assert jobs == [], f"the reopening call ran Spark jobs {jobs}"
    survivors = dict(enumerate(LONDON_BRIDGE_VERSES[3:]))
    oracle = OracleIndex.build(list(survivors.items()))
    fresh = Searcher(spark, path)
    for q in queries:
        want = oracle.search(q, K)
        assert want
        assert _check_or(s, q, K, want, dataframe=True) == _check_or(fresh, q, K)
        _check_and(s, q, K, _oracle_and(oracle, q, K))
    _check_batch(
        s, [(i, q, K) for i, q in enumerate(queries)],
        lambda q, k: oracle.search(q, k),
    )
    for ph in ("fair lady", "wash away", "stone so strong", "silver and gold"):
        assert _check_phrase(s, ph, K, oracle_phrase(oracle, survivors, ph, K))
    # check_index passes on the rewritten index
    report = check_index(spark, path).collect()
    assert report and all(r["ok"] for r in report), report
    assert s.num_docs == fresh.num_docs == len(survivors)
    assert s.deleted_ids == frozenset()


def test_searcher_follows_new_tombstones(spark, idx, oracle, tmp_path):
    """``delete_docs`` under a live searcher that already loaded its
    tombstones and opened its reader: the next call sees the new
    tombstones (no Spark job), with collection stats still frozen, and
    answers as the oracle with the deleted ids filtered out."""
    path = str(tmp_path / "idx")
    shutil.copytree(idx, path)
    s = Searcher(spark, path)
    for q in OR_QUERIES[:3]:  # opens the reader with no tombstones
        _check_or(s, q, K, oracle.search(q, K))
    assert s.deleted_ids == frozenset()
    num_docs, avgdl = s.num_docs, s.avgdl
    delete_docs(spark, path, DELETED)
    dead = frozenset(DELETED)
    _, jobs = _jobs(spark, "tombstones-reload", lambda: s.search(OR_QUERIES[0]).collect())
    assert jobs == [], f"the reloading call ran Spark jobs {jobs}"
    assert s.deleted_ids == dead
    assert (s.num_docs, s.avgdl) == (num_docs, avgdl)
    for q in OR_QUERIES:
        _check_or(s, q, K, _live(oracle.search(q, K + len(dead)), dead, K))
    for q in AND_QUERIES[:3]:
        _check_and(s, q, K, _oracle_and(oracle, q, K, dead))


# --------------------------------------------------------------------- #
def _routed_calls(s, phrase):
    """Every routed entry point, each as (name, thunk returning its
    result frame)."""
    batch = [(i, q, K) for i, q in enumerate(OR_QUERIES[:8])]
    return [
        ("or", lambda: s.search("w00001 w00454 needle00", k=K)),
        ("or_stop", lambda: s.search(STOP, k=K)),
        ("or_unknown", lambda: s.search(UNKNOWN, k=K)),
        ("and", lambda: s.search("w00001 w00002", k=K, operator="and")),
        ("and_unknown", lambda: s.search(UNKNOWN, k=K, operator="and")),
        ("batch", lambda: s.search_batch(batch)),
        ("phrase", lambda: s.search_phrase(phrase, k=K)),
        ("phrase_unknown", lambda: s.search_phrase(UNKNOWN, k=K)),
    ]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_routed_calls_run_no_spark_job(spark, idx, deleted_idx):
    """The guard on the hot path: constructing a Searcher and answering
    every admitted routed call (reader open included) runs zero jobs. An
    unknown operator or method raises ValueError, also on a query whose
    terms are all unknown, and runs no job either."""
    phrase = _phrases(_docs(spark, idx))[0]
    for n, d in enumerate((idx, deleted_idx)):
        s, jobs = _jobs(spark, f"reader-open-{n}", lambda: Searcher(spark, d))
        assert jobs == [], "Searcher construction ran a Spark job"
        for name, call in _routed_calls(s, phrase):
            _, jobs = _jobs(spark, f"reader-{n}-{name}", lambda: call().collect())
            assert jobs == [], f"routed call {name!r} ran Spark jobs {jobs}"
    rejected = [
        lambda: s.search("w00001 w00002", k=K, operator="AND"),
        lambda: s.search("w00001 w00002", k=K, method="wnad"),
        lambda: s.search(UNKNOWN, k=K, method="wnad"),
        lambda: s.search("w00001 w00002", k=K, operator="and", method="posting"),
        lambda: s.search(UNKNOWN, k=K, operator="and", method="posting"),
        lambda: s.search_batch([(0, UNKNOWN, K)], method="wnad"),
        lambda: s.search_phrase(phrase, k=K, method="posting"),
        lambda: s.search_phrase(STOP, k=K, method="posting"),
    ]
    tracker = spark.sparkContext.statusTracker()
    for i, call in enumerate(rejected):
        with pytest.raises(ValueError, match="unknown"):
            _jobs(spark, f"rejected-{i}", call)
        assert not tracker.getJobIdsForGroup(f"rejected-{i}"), i


def test_gate_falls_back_to_spark(spark, idx, monkeypatch):
    """A posting list too big for the driver: with the gate constant below
    the query's size, ``auto`` runs the Spark plan (it now runs jobs) and
    answers exactly as the reader did."""
    phrase = _phrases(_docs(spark, idx))[0]
    admitted = [
        call().collect() for _, call in _routed_calls(Searcher(spark, idx), phrase)
    ]
    monkeypatch.setattr(reader_mod, "MAX_POSTING_BYTES", 0)
    s = Searcher(spark, idx)
    for (name, call), want in zip(_routed_calls(s, phrase), admitted):
        got, jobs = _jobs(spark, f"gate-{name}", lambda: call().collect())
        if name in ("or", "and", "batch", "phrase"):
            assert jobs, f"{name!r} stayed on the driver past the gate"
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), name


def test_gate_counts_only_the_columns_a_call_reads(spark, idx, monkeypatch):
    """On a positions index the gate counts the column chunks a call
    reads: an OR call leaves pos_enc out. With the cap at exactly the OR
    bytes of a phrase's terms, the OR query over them stays on the driver
    while the phrase, which reads pos_enc too, falls back to Spark."""
    phrase = _phrases(_docs(spark, idx))[0]
    s = Searcher(spark, idx)
    terms, _ = s._phrase_terms(phrase)
    r = s._reader
    or_bytes = r.postings.selected_bytes(terms)
    assert 0 < or_bytes < r.positions.selected_bytes(
        terms, reader_mod.PHRASE_COLUMNS
    )
    monkeypatch.setattr(reader_mod, "MAX_POSTING_BYTES", or_bytes)
    _, jobs = _jobs(spark, "gate-cols-or", lambda: s.search(phrase, k=K).collect())
    assert jobs == []
    _, jobs = _jobs(
        spark, "gate-cols-phrase", lambda: s.search_phrase(phrase, k=K).collect()
    )
    assert jobs


# --------------------------------------------------------------------- #
def test_routed_frames_collect_like_spark(spark, idx, verses_idx):
    """A routed result is held on the driver: its ``collect()`` returns
    the rows that the ``LocalRelation`` of its table collects (values,
    field names and order, Python types) without building that relation
    or running a Spark job."""
    s = Searcher(spark, idx)
    multi = MultiSearcher(spark, [verses_idx, idx])
    calls = _routed_calls(s, _phrases(_docs(spark, idx))[0]) + [
        ("multi", lambda: multi.search(FED_QUERIES[1], k=K)),
        ("multi_unknown", lambda: multi.search(UNKNOWN, k=K)),
    ]
    for name, call in calls:
        frame = call()
        rows, jobs = _jobs(spark, f"frame-{name}", frame.collect)
        assert jobs == [], f"{name!r} ran Spark jobs {jobs}"
        assert "_jdf" not in vars(frame), f"{name!r} built its JVM plan"
        relation = spark.createDataFrame(frame._table)
        want = relation.collect()
        assert rows == want, name
        assert bool(rows) == ("unknown" not in name and "stop" not in name)
        for got_row, want_row in zip(rows, want):
            assert got_row.__fields__ == want_row.__fields__, name
            assert list(map(type, got_row)) == list(map(type, want_row)), name
        assert frame.schema == relation.schema, name
        if "rank" in frame.columns:
            assert frame.schema["rank"].nullable is False, name


def test_routed_frame_behaves_as_its_local_relation(spark, idx):
    """Every call but ``collect`` runs on the frame's ``LocalRelation``,
    built on first use: it answers as that relation does."""
    s = Searcher(spark, idx)
    other = s.search("w00001", k=50).select("doc_id", F.col("rank").alias("r1"))
    ops = {
        "filter": lambda f: f.filter(F.col("rank") <= 3).collect(),
        "join": lambda f: f.join(other, "doc_id").orderBy("rank").collect(),
        "union": lambda f: sorted(f.union(f).collect()),
        "count": lambda f: f.count(),
        "schema": lambda f: f.schema,
        "toPandas": lambda f: f.toPandas(),
    }
    for name, op in ops.items():
        frame = s.search("w00001 w00454 needle00", k=K)
        got, want = op(frame), op(spark.createDataFrame(frame._table))
        if name == "toPandas":
            pd.testing.assert_frame_equal(got, want)
        else:
            assert got == want, name
        assert "_jdf" in vars(frame), name


def _exact(frame):
    return sorted(map(tuple, frame.collect()))


def test_list_kernel_and_pandas_adapter_bit_identical(
    spark, idx, deleted_idx, verses_idx, monkeypatch
):
    """The reader runs ``topk_rows`` and ``conjunction_rows`` over the
    rows it reads itself; the Spark plans run them through
    ``engine._pandas_kernel``, the one pandas adapter. Under either
    ``topk_fn`` the two harnesses return equal OR scores, bit for bit: on a
    tombstoned index, on a pruned tier, and in a federation whose
    low-avgdl member scales its block maxima (the union's avgdl above
    its ``block_avgdl``). AND is bit-identical on the tombstoned index
    and the pruned tier, and phrases on the tombstoned index."""
    tier = prune_postings(spark, idx, keep_per_term=5)
    searchers = [Searcher(spark, deleted_idx), Searcher(spark, idx, postings_table=tier)]
    # the 5-per-term tier keeps two docs holding both terms
    q_and = "w00026 w00134"
    for s in searchers:
        want = _exact(s.search(q_and, k=K, operator="and", method="wand"))
        assert want and _exact(s.search(q_and, k=K, operator="and")) == want
    phrase = _phrases(_docs(spark, deleted_idx))[0]
    want = _exact(searchers[0].search_phrase(phrase, k=K, method="postings"))
    assert want and _exact(searchers[0].search_phrase(phrase, k=K)) == want
    multi = MultiSearcher(spark, [verses_idx, deleted_idx])
    (low,) = [i for i, m in enumerate(multi.searchers) if m.avgdl < multi.avgdl]
    lo, hi = multi.doc_bases[low], multi.doc_bases[low] + multi.searchers[low].num_docs
    assert multi.searchers[1].deleted_ids
    batch = [(i, q, K) for i, q in enumerate(OR_QUERIES)]
    for algo, topk_fn in (("wand", wand_topk), ("maxscore", maxscore_topk)):
        # the driver's list kernel under the same topk_fn as the plan
        monkeypatch.setattr(
            reader_mod, "topk_rows", partial(reader_mod.topk_rows, topk_fn=topk_fn)
        )
        for s in searchers:
            # the batch holds every OR query; one search() covers its shape
            q = OR_QUERIES[-1]
            assert _exact(s.search(q, k=K)) == _exact(
                s.search(q, k=K, method=algo)
            ), (algo, q)
            assert _exact(s.search_batch(batch)) == _exact(
                s.search_batch(batch, method=algo)
            ), algo
        low_hit = False
        for q in FED_QUERIES:
            want = _pandas_federation(multi, q, K, topk_fn)
            assert _rows(multi.search(q, k=K)) == want, (algo, q)
            low_hit |= any(lo <= d < hi for d, _ in want)
        assert low_hit


def _pandas_federation(multi, q, k, topk_fn):
    """The federated top-k through the Spark plans' pandas adapter: each
    member's posting rows merged with the query's global-idf rows in
    pandas, its block maxima scaled to the union's avgdl, offset by its
    docBase."""
    terms = sorted(set(multi.analyzer.tokenize(q)))
    dfs = multi._global_dfs(terms)
    qrows = pd.DataFrame(
        [(0, t, idf(multi.num_docs, dfs[t])) for t in terms if t in dfs],
        columns=["qid", "term", "idf"],
    )
    hits = []
    for m, base in zip(multi.searchers, multi.doc_bases):
        r = m._reader
        post = r.postings.read(terms, reader_mod._OR_COLUMNS).to_pandas()
        kernel = partial(
            reader_mod.topk_rows, k=k, avgdl=multi.avgdl, dels=r.dels,
            topk_fn=topk_fn, block_avgdl=r.avgdl,
        )
        out = engine._pandas_kernel(
            kernel, reader_mod._TOPK_COLUMNS, engine._TOPK_SCHEMA
        )(qrows.merge(post, on="term"))
        hits += [(d + base, sc) for d, sc in zip(out["doc_id"], out["score"])]
    return sorted(hits, key=lambda h: (-h[1], h[0]))[:k]
