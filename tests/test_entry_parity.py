"""Mini-driver: run every queries() entry at sf0.001 and compare with its
oracle_sql() via DuckDB — row count, column names, and order-insensitive
values — replicating the external correctness gate locally."""

from __future__ import annotations

import math
import os
import types
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def entry_mod():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c] if not isinstance(row, tuple) else row[cols.index(c)]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


ORACLE_BACKED = None  # filled dynamically below


# Queries that build or reuse an index/ANN layout under the shared temp
# dir (build-if-missing), or build an index at all (a build clamps a
# session-wide conf while it scans), must not race each other: they run
# one at a time, in test order, on their own lane. The rest run LANES at
# a time; a query is a handful of small Spark jobs, mostly latency.
SERIAL_NAMES = {"_index_cache_dir", "_ann_cache_dir", "_ann_index", "IndexBuilder"}
LANES = 4


def _runs_serially(fn, seen=None) -> bool:
    """True if ``fn`` or any module-level function it names (followed
    transitively through its globals) names one of SERIAL_NAMES."""
    seen = set() if seen is None else seen
    if id(fn) in seen or not isinstance(fn, types.FunctionType):
        return False
    seen.add(id(fn))
    codes, names = [fn.__code__], set()
    while codes:
        code = codes.pop()
        names.update(code.co_names)
        codes += [c for c in code.co_consts if isinstance(c, types.CodeType)]
    if names & SERIAL_NAMES:
        return True
    return any(_runs_serially(fn.__globals__.get(n), seen) for n in names)


@pytest.fixture(scope="module")
def spark_results(request, spark, sf_dir, entry_mod):
    """The selected parity queries' (columns, collected rows), computed
    concurrently up front; each test waits only for its own query, and
    a query's exception is re-raised in its own test."""
    names = [
        item.callspec.params["name"]
        for item in request.session.items
        if item.module is request.module
        and item.originalname == "test_query_matches_oracle"
    ]
    qs = entry_mod.queries()

    def collect(name):
        sdf = qs[name](spark, sf_dir)
        return sdf.columns, sdf.collect()

    pool, lane = ThreadPoolExecutor(LANES), ThreadPoolExecutor(1)
    futs = {
        n: (lane if _runs_serially(qs[n]) else pool).submit(collect, n)
        for n in names
    }
    yield futs
    for p in (pool, lane):
        p.shutdown(cancel_futures=True)


def _oracle_names():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "_se", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return sorted(mod.oracle_sql().keys())


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle(entry_mod, ddb, spark_results, name):
    sql = entry_mod.oracle_sql()[name]
    scols, srows = spark_results[name].result()
    ores = ddb.execute(sql)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    assert scols == ocols, f"{name}: column names differ: {scols} vs {ocols}"
    assert len(srows) == len(orows), (
        f"{name}: row counts differ: {len(srows)} vs {len(orows)}"
    )
    s_norm = _norm([r.asDict() for r in srows], scols)
    o_norm = _norm(orows, ocols)
    mismatches = [
        (a, b) for a, b in zip(s_norm, o_norm) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches: {mismatches[:5]}"


def test_rows_only_queries_run(spark, sf_dir, entry_mod):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    for name in sorted(set(qs) - set(oracles)):
        df = qs[name](spark, sf_dir)
        assert df.count() >= 0, name
        assert len(df.schema.fields) > 0, name


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "score"}


def test_bench_query_lists_are_registry_subsets():
    """bench.py's headline/extra query lists must name real registry
    entries — a typo would silently drop a timing from BENCH_r{N}."""
    import importlib.util

    bench_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench.py",
    )
    spec = importlib.util.spec_from_file_location("bench", bench_path)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from nlp4l_spark.entry_queries import REGISTRY

    missing = [q for q in bench.EXTRA_QUERIES if q not in REGISTRY]
    assert not missing, missing
    missing_h = [q for q in bench.BENCH_QUERIES if q not in REGISTRY]
    assert not missing_h, missing_h
    missing_s = [q for q in bench.R1_SUBSET if q not in bench.BENCH_QUERIES]
    assert not missing_s, missing_s
