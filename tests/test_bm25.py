"""One BM25 formula (index/bm25.py): a single definition of K1, B, idf
and bm25_impact in the package; the same call builds a Spark Column and
evaluates NumPy arrays bit-identically; single-term queries score
bit-identically on the dataframe, WAND and MaxScore paths; IndexBuilder
and microbuild write block-max impacts with the shared function; the
driver reader and the Spark plans share their row kernels."""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

import nlp4l_spark
from nlp4l_spark.data.transcripts import synth_transcripts
from nlp4l_spark.index import build_index, check_index, codec
from nlp4l_spark.index.bm25 import bm25_impact
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.search import Searcher

PKG = pathlib.Path(nlp4l_spark.__file__).parent
# oracle.py keeps an independent reference copy on purpose
FORMULA_HOMES = {"index/bm25.py", "oracle.py"}


def _module_level(tree: ast.Module):
    """Module- and class-level statements, skipping function bodies (a
    function-local ``B`` is some other quantity, not a BM25 constant)."""
    todo = list(tree.body)
    while todo:
        node = todo.pop()
        yield node
        if isinstance(node, ast.ClassDef):
            todo.extend(node.body)
        elif isinstance(node, (ast.If, ast.Try)):
            todo.extend(node.body + node.orelse)


def _assigned_names(node) -> set[str]:
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    else:
        return set()
    names = set()
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        names |= {e.id for e in elts if isinstance(e, ast.Name)}
    return names


def test_bm25_formula_defined_once():
    """No module except index/bm25.py (and the oracle's reference copy)
    assigns K1 or B or defines its own bm25_impact / idf."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in FORMULA_HOMES:
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in _module_level(tree):
            for name in _assigned_names(node) & {"K1", "B"}:
                offenders.append(f"{rel}:{node.lineno} assigns {name}")
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name in (
                "bm25_impact",
                "idf",
            ):
                offenders.append(f"{rel}:{node.lineno} defines {node.name}")
    assert not offenders, offenders


def test_one_kernel_per_harness():
    """search/reader.py imports no pandas: the driver runs the row kernels
    on pyarrow rows. Every ``applyInPandas`` in search/engine.py runs a
    row kernel through the one adapter ``_pandas_kernel``. MultiSearcher
    builds no BM25 Column: its Spark plan is its members' WAND plan
    (``Searcher._score_wand``)."""
    reader = ast.parse((PKG / "search/reader.py").read_text(encoding="utf-8"))
    imported = [
        alias.name
        for node in ast.walk(reader)
        if isinstance(node, ast.Import)
        for alias in node.names
    ] + [
        node.module
        for node in ast.walk(reader)
        if isinstance(node, ast.ImportFrom) and node.module
    ]
    assert not [m for m in imported if m.split(".")[0] == "pandas"], imported
    engine = ast.parse((PKG / "search/engine.py").read_text(encoding="utf-8"))
    calls = [
        node
        for node in ast.walk(engine)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "applyInPandas"
    ]
    assert calls
    for node in calls:
        fn = node.args[0] if node.args else None
        assert (
            isinstance(fn, ast.Call)
            and isinstance(fn.func, ast.Name)
            and fn.func.id == "_pandas_kernel"
        ), f"search/engine.py:{node.lineno} bypasses _pandas_kernel"
    (multi,) = [
        node
        for node in engine.body
        if isinstance(node, ast.ClassDef) and node.name == "MultiSearcher"
    ]
    names = {n.id for n in ast.walk(multi) if isinstance(n, ast.Name)}
    attrs = {n.attr for n in ast.walk(multi) if isinstance(n, ast.Attribute)}
    assert not names & {"_bm25", "bm25_impact"}, names & {"_bm25", "bm25_impact"}
    assert "_score_wand" in attrs


def test_impact_column_equals_numpy(spark):
    """The same bm25_impact call as a Spark Column and over NumPy arrays
    gives bit-identical per-term contributions."""
    rng = np.random.default_rng(7)
    n, avgdl = 5000, 37.3
    pdf = pd.DataFrame(
        {
            "i": np.arange(n, dtype=np.int64),
            "tf": rng.integers(1, 60, n).astype(np.int32),
            "dl": rng.integers(1, 400, n).astype(np.int32),
            "idf": rng.uniform(0.01, 12.0, n),
        }
    )
    got = (
        spark.createDataFrame(pdf)
        .select(
            "i",
            (F.col("idf") * bm25_impact(F.col("tf"), F.col("dl"), avgdl)).alias(
                "s"
            ),
        )
        .toPandas()
        .sort_values("i")["s"]
        .to_numpy()
    )
    want = pdf["idf"].to_numpy() * bm25_impact(
        pdf["tf"].to_numpy(), pdf["dl"].to_numpy(), avgdl
    )
    assert np.array_equal(got, want)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bm25") / "idx")
    build_index(synth_transcripts(spark, 1500, num_partitions=4), path)
    return path


def _ranked(df):
    return [(r["doc_id"], r["score"]) for r in df.orderBy("rank").collect()]


@pytest.mark.parametrize("query", ["w00001", "w00454", "w00100", "w00017"])
def test_single_term_scores_identical_across_methods(spark, idx, query):
    """One term -> one contribution per doc, so every path must return
    the same doc ids with scores equal under ==, not just within 1e-9
    (multi-term sums run in different orders per path; the 1e-9
    comparison in tests/test_maxscore.py covers them)."""
    s = Searcher(spark, idx)
    got = {
        m: _ranked(s.search(query, k=25, method=m))
        for m in ("dataframe", "wand", "maxscore")
    }
    assert got["dataframe"], query
    assert got["dataframe"] == got["wand"] == got["maxscore"]


def test_block_max_written_by_shared_formula(spark, tmp_path):
    """IndexBuilder and microbuild both write block-max impacts that are
    exactly the block maxima of bm25_impact, and check_index passes."""
    from nlp4l_spark.index.microbuild import try_micro_build

    docs = synth_transcripts(spark, 600, num_partitions=4)
    micro_dir, dist_dir = str(tmp_path / "micro"), str(tmp_path / "dist")
    assert try_micro_build(docs, micro_dir) is not None
    build_index(docs, dist_dir)
    for path in (micro_dir, dist_dir):
        report = {r["check"]: r["ok"] for r in check_index(spark, path).collect()}
        assert all(report.values()), (path, report)
        cat = IndexCatalog(path)
        avgdl = float(cat.read(spark, "field_stats").collect()[0]["avgdl"])
        rows = (
            cat.read(spark, "postings")
            .orderBy(F.desc("df"), "term", "shard")
            .limit(20)
            .collect()
        )
        for r in rows:
            imp = bm25_impact(
                codec.decode_tfs(r["tfs_enc"]),
                codec.decode_tfs(r["dls_enc"]),
                avgdl,
            )
            starts = range(0, imp.size, codec.BLOCK_SIZE)
            want = [float(imp[s : s + codec.BLOCK_SIZE].max()) for s in starts]
            assert [b["max_impact"] for b in r["block_max"]] == want, (
                path,
                r["term"],
            )
