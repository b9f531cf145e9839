"""Index integrity checker (index/checker.py — the CheckIndex
analogue): a freshly built index passes every check; targeted
corruptions are detected by the right check and only that check."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from nlp4l_spark.data.transcripts import synth_transcripts
from nlp4l_spark.index import IndexCatalog, build_index, check_index


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("chk") / "idx")
    build_index(synth_transcripts(spark, 1200, num_partitions=4), d)
    return d


def _report(spark, path, deep=True):
    return {
        r["check"]: (r["ok"], r["detail"])
        for r in check_index(spark, path, deep=deep).collect()
    }


def test_healthy_index_passes_all_checks(spark, idx):
    rep = _report(spark, idx)
    assert rep, "empty report"
    failing = {k: v for k, v in rep.items() if not v[0]}
    assert not failing, failing
    # the deep checks actually ran
    assert "postings_sort" in rep and "dl_crosscheck" in rep
    # shallow mode skips them
    shallow = _report(spark, idx, deep=False)
    assert "postings_sort" not in shallow and "doc_count" in shallow


def _copy_index(idx, tmp_path, name):
    d = str(tmp_path / name)
    shutil.copytree(idx, d)
    return d


def test_detects_stat_corruption(spark, idx, tmp_path):
    # overstate a term's df in the dictionary -> df_cf_rollup fails
    d = _copy_index(idx, tmp_path, "bad_stats")
    cat = IndexCatalog(d)
    ts = cat.read(spark, "term_stats")
    broken = ts.withColumn(
        "df",
        F.when(F.col("term") == ts.limit(1).collect()[0]["term"],
               F.col("df") + 1).otherwise(F.col("df")),
    )
    broken.cache().count()
    cat.write(broken, "term_stats", mode="overwrite")
    rep = _report(spark, d, deep=False)
    assert not rep["df_cf_rollup"][0]
    assert rep["shard_order"][0]  # unrelated checks stay green


def test_detects_missing_docs(spark, idx, tmp_path):
    # drop half the doc_lens rows -> doc_count + sum_dl + dense ids fail
    d = _copy_index(idx, tmp_path, "bad_lens")
    cat = IndexCatalog(d)
    dl = cat.read(spark, "doc_lens").filter(F.col("doc_id") % 2 == 0)
    dl.cache().count()
    cat.write(dl, "doc_lens", mode="overwrite")
    rep = _report(spark, d, deep=False)
    assert not rep["doc_count"][0]
    assert not rep["dense_doc_ids"][0]
    assert not rep["sum_dl"][0]


def test_detects_posting_blob_corruption(spark, idx, tmp_path):
    # swap one posting row's doc blob for another term's -> deep checks
    # (bounds/df or sort) fire while the dictionary rollup stays green
    d = _copy_index(idx, tmp_path, "bad_blob")
    cat = IndexCatalog(d)
    p = cat.read(spark, "postings")
    rows = p.orderBy("term", "shard").limit(2).collect()
    a = rows[0]
    donor = rows[1]["doc_ids_enc"]
    broken = p.withColumn(
        "doc_ids_enc",
        F.when(
            (F.col("term") == a["term"]) & (F.col("shard") == a["shard"]),
            F.lit(bytearray(donor)),
        ).otherwise(F.col("doc_ids_enc")),
    )
    broken.cache().count()
    cat.write(broken, "postings", mode="overwrite")
    rep = _report(spark, d, deep=True)
    deep_fails = [
        k
        for k in ("postings_bounds", "postings_df", "postings_sort",
                  "dl_crosscheck")
        if not rep[k][0]
    ]
    assert deep_fails, rep
    assert rep["uniq_terms"][0]


def test_index_stats_invariants(spark, idx):
    from nlp4l_spark.index import index_stats

    stats = {r["stat"]: r["value"] for r in index_stats(spark, idx).collect()}
    assert stats["num_docs"] == 1200.0
    # postings == total (doc, term) pairs == sum of dictionary dfs
    from nlp4l_spark.index import IndexCatalog

    cat = IndexCatalog(idx)
    dict_df = (
        cat.read(spark, "term_stats").agg(F.sum("df")).collect()[0][0]
    )
    assert stats["postings"] == float(dict_df)
    assert stats["tokens"] == stats["sum_dl"]
    assert stats["blob_bytes"] > 0
    # varbyte gap coding keeps the three blobs tight: well under
    # 3 x 8-byte raw width per posting
    assert 0 < stats["bytes_per_posting"] < 12
    assert stats["max_shards_per_term"] >= stats["avg_shards_per_term"] >= 1


def test_term_vectors_checks(spark, tmp_path):
    from nlp4l_spark.data.transcripts import synth_transcripts
    from nlp4l_spark.index import IndexBuilder

    d = str(tmp_path / "tv_idx")
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"), store_term_vectors=True
    ).build(synth_transcripts(spark, 600, num_partitions=2), d)
    rep = _report(spark, d, deep=False)
    assert rep["term_vectors_rollup"][0], rep["term_vectors_rollup"]
    assert rep["term_vectors_positions"][0], rep["term_vectors_positions"]
    # corrupt one tv row's tf -> rollup and positions checks both fire,
    # the postings-side dictionary rollup stays green
    cat = IndexCatalog(d)
    tv = cat.read(spark, "term_vectors")
    first = tv.limit(1).collect()[0]
    broken = tv.withColumn(
        "tf",
        F.when(
            (F.col("term") == first["term"])
            & (F.col("doc_id") == first["doc_id"]),
            F.col("tf") + 1,
        ).otherwise(F.col("tf")),
    )
    broken.cache().count()
    cat.write(broken, "term_vectors", mode="overwrite")
    rep = _report(spark, d, deep=False)
    assert not rep["term_vectors_rollup"][0]
    assert not rep["term_vectors_positions"][0]
    assert rep["df_cf_rollup"][0]


def test_pos_postings_checks(spark, tmp_path):
    """The positions in the postings are checked over ``postings``: each
    posting's pos_enc run must hold tf strictly ascending positions."""
    from nlp4l_spark.data.transcripts import synth_transcripts
    from nlp4l_spark.index import IndexBuilder

    d = str(tmp_path / "pos_idx")
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"), store_positions=True
    ).build(synth_transcripts(spark, 600, num_partitions=2), d)
    rep = _report(spark, d, deep=True)
    assert rep["positions_decode"][0], rep["positions_decode"]
    # corrupt a row's position blob (swap in another row's) -> the deep
    # positions check fires, the df/cf rollups stay green
    cat = IndexCatalog(d)
    post = cat.read(spark, "postings")
    rows = post.select("term", "shard", "cf", "pos_enc").orderBy(
        "term", "shard"
    ).collect()
    a = rows[0]
    donor = next(r["pos_enc"] for r in rows if r["cf"] != a["cf"])
    broken = post.withColumn(
        "pos_enc",
        F.when(
            (F.col("term") == a["term"]) & (F.col("shard") == a["shard"]),
            F.lit(bytearray(donor)),
        ).otherwise(F.col("pos_enc")),
    )
    broken.cache().count()
    cat.write(broken, "postings", mode="overwrite")
    rep = _report(spark, d, deep=True)
    assert not rep["positions_decode"][0]
    assert rep["df_cf_rollup"][0]
