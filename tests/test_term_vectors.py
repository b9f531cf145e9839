"""Term-vector (positions + offsets) parity with the reference goldens.

Golden source: /root/reference/test/org/nlp4l/lucene/RawReaderSpec.scala
:175-192 — 11-doc London Bridge corpus, term "build": df=4, cf=10; doc
id "2" has positions [3, 6, 9, 15] with char offsets (12,17) (25,30)
(38,43) (63,68). Position semantics: Lucene StopFilter keeps position
increments over removed stopwords (holes), offsets index the original
text.
"""

from __future__ import annotations

import pytest

from nlp4l_spark.analysis import STANDARD_ANALYZER
from nlp4l_spark.data.fixtures import LONDON_BRIDGE_VERSES, transcripts_df
from nlp4l_spark.index.builder import IndexBuilder
from nlp4l_spark.search.engine import Searcher
from nlp4l_spark.stats.corpus import Corpus

GOLDEN_POSITIONS = [3, 6, 9, 15]
GOLDEN_OFFSETS = [(12, 17), (25, 30), (38, 43), (63, 68)]


def test_token_stream_golden_positions():
    stream = STANDARD_ANALYZER.token_stream(LONDON_BRIDGE_VERSES[2])
    build = [t for t in stream if t[0] == "build"]
    assert [t[1] for t in build] == GOLDEN_POSITIONS
    assert [(t[2], t[3]) for t in build] == GOLDEN_OFFSETS


def test_corpus_term_vectors_match_token_stream(spark):
    df = transcripts_df(spark).selectExpr("cast(turn_idx as long) doc_id", "text")
    tv = Corpus(df).term_vectors()
    rows = {r["doc_id"]: r for r in tv.filter("term = 'build'").collect()}
    assert sorted(rows) == [2, 3, 5, 7, 9]  # "build" docs over all 11 verses
    r2 = rows[2]
    assert r2["tf"] == 4
    assert list(r2["positions"]) == GOLDEN_POSITIONS
    assert list(zip(r2["start_offsets"], r2["end_offsets"])) == GOLDEN_OFFSETS
    # cf over the whole corpus (reference asserts df=4 cf=10 AFTER deleting
    # docs 3 and 4; on the full 11-doc corpus "build" appears in 5 docs)
    assert sum(r["tf"] for r in rows.values()) == 12


def test_index_term_vectors_with_deletes_golden(spark, tmp_path):
    # Reproduce the reference setup exactly: delete docs id=3 and id=4
    # before reading (RawReaderSpec.scala:52-56), giving df=4, cf=10.
    df = transcripts_df(spark).filter("turn_idx not in (3, 4)")
    idx = str(tmp_path / "idx_tv")
    IndexBuilder(store_term_vectors=True).build(df, idx)
    s = Searcher(spark, idx)

    # docIDs are dense over the remaining 9 docs in (conv_id, turn_idx)
    # order: turn_idx 2 -> doc_id 2 (0,1,2 unchanged), 5 -> 3, etc.
    pos = s.positions("build").collect()
    assert len(pos) == 4  # df = 4
    assert sum(r["tf"] for r in pos) == 10  # cf = 10
    d2 = [r for r in pos if r["doc_id"] == 2][0]
    assert list(d2["positions"]) == GOLDEN_POSITIONS
    assert list(zip(d2["start_offsets"], d2["end_offsets"])) == GOLDEN_OFFSETS

    # term dictionary agrees with the term-vector walk
    ts = {r["term"]: r for r in s.cat.read(spark, "term_stats").collect()}
    assert ts["build"]["df"] == 4 and ts["build"]["cf"] == 10

    # forward-index read (TermVector.scala parity): doc 2's terms
    tv2 = {r["term"]: r["tf"] for r in s.term_vector(2).collect()}
    assert tv2["build"] == 4
    assert tv2["up"] == 4
    assert "it" not in tv2  # stopword removed, but its positions left holes


def test_positions_keep_stopword_holes():
    stream = STANDARD_ANALYZER.token_stream("the cat and the hat")
    assert stream == [("cat", 1, 4, 7), ("hat", 4, 16, 19)]


@pytest.mark.parametrize("text", ["", None])
def test_token_stream_empty(text):
    assert STANDARD_ANALYZER.token_stream(text) == []


def test_pos_postings_table_decodes_to_exact_token_stream(spark, tmp_path):
    """Whole-table check of the positions in the postings: decoding
    EVERY (term, shard) row's pos_enc (one run of tf positions per
    posting) must reproduce exactly the per-(doc, term) position lists
    of the analyzer's token stream — tokenize UDF, segment build, merge
    gather and codec round-trip all at once."""
    import numpy as np

    from nlp4l_spark.analysis import STANDARD_ANALYZER
    from nlp4l_spark.data.transcripts import synth_transcripts
    from nlp4l_spark.index import IndexBuilder, codec
    from nlp4l_spark.index.catalog import IndexCatalog

    idx = str(tmp_path / "pp_idx")
    df = synth_transcripts(spark, 400, num_partitions=4)
    IndexBuilder(store_positions=True).build(df, idx)
    cat = IndexCatalog(idx)

    # ground truth from the stored table via token_stream
    stored = cat.read(spark, "stored").select("doc_id", "text").collect()
    want: dict[tuple, list[int]] = {}
    dls: dict[int, int] = {}
    for r in stored:
        ts = STANDARD_ANALYZER.token_stream(r["text"])
        dls[r["doc_id"]] = len(ts)
        for term, pos, _s, _e in ts:
            want.setdefault((term, r["doc_id"]), []).append(pos)

    got: dict[tuple, list[int]] = {}
    got_dl: dict[tuple, int] = {}
    for row in cat.read(spark, "postings").collect():
        d = codec.decode_doc_ids(row["doc_ids_enc"])
        dl = codec.decode_tfs(row["dls_enc"])
        pl = codec.decode_tfs(row["tfs_enc"])
        flat = codec.decode_positions(row["pos_enc"], pl)
        off = np.concatenate(([0], np.cumsum(pl)))
        assert row["df"] == d.size
        assert row["min_doc"] == d[0] and row["max_doc"] == d[-1]
        for i, doc in enumerate(d.tolist()):
            key = (row["term"], doc)
            assert key not in got, f"duplicate segment entry {key}"
            got[key] = flat[off[i] : off[i + 1]].tolist()
            got_dl[key] = int(dl[i])

    assert got == want
    for (term, doc), v in got_dl.items():
        assert v == dls[doc], (term, doc)


def test_highlight_indexed_hand_checked(spark, tmp_path):
    """highlight_indexed reconstructs the snippet ENTIRELY from the
    forward index: hand-checkable window choice, UPPERCASE matched
    terms, and stopword holes staying holes."""
    from pyspark.sql import functions as F

    docs = [
        (0, "merge the vector and join the table join again"),
        (1, "nothing relevant here at all"),
        (2, "join join join far away padding padding padding padding vector"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("u").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    idx = str(tmp_path / "hlidx")
    IndexBuilder(
        sort_cols=("conv_id", "turn_idx"), store_term_vectors=True
    ).build(df, idx)
    s = Searcher(spark, idx)
    rows = {
        r["doc_id"]: r
        for r in s.highlight_indexed("join vector", k=5, window=4).collect()
    }
    assert sorted(rows) == [0, 2]  # doc 1 matches nothing
    # doc 0 token stream (stop holes): merge _ vector _ join _ table join
    # -> positions: merge=0 vector=2 join=4 table=6 join=7
    # windows start at query hits {2, 4, 7}; [2,6) covers vector+join = 2
    r0 = rows[0]
    assert r0["start_pos"] == 2 and r0["n_hits"] == 2
    assert r0["snippet"] == "VECTOR JOIN"  # holes at 3 and 5 stay holes
    # doc 2: join@0,1,2 vector@9; window=4 covers only one distinct term
    # from any start -> earliest hit wins
    r2 = rows[2]
    assert r2["start_pos"] == 0 and r2["n_hits"] == 1
    assert r2["snippet"] == "JOIN JOIN JOIN far"
