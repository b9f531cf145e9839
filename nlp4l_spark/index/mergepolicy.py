"""Tiered merge policy + generation compaction: log-structured index
maintenance for incremental ingestion at scale.

Reference semantics (what, not how): the reference writes through
Lucene's IndexWriter (IWriter.scala:56-72, forceMerge :66-71), whose
background maintenance is TieredMergePolicy — segments accumulate per
flush, and the policy merges roughly-equal-size tiers so the segment
count stays O(segs_per_tier * log(corpus/floor)) while merge I/O stays
amortized-linear. forceMerge(1) is the degenerate "one tier" case the
reference exposes; this module adds the general policy.

Rebuild shape: a *generation* here is a whole built index directory
(one ``GenerationLog.ingest`` micro-batch each — the builder's flush
unit). Query-time federation over generations is `MultiSearcher` (exact
blended-stats BM25, rank+score identical to one big index —
tests/test_multisearcher). `TieredMergePolicy.find_merges` decides which
generations to compact, and `GenerationLog.maintain` runs the rounds;
`compact` rebuilds one merged index FROM THE RETAINED FORWARD INDEXES
(doc_terms_fwd), so compaction never re-tokenizes: it runs the
builder's own stages from the forward index on (``write_searchable``:
one segment-encode pass + the standard (term, shard) segment merge) —
the same economics as Lucene's segment merge (decode postings,
interleave, re-encode; no analysis), through the same path a build
takes.

Deviation from Lucene, documented: Lucene scores candidate merge
windows by skew/size/reclaim and searches over a sorted-by-size view;
this policy deterministically groups the `max_merge_at_once` smallest
live generations (classic tiered behavior, reproducible under test).
The tier budget (`allowed_segment_count`) follows Lucene's level walk.

At 100 TB: generations are independent directories, compaction of one
group touches only that group's bytes, and the policy bounds live
generations logarithmically — ingestion never pays forceMerge(1)'s
rewrite-the-world cost, and searches fan out over a bounded dir list.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import pyarrow.compute as pc
import pyarrow.dataset as ds

from pyspark.sql import SparkSession, functions as F

from nlp4l_spark.index.builder import write_searchable
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.index.docids import doc_bases


@dataclass(frozen=True)
class TieredMergePolicy:
    """Lucene-style tiered merge selection over generation sizes."""

    segs_per_tier: float = 10.0
    max_merge_at_once: int = 10
    floor_segment_bytes: int = 2 * 1024 * 1024
    max_merged_segment_bytes: int = 5 * 1024**3

    def _floored(self, b: int) -> int:
        return max(int(b), self.floor_segment_bytes)

    def allowed_segment_count(self, sizes: list[int]) -> int:
        """Lucene's tier-budget walk: each tier holds segs_per_tier
        segments of the current level size; levels grow by
        max_merge_at_once until the max merged size caps them."""
        if not sizes:
            return 0
        floored = [self._floored(b) for b in sizes]
        remaining = float(sum(floored))
        level = float(min(floored))
        allowed = 0.0
        while True:
            seg_count_level = remaining / level
            if (
                seg_count_level < self.segs_per_tier
                or level >= self.max_merged_segment_bytes
            ):
                allowed += math.ceil(seg_count_level)
                break
            allowed += self.segs_per_tier
            remaining -= self.segs_per_tier * level
            level = min(
                float(self.max_merged_segment_bytes),
                level * self.max_merge_at_once,
            )
        return max(int(allowed), 1)

    def find_merges(self, sizes: dict[str, int]) -> list[list[str]]:
        """Merge specs (each a sorted list of generation names) that
        bring the projected generation count within the tier budget.
        Greedy smallest-first groups of <= max_merge_at_once inputs,
        capped by max_merged_segment_bytes (a group may exceed the cap
        only if it would otherwise be a singleton). Deterministic:
        ties break on name."""
        live = {k: int(v) for k, v in sizes.items()}
        merges: list[list[str]] = []
        while len(live) > 1:
            allowed = self.allowed_segment_count(list(live.values()))
            if len(live) <= allowed:
                break
            cand = sorted(live.items(), key=lambda kv: (kv[1], kv[0]))
            group: list[str] = []
            acc = 0
            for name, b in cand:
                if len(group) >= self.max_merge_at_once:
                    break
                if group and acc + b > self.max_merged_segment_bytes:
                    break
                group.append(name)
                acc += b
            if len(group) < 2:
                break
            merges.append(sorted(group))
            for name in group:
                del live[name]
            live["+".join(sorted(group))] = acc
        return merges


def index_size_bytes(index_dir: str) -> int:
    """On-disk bytes of a built index directory (the policy's size
    signal — parquet bytes, manifest files included; cheap stat walk)."""
    total = 0
    for root, _dirs, files in os.walk(index_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def compact(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    *,
    docs_per_shard: int = 1 << 24,
    text_col: str = "text",
) -> IndexCatalog:
    """Merge K built index generations into ONE new index directory.

    DocIDs are rebased by each generation's docBase (``docids.doc_bases``:
    the sum of the preceding generations' maxDoc, in list order — the
    MultiSearcher/MultiReader numbering), so `Searcher(compacted)` is
    rank-, score- AND docID-identical to `MultiSearcher(index_dirs)`
    (tested). No re-tokenization: stored and doc_terms_fwd are rebased
    unions, and the builder's own stages (``builder.write_searchable``:
    doc_lens, segments, postings, term_stats, field_stats) run over the
    merged forward index, so a compacted index is table-identical to one
    build over the same docs (tested). Every generation needs a committed doc_terms_fwd (every
    build writes one). Positions and term_vectors carry over WITHOUT
    re-analysis when every input generation has them: positions are
    doc-relative and ride in the forward index, which the builder's
    stages re-encode into the postings; term_vectors is a rebased union.
    If only some generations have them they are dropped (the compacted
    index stays honest about its surface).

    Deletes: compaction EXPUNGES tombstoned docs and recomputes stats —
    Lucene's merge semantics (deleted docs leave; num_docs/df/avgdl
    refresh), so post-compact scores match a MultiSearcher over
    expunge_deletes'd inputs, NOT the frozen-stats pre-expunge view.
    Surviving docIDs keep their federation numbering (holes where
    deleted); no tombstones table is written to the output. The stored
    manifest's ``expunged`` counts every hole in the output's docID
    span (the inputs' maxDoc summed, minus the live docs), so holes
    carry across nested compactions and the output's maxDoc is the
    inputs' total."""
    cats = [IndexCatalog(d) for d in index_dirs]
    for c, d in zip(cats, index_dirs):
        if not c.is_committed("doc_terms_fwd"):
            raise ValueError(
                f"compact needs a committed doc_terms_fwd in {d}"
            )
    # live-docs per generation: compaction EXPUNGES tombstoned docs
    # (Lucene merges drop deletions and recompute stats — the
    # forceMergeDeletes contract), while docBases stay the frozen
    # MultiSearcher numbering so surviving docIDs are unchanged (holes
    # where deleted — better than Lucene, which renumbers).
    tombs = [
        set(c.read_arrow("tombstones", ["doc_id"])["doc_id"].to_pylist())
        if c.is_committed("tombstones")
        else set()
        for c in cats
    ]
    *bases, max_doc = doc_bases(cats)
    num_docs = sum_dl = 0
    for c, t in zip(cats, tombs):
        counters = c.manifest("doc_lens")["counters"]
        num_docs += int(counters["num_docs"])
        sum_dl += int(counters["sum_dl"])
        if t:  # subtract the tombstoned docs (pushed doc_id filter)
            dropped = c.read_arrow(
                "doc_lens", ["dl"], filter=ds.field("doc_id").isin(sorted(t))
            )["dl"]
            num_docs -= len(dropped)
            sum_dl -= pc.sum(dropped).as_py() or 0

    def _live(df, t):
        if not t:
            return df
        return df.filter(~F.col("doc_id").isin([int(x) for x in t]))

    out = IndexCatalog(out_dir)

    stored = None
    for c, b, t in zip(cats, bases, tombs):
        s = _live(c.read(spark, "stored"), t).withColumn(
            "doc_id", F.col("doc_id") + F.lit(b)
        )
        stored = s if stored is None else stored.unionByName(s)
    out.write(
        stored,
        "stored",
        sort_by=["doc_id"],
        # "expunged" declares docID holes (deleted docs keep their slot
        # number reserved) — check_index bounds instead of requiring
        # density when it is present
        counters={"num_docs": num_docs, "expunged": max_doc - num_docs},
    )

    fwd_cols = ["doc_id", "terms", "tfs", "dl"]
    if all("positions" in c.columns("doc_terms_fwd") for c in cats):
        fwd_cols.append("positions")
    fwd = None
    for c, b, t in zip(cats, bases, tombs):
        f_ = _live(c.read(spark, "doc_terms_fwd").select(*fwd_cols), t).withColumn(
            "doc_id", F.col("doc_id") + F.lit(b)
        )
        fwd = f_ if fwd is None else fwd.unionByName(f_)
    out.write(fwd, "doc_terms_fwd", sort_by=["doc_id"])
    write_searchable(
        spark, out, num_docs, sum_dl,
        text_col=text_col, docs_per_shard=docs_per_shard,
    )

    if all(c.is_committed("term_vectors") for c in cats):
        tv = None
        for c, b, t in zip(cats, bases, tombs):
            t_ = _live(c.read(spark, "term_vectors"), t).withColumn(
                "doc_id", F.col("doc_id") + F.lit(b)
            )
            tv = t_ if tv is None else tv.unionByName(t_)
        out.write(tv, "term_vectors", sort_by=["doc_id"])
    return out
