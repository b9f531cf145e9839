"""GenerationLog: log-structured incremental ingestion at scale.

The one incremental ingest path. Rewriting one index in place per
micro-batch would re-merge the FULL postings table every time —
amortized O(corpus) per batch, Lucene's forceMerge(1)-per-commit
anti-pattern. Instead each ingested
micro-batch becomes a whole new index *generation* (its own directory,
docIDs local from 0), queries federate over the live generations with
exact blended stats (``MultiSearcher`` — rank+score identical to one
big index, tests/test_multisearcher), and ``TieredMergePolicy`` bounds
the live-generation count by compacting groups of small generations
(``index/mergepolicy.py`` — forward-index rebuild, no re-tokenization).

Reference semantics: Lucene's IndexWriter commit model
(IWriter.scala:56-72) — every commit durably publishes new segments; a
background merge policy keeps the segment count logarithmic; readers
open a point-in-time view of the committed segment list.

That view stays readable because readers hold leases, after Lucene's
``IndexDeletionPolicy`` and ``SearcherManager`` reference counts:
``searcher()`` leases every directory of the list it opens and releases
the leases when the searcher is garbage-collected. ``maintain()`` and
``retention_sweep()`` adopt the new manifest first, then delete a
consumed directory at once only if no lease holds it; a held one is
recorded in the manifest's ``pending_delete`` list and deleted when its
last lease is released, or by the next ``ingest``/``maintain`` after
that. Because that release can rewrite the manifest from whichever
thread drops the searcher, every manifest write is a read-modify-write
under one process-wide lock. Leases cover searchers in this process
only (Lucene's default policy makes the same assumption): a reader in
another process gets no protection, and a crash leaves
``pending_delete`` entries that the next ``ingest``/``maintain``
reclaims.

Crash safety is the Lucene two-phase pattern: generation directories
are built first, then *adopted* by atomically replacing the manifest
(``GENERATIONS.json``, temp-file + ``os.replace``); consumed inputs are
deleted only AFTER the new manifest is durable. A crash mid-build
leaves an orphan directory that no manifest references — invisible to
readers, overwritten by the next ingest that reuses its slot.

At 100 TB: ingest cost is O(batch) (one generation build touches only
the new bytes), maintenance touches only the selected group's bytes,
and the searcher fans out over O(segs_per_tier * log(corpus/floor))
directories — amortized-linear total merge I/O, the LSM economics.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import weakref
from bisect import bisect_right
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from nlp4l_spark.analysis import Analyzer
from nlp4l_spark.index.builder import build_index
from nlp4l_spark.index.docids import doc_bases
from nlp4l_spark.index.mergepolicy import (
    TieredMergePolicy,
    compact,
    index_size_bytes,
)

_MANIFEST = "GENERATIONS.json"

# In-process reader leases: absolute generation directory -> number of
# open searchers that read it. The lock also serializes every manifest
# read-modify-write: the last lease's release reclaims (and rewrites the
# manifest) from whichever thread drops the searcher, so a writer that
# adopted a manifest loaded outside the lock could undo an ingest.
# Reentrant because a lease is released from a weakref finalizer, which
# can run inside any call that holds the lock.
_LEASES: Counter[str] = Counter()
_LEASE_LOCK = threading.RLock()


class GenerationLog:
    """A directory of index generations with an atomic live-list manifest."""

    def __init__(self, root: str):
        self.root = root
        self._abs_root = os.path.abspath(root)  # lease keys
        os.makedirs(root, exist_ok=True)

    # ----------------------------------------------------------- manifest

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, _MANIFEST)

    def _load(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"generations": [], "next_id": 0}
        with open(self._manifest_path, encoding="utf-8") as fh:
            return json.load(fh)

    def _adopt(self, man: dict) -> None:
        """Atomically replace the manifest (two-phase publish, step 2)."""
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".json.tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump(man, fh, indent=1)
        os.replace(tmp, self._manifest_path)

    @property
    def live_dirs(self) -> list[str]:
        return [
            os.path.join(self.root, g) for g in self._load()["generations"]
        ]

    # ------------------------------------------------------------- leases

    def _lease_key(self, name: str) -> str:
        return os.path.join(self._abs_root, name)

    def _retire(self, live: list[str], next_id: int, consumed: list[str]) -> None:
        """Adopt the new ``live`` list and ``next_id`` with ``consumed``
        added to ``pending_delete``, then delete whatever no lease holds."""
        with _LEASE_LOCK:
            man = self._load()
            man["generations"] = live
            man["next_id"] = next_id
            man["pending_delete"] = sorted(
                set(man.get("pending_delete", [])) | set(consumed)
            )
            self._adopt(man)
            self._reclaim()

    def _reclaim(self) -> None:
        """Delete every ``pending_delete`` directory that no lease holds,
        then adopt the manifest without them (deleting first, so a crash
        in between leaves a stale entry rather than an orphan)."""
        with _LEASE_LOCK:
            man = self._load()
            pending = man.get("pending_delete", [])
            held = [n for n in pending if _LEASES[self._lease_key(n)]]
            if len(held) == len(pending):
                return
            for n in pending:
                if n not in held:
                    shutil.rmtree(os.path.join(self.root, n), ignore_errors=True)
            if held:
                man["pending_delete"] = held
            else:
                del man["pending_delete"]
            self._adopt(man)

    def _release(self, keys: list[str]) -> None:
        with _LEASE_LOCK:
            _LEASES.subtract(keys)
            freed = [key for key in keys if _LEASES[key] <= 0]
            for key in freed:
                del _LEASES[key]
            if freed:
                self._reclaim()

    # ------------------------------------------------------------- ingest

    # micro fast path supports only these builder knobs; any other kwarg
    # (term vectors, keyword fields, ...) forces the distributed builder
    _MICRO_KWARGS = frozenset(
        {"sort_cols", "sort_desc", "docs_per_shard", "text_col", "store_positions"}
    )

    def ingest(
        self,
        df: DataFrame,
        *,
        analyzer: Analyzer | None = None,
        **build_kwargs,
    ) -> str:
        """Build one new generation from a micro-batch and adopt it.

        Cost is O(batch): nothing outside the new directory is touched.
        Overwrites an orphan directory left by a crash mid-ingest (it
        was never adopted, so its contents are garbage).

        Batches up to ``microbuild.MAX_ROWS`` rows take the driver-side
        single-Spark-job fast path (index/microbuild.py — the Lucene
        in-memory segment flush, positions included; the same searchable
        tables and bytes, without the distributed build's ``segments``
        checkpoint); bigger batches, or builds with options the micro
        path doesn't carry (term vectors, keyword fields, ...), use the
        distributed builder."""
        self._reclaim()
        man = self._load()
        name = f"gen_{man['next_id']:06d}"
        gen_dir = os.path.join(self.root, name)
        if os.path.exists(gen_dir):  # unadopted orphan from a crash
            shutil.rmtree(gen_dir)
        built = None
        if set(build_kwargs) <= self._MICRO_KWARGS:
            from nlp4l_spark.index.microbuild import try_micro_build

            built = try_micro_build(df, gen_dir, analyzer, **build_kwargs)
            if built is None and os.path.exists(gen_dir):
                shutil.rmtree(gen_dir)  # partial micro attempt: rebuild
        if built is None:
            build_index(df, gen_dir, analyzer, **build_kwargs)
        with _LEASE_LOCK:  # reload: a lease release may have reclaimed
            man = self._load()
            man["generations"].append(name)
            man["next_id"] += 1
            self._adopt(man)
        return gen_dir

    # -------------------------------------------------------- maintenance

    def maintain(
        self,
        spark: SparkSession,
        policy: TieredMergePolicy | None = None,
        *,
        docs_per_shard: int = 1 << 24,
    ) -> list[list[str]]:
        """One maintenance round: compact the policy's selected groups
        into fresh generations, adopt the new live list atomically, THEN
        delete the consumed inputs that no searcher lease holds (held
        ones wait in ``pending_delete``). Returns the executed merge specs
        (generation names). Survivors keep their list position; each
        merged generation takes the position of its first input, so
        federation docID order stays stable for untouched generations."""
        policy = policy or TieredMergePolicy()
        self._reclaim()
        man = self._load()
        names = list(man["generations"])
        sizes = {
            n: index_size_bytes(os.path.join(self.root, n)) for n in names
        }
        merges = policy.find_merges(sizes)
        if not merges:
            return []
        next_id = man["next_id"]
        new_list = list(names)
        consumed: list[str] = []
        for group in merges:
            members = [n for n in names if n in group]
            out_name = f"gen_{next_id:06d}"
            next_id += 1
            out_dir = os.path.join(self.root, out_name)
            if os.path.exists(out_dir):
                shutil.rmtree(out_dir)
            compact(
                spark,
                [os.path.join(self.root, n) for n in members],
                out_dir,
                docs_per_shard=docs_per_shard,
            )
            # splice: merged generation replaces its first member in place
            first = new_list.index(members[0])
            new_list[first] = out_name
            for n in members[1:]:
                new_list.remove(n)
            consumed.extend(members)
        self._retire(new_list, next_id, consumed)
        return merges

    # ------------------------------------------------------------ deletes

    def delete(self, spark: SparkSession, global_doc_ids) -> int:
        """IndexWriter.deleteDocuments over the log: tombstone
        federation-numbered docIDs in their owning generations. The
        numbering is MultiSearcher's (``docids.doc_bases``: each
        generation's docBase sums the preceding generations' maxDoc, so
        a compacted generation's holes keep their slots). Visible
        immediately through searcher() (per-reader liveDocs,
        tests/test_multisearcher.py); physically expunged — with stats
        recomputed — by the next maintain() round that compacts the
        owning generation (Lucene's merge-expunges-deletions)."""
        from nlp4l_spark.index.catalog import IndexCatalog
        from nlp4l_spark.index.deletes import delete_docs

        dirs = self.live_dirs
        *bases, b = doc_bases([IndexCatalog(d) for d in dirs])
        per_gen: dict[int, list[int]] = {}
        for g in sorted(int(x) for x in global_doc_ids):
            if not 0 <= g < b:
                raise ValueError(f"doc_id {g} outside federation range {b}")
            i = bisect_right(bases, g) - 1
            per_gen.setdefault(i, []).append(g - bases[i])
        n = 0
        for i, local_ids in per_gen.items():
            n += delete_docs(spark, dirs[i], local_ids)
        return n

    # ----------------------------------------------------------- lifecycle

    def retention_sweep(self, spark: SparkSession, cutoff_ts) -> list[str]:
        """ES ILM delete phase over the generation log: drop every live
        generation whose NEWEST stored document is older than
        ``cutoff_ts`` — retention is generation-granular, the ILM
        contract where the rollover unit ages out as a whole (documents
        younger than the cutoff keep their whole generation alive).

        Age is EVENT time (max ts of the generation's stored table — a
        per-generation scalar agg over its own parquet only), never the
        wall clock, so sweeps are deterministic and replayable. Publish
        order is the same two-phase rule as maintain(): the shrunken
        manifest is adopted atomically FIRST, directories are deleted
        only after it is durable and no searcher lease holds them — a
        crash between the two leaves unreferenced orphans, not missing
        live data. Returns the dropped generation names."""
        from nlp4l_spark.index.catalog import IndexCatalog

        from pyspark.sql import functions as F

        man = self._load()
        keep: list[str] = []
        drop: list[str] = []
        for name in man["generations"]:
            mx = (
                IndexCatalog(os.path.join(self.root, name))
                .read(spark, "stored")
                .agg(F.max("ts").alias("mx"))
                .collect()[0]["mx"]
            )
            if mx is not None and mx < cutoff_ts:
                drop.append(name)
            else:
                keep.append(name)
        if drop:
            self._retire(keep, man["next_id"], drop)
        return drop

    # -------------------------------------------------------------- query

    def searcher(self, spark: SparkSession):
        """Point-in-time federated view of the committed generation list.
        It leases every directory it reads, so a later ``maintain()`` or
        ``retention_sweep()`` defers deleting them; the leases are
        released when the searcher is garbage-collected."""
        from nlp4l_spark.search import MultiSearcher

        with _LEASE_LOCK:
            names = self._load()["generations"]
            keys = [self._lease_key(n) for n in names]
            _LEASES.update(keys)
        try:
            ms = MultiSearcher(spark, [os.path.join(self.root, n) for n in names])
        except BaseException:
            self._release(keys)
            raise
        weakref.finalize(ms, self._release, keys)
        return ms


def stream_into_generations(
    stream_df: DataFrame,
    root: str,
    checkpoint_dir: str,
    *,
    analyzer: Analyzer | None = None,
    policy: TieredMergePolicy | None = None,
    maintain_every: int = 8,
    available_now: bool = True,
):
    """Structured Streaming sink: one generation per micro-batch, with a
    tiered-policy maintenance round every ``maintain_every`` batches.

    The checkpoint guarantees each micro-batch is delivered once to
    ``foreachBatch``; a replayed batch after a crash overwrites the
    unadopted orphan directory, so the log converges to exactly-once."""
    log = GenerationLog(root)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        log.ingest(batch_df, analyzer=analyzer)
        if maintain_every and (batch_id + 1) % maintain_every == 0:
            log.maintain(batch_df.sparkSession, policy)

    writer = stream_df.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
