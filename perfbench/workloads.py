"""The three workloads: ``build``, ``serve`` and ``ingest``.

Each workload is one closed-loop client in one process: it issues an
operation, waits for its result, and only then issues the next. An
operation is timed from outside, around one call into the library's
public API; correctness checks run after the timed call returns, never
inside a timed region or inside ``setup_s``.
"""

from __future__ import annotations

import heapq
import os
import re
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

import pyarrow.parquet as pq

import gen
from spans import Tracer

K = 10  # top-k of every query
# the tables a build commits, one stage each
INDEX_TABLES = (
    "stored",
    "doc_terms_fwd",
    "doc_lens",
    "segments",
    "postings",
    "term_stats",
    "field_stats",
    "pos_postings",
    "_lineage",
)
OP_TYPES = ("build", "or", "and", "phrase", "batch", "ingest", "fed", "maintain")
FED_KINDS = ("fresh", "pre", "post")  # after each batch, before and after maintain()
SERVE_CYCLE = ("or", "or", "and", "or", "or", "phrase", "or", "or", "batch", "or")


class Run:
    """State of one benchmark run: session, sizes, timed operations."""

    def __init__(self, spark, sizes: dict, seed: int, seconds: float, scratch: str, tracer: Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.sizes = sizes
        self.seed = seed
        self.seconds = seconds
        self.scratch = scratch
        self.tracer = tracer
        self.vocab = gen.Vocab(sizes["vocab"])
        self.ops: list[dict] = []
        self.setup_s = 0.0
        self.timed_s = 0.0
        self.layer: dict[str, float] = {}  # per-layer measurements

    # -------------------------------------------------------------- timing
    def op(self, op_type: str, layer: str, plan, execute=None, *, kind: str = "", items: int = 1):
        """Time ``execute(plan())`` as one operation; returns its result,
        or None when it raised (the operation then counts as failed)."""
        op_id = len(self.ops)
        rec = {"id": op_id, "type": op_type, "kind": kind, "items": items, "ok": True}
        if self.tracer.enabled:
            self.sc.setJobGroup(f"{op_type}:{op_id}", op_type)
        out = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(op_type, "bench", op_id):
                with self.tracer.span(f"{layer}.plan", layer):
                    out = plan()
                t1 = time.perf_counter()
                if execute is not None:
                    with self.tracer.span(f"{layer}.exec", layer):
                        out = execute(out)
        except Exception:  # one failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
            out = None
            t1 = time.perf_counter()
        t2 = time.perf_counter()
        if self.tracer.enabled:
            self.sc.setJobGroup("bench:-1", "untimed")
        rec.update(seconds=t2 - t0, plan_s=t1 - t0, exec_s=t2 - t1)
        self.ops.append(rec)
        self.timed_s += t2 - t0
        return out

    def fail(self, op: dict, why: str) -> None:
        if op["ok"]:
            print(f"check failed: op {op['id']} ({op['type']} {op['kind']}): {why}", file=sys.stderr)
        op["ok"] = False

    def last(self) -> dict:
        return self.ops[-1]

    def setup(self, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_s += time.perf_counter() - t0
        return out

    def more(self) -> bool:
        return self.timed_s < self.seconds

    # ---------------------------------------------------------- inputs
    def corpus(self, name: str, n: int, seed: int, **kw):
        """Write a generated table as parquet; returns (DataFrame, texts)."""
        table = gen.transcripts(self.vocab, n, seed, **kw)
        path = os.path.join(self.scratch, f"{name}.parquet")
        pq.write_table(table, path)
        return self.spark.read.parquet(path), table.column("text").to_pylist()

    # ---------------------------------------------------------- results
    def of(self, *types: str, kind: str | None = None) -> list[dict]:
        return [o for o in self.ops if o["type"] in types and kind in (None, o["kind"])]

    def e2e(self, primary: list[dict], reads: list[dict], work: list[dict], bytes_ratio: float) -> dict:
        """End-to-end values from the timed operations of this run."""

        def p50_ms(ops):
            return statistics.median(o["seconds"] for o in ops) * 1000.0

        return {
            "setup_s": self.setup_s,
            "op_p50_ms": p50_ms(primary),
            "read_p50_ms": p50_ms(reads),
            "throughput_per_s": sum(o["items"] for o in work) / sum(o["seconds"] for o in work),
            "index_bytes_per_text_byte": bytes_ratio,
        }


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def text_bytes(texts: list[str]) -> int:
    return sum(len(t.encode("utf-8")) for t in texts)


def rows_of(collected) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in collected]


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """doc_ids exactly, scores within 1e-9."""
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= 1e-9 for g, w in zip(got, want)
    )


# ====================================================================== build


def workload_build(run: Run) -> dict:
    from nlp4l_spark.index import IndexBuilder, check_index
    from nlp4l_spark.search import Searcher

    # warm-up: one small build and one search on it
    df, _ = run.corpus("warm", run.sizes["warmup_turns"], gen.mix(run.seed, 99))
    d = os.path.join(run.scratch, "warm")
    run.setup(lambda: IndexBuilder().build(df, d))
    run.setup(lambda: Searcher(run.spark, d).search_batch([(0, "needle00 w00010", K)]).collect())
    shutil.rmtree(d, ignore_errors=True)

    n = run.sizes["build_turns"]
    ratios: list[float] = []
    stage_s: dict[str, list[float]] = {}
    needles_q = [(j, f"needle{j:02d}", 64) for j in range(20)]
    last_dir = None
    j = 0
    while run.more() or j == 0:
        seed_j = gen.mix(run.seed, 1, j)
        df, texts = run.corpus(f"build{j}", n, seed_j)
        d = os.path.join(run.scratch, f"build{j}")
        start = time.time()
        run.op("build", "index", lambda: IndexBuilder().build(df, d), items=n)
        build_op = run.last()
        if not build_op["ok"]:
            j += 1
            continue
        ratios.append(dir_bytes(d) / text_bytes(texts))
        for stage, secs in stage_times(run, d, start, build_op["id"]).items():
            stage_s.setdefault(stage, []).append(secs)
        got = run.op(
            "batch",
            "search",
            lambda: Searcher(run.spark, d).search_batch(needles_q),
            lambda res: res.collect(),
            kind="needle",
            items=len(needles_q),
        )
        if got is not None:
            found: dict[str, set[int]] = {}
            for r in got:
                found.setdefault(f"needle{r['qid']:02d}", set()).add(int(r["doc_id"]))
            want = {t: set(ids) for t, ids in gen.needle_postings(n, seed_j).items()}
            if found != want:
                run.fail(build_op, "needle postings differ from the generator's")
        if last_dir is not None:
            shutil.rmtree(last_dir, ignore_errors=True)
        last_dir = d
        j += 1
    if last_dir is not None:
        bad = [r for r in check_index(run.spark, last_dir).collect() if not r["ok"]]
        if bad:
            run.fail([o for o in run.ops if o["type"] == "build"][-1], f"check_index: {bad}")
    if run.tracer.enabled:
        for stage, xs in stage_s.items():
            run.layer[f"index.stage.{stage.lstrip('_')}_s"] = statistics.median(xs)
        if last_dir is not None:
            run.layer.update(index_counts(last_dir))
    builds = run.of("build")
    return run.e2e(builds, run.of("batch"), builds, statistics.median(ratios) if ratios else 0.0)


def stage_times(run: Run, index_dir: str, start: float, op_id: int | None = None) -> dict[str, float]:
    """Seconds per build stage from catalog manifests: the gap between a
    stage's commit and the previous commit (the first stage from
    ``start``). The traced run also keeps each stage as a derived span."""
    import json

    commits = []
    for t in INDEX_TABLES:
        p = os.path.join(index_dir, t, "_MANIFEST.json")
        if os.path.exists(p):
            with open(p, encoding="utf-8") as fh:
                commits.append((json.load(fh)["committed_at"], t))
    out, prev = {}, start
    for at, t in sorted(commits):
        out[t] = max(at - prev, 0.0)
        run.tracer.derived(f"index.stage.{t}", "index.stage", prev, at, None, op_id)
        prev = at
    return out


def index_counts(index_dir: str) -> dict[str, float]:
    """Counts read from parquet columns and file sizes. Postings emitted
    are the segment dfs summed, the quantity the builder's lineage table
    records; compacted generations have no lineage table."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    out: dict[str, float] = {}
    for t in INDEX_TABLES:
        out[f"index.table_bytes.{t.lstrip('_')}"] = float(dir_bytes(os.path.join(index_dir, t)))

    def table(name, cols):
        return ds.dataset(os.path.join(index_dir, name), format="parquet").to_table(columns=cols)

    segs = table("segments", ["df"])
    out["index.postings_emitted"] = float(pc.sum(segs["df"]).as_py() or 0)
    out["index.segment_rows"] = float(segs.num_rows)
    post = table("postings", ["df", "doc_ids_enc", "tfs_enc", "dls_enc"])
    out["index.postings_rows"] = float(post.num_rows)
    enc = sum(pc.sum(pc.binary_length(post[c])).as_py() or 0 for c in ("doc_ids_enc", "tfs_enc", "dls_enc"))
    out["codec.bytes_per_posting"] = enc / max(pc.sum(post["df"]).as_py() or 0, 1)
    return out


# ====================================================================== serve


class Oracle:
    """Single-node reference answers over the stored table."""

    def __init__(self, docs: list[tuple[int, str]]):
        from nlp4l_spark.analysis.analyzer import TOKEN_PATTERN
        from nlp4l_spark.oracle import OracleIndex

        self.index = OracleIndex.build(docs)
        self.texts = dict(docs)
        self.token_re = re.compile(TOKEN_PATTERN)

    def search(self, q: str) -> list[tuple[int, float]]:
        return self.index.search(q, K)

    def search_and(self, q: str) -> list[tuple[int, float]]:
        ix = self.index
        terms = sorted(set(ix.analyzer.tokenize(q)))
        lists = [dict(ix.postings.get(t, [])) for t in terms]
        if not terms or any(not pl for pl in lists):
            return []
        docs = set(lists[0]).intersection(*lists[1:])
        scores = {
            d: sum(ix.bm25_score(pl[d], ix.doc_lens[d], ix.idf(t)) for t, pl in zip(terms, lists))
            for d in docs
        }
        return heapq.nsmallest(K, scores.items(), key=lambda kv: (-kv[1], kv[0]))

    def search_phrase(self, q: str) -> list[tuple[int, float]]:
        """Exact phrase over the full token stream (stopwords keep their
        positions); score = Σ idf · BM25 tf-norm of the phrase frequency."""
        from nlp4l_spark.oracle import B, K1

        ix = self.index
        terms = ix.analyzer.tokenize(q)
        idf_sum = sum(ix.idf(t) for t in terms)
        n = len(terms)
        cands = set(d for d, _ in ix.postings.get(terms[0], []))
        scores = {}
        for d in cands:
            toks = self.token_re.findall(self.texts[d].lower())
            tf = sum(1 for i in range(len(toks) - n + 1) if toks[i : i + n] == terms)
            if tf:
                dl = ix.doc_lens[d]
                scores[d] = idf_sum * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / ix.avgdl))
        return heapq.nsmallest(K, scores.items(), key=lambda kv: (-kv[1], kv[0]))


def workload_serve(run: Run) -> dict:
    from nlp4l_spark.index import IndexBuilder
    from nlp4l_spark.search import Searcher

    n = run.sizes["serve_turns"]
    seed_c = gen.mix(run.seed, 2)
    df, texts = run.corpus("serve", n, seed_c)
    d = os.path.join(run.scratch, "serve")
    start = time.time()
    run.setup(lambda: IndexBuilder(store_positions=True).build(df, d))
    build_stages = stage_times(run, d, start)
    s = run.setup(lambda: Searcher(run.spark, d))

    v = run.vocab
    n_slots = 4096
    or_q = gen.or_queries(v, n_slots, gen.mix(run.seed, 3))
    and_q = gen.and_queries(v, n_slots, gen.mix(run.seed, 4))
    ph_q = gen.phrases(texts, n_slots, gen.mix(run.seed, 5))
    bt_q = gen.or_queries(v, n_slots, gen.mix(run.seed, 6))
    bsz = run.sizes["batch_size"]

    # warm-up: one call of every operation type
    run.setup(lambda: s.search("w00010 w00300", k=K).collect())
    run.setup(lambda: s.search("w00010 w00300", k=K, operator="and").collect())
    run.setup(lambda: s.search_phrase(ph_q[-1], k=K).collect())
    run.setup(lambda: s.search_batch([(i, q, K) for i, (_, q) in enumerate(bt_q[-bsz:])]).collect())

    issued: list[tuple[dict, str, str, object]] = []  # (op, type, query, rows)
    counters = Counter()
    i = 0
    while run.more() or i % len(SERVE_CYCLE):  # whole cycles only
        t = SERVE_CYCLE[i % len(SERVE_CYCLE)]
        c = counters[t]
        counters[t] += 1
        if t == "or":
            kind, q = or_q[c]
            rows = run.op("or", "search", lambda: s.search(q, k=K), lambda r: r.collect(), kind=kind)
        elif t == "and":
            q = and_q[c]
            rows = run.op("and", "search", lambda: s.search(q, k=K, operator="and"), lambda r: r.collect())
        elif t == "phrase":
            q = ph_q[c]
            rows = run.op("phrase", "search", lambda: s.search_phrase(q, k=K), lambda r: r.collect())
        else:
            q = [(b, bt_q[c * bsz + b][1], K) for b in range(bsz)]
            rows = run.op("batch", "search", lambda: s.search_batch(q), lambda r: r.collect(), items=bsz)
        issued.append((run.last(), t, q, rows))
        i += 1

    # ---- correctness, outside every timed region
    stored = s.cat.read(run.spark, "stored").select("doc_id", "text").collect()
    oracle = Oracle([(int(r["doc_id"]), r["text"]) for r in stored])
    for op, t, q, rows in issued:
        if rows is None:
            continue
        if t == "batch":
            per_q: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
                per_q.setdefault(int(r["qid"]), []).append((int(r["doc_id"]), float(r["score"])))
            for qid, text, _k in q:
                if not same_topk(per_q.get(qid, []), oracle.search(text)):
                    run.fail(op, f"batch query {text!r} differs from the oracle")
            continue
        got = rows_of(sorted(rows, key=lambda r: (-r["score"], r["doc_id"])))
        want = {"or": oracle.search, "and": oracle.search_and, "phrase": oracle.search_phrase}[t](q)
        if not same_topk(got, want):
            run.fail(op, f"{t} query {q!r} differs from the oracle")

    or_ops = [(op, q) for op, t, q, _ in issued if t == "or"]
    kernels(run, s, or_ops, oracle)
    if run.tracer.enabled:
        run.layer.update(index_counts(d))
        for stage, secs in build_stages.items():
            run.layer[f"index.stage.{stage.lstrip('_')}_s"] = secs
        run.layer["analysis.query_tokenize_us"] = tokenize_us(s.analyzer, [q for _, q in or_ops])
    return run.e2e(run.of("or"), run.of("and", "phrase", "batch"), run.ops, dir_bytes(d) / text_bytes(texts))


def tokenize_us(analyzer, queries: list[str]) -> float:
    reps = max(1, 2000 // max(len(queries), 1))
    t0 = time.perf_counter()
    for _ in range(reps):
        for q in queries:
            analyzer.tokenize(q)
    return (time.perf_counter() - t0) / (reps * max(len(queries), 1)) * 1e6


def kernels(run: Run, s, or_ops: list[tuple[dict, str]], oracle: Oracle) -> None:
    """Decode the posting rows the OR mix matched on the driver and run
    both top-k kernels on them: WAND and MaxScore must agree with each
    other and with the oracle. In the traced run this also yields the
    codec decode rate and the per-query kernel time."""
    from pyspark.sql import functions as F

    from nlp4l_spark.index import codec
    from nlp4l_spark.search import idf
    from nlp4l_spark.search.wand import maxscore_topk, wand_topk

    qterms = {q: sorted(set(s.analyzer.tokenize(q))) for _, q in or_ops}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    if not all_terms:
        return
    rows = (
        s.cat.read(run.spark, "postings")
        .filter(F.col("term").isin(all_terms))
        .select("term", "shard", "df", "doc_ids_enc", "tfs_enc", "dls_enc", "block_max")
        .collect()
    )
    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("codec.decode", "codec"):
        dec = [
            (
                r["term"],
                int(r["shard"]),
                codec.decode_doc_ids(r["doc_ids_enc"]),
                codec.decode_tfs(r["tfs_enc"]),
                codec.decode_tfs(r["dls_enc"]),
                list(r["block_max"] or []),
            )
            for r in rows
        ]
    decode_s = time.perf_counter() - t0
    df_t: Counter = Counter()
    for r in rows:
        df_t[r["term"]] += int(r["df"])
    by_term: dict[str, list] = {}
    for x in dec:
        by_term.setdefault(x[0], []).append(x)

    kernel_s = {"wand": 0.0, "maxscore": 0.0}
    n_post = n_rows = n_hits = 0
    done: dict[str, list] = {}
    for op, q in or_ops:
        if q not in done:
            results = {}
            for name, fn in (("wand", wand_topk), ("maxscore", maxscore_topk)):
                t1 = time.perf_counter()
                with tr.span(f"{name}.topk", "wand"):
                    merged = []
                    shards = sorted({x[1] for t in qterms[q] for x in by_term.get(t, [])})
                    for sh in shards:
                        tps = [
                            (idf(s.num_docs, df_t[t]), x[2], x[3], x[4], x[5])
                            for t in qterms[q]
                            for x in by_term.get(t, [])
                            if x[1] == sh
                        ]
                        merged.extend(fn(tps, K, s.avgdl))
                    results[name] = sorted(merged, key=lambda ds: (-ds[1], ds[0]))[:K]
                kernel_s[name] += time.perf_counter() - t1
            done[q] = results["wand"]
            if results["wand"] != results["maxscore"]:
                run.fail(op, f"WAND and MaxScore differ on {q!r}")
            if not same_topk(results["wand"], oracle.search(q)):
                run.fail(op, f"driver-side WAND differs from the oracle on {q!r}")
        n_post += sum(df_t[t] for t in qterms[q])
        n_rows += sum(len(by_term.get(t, [])) for t in qterms[q])
        n_hits += len(done[q])
    if tr.enabled:
        n_decoded = sum(x[2].size for x in dec)
        run.layer["codec.decode_mpostings_per_s"] = n_decoded / max(decode_s, 1e-9) / 1e6
        n_q = max(len(done), 1)
        run.layer["wand.kernel_ms_per_query"] = kernel_s["wand"] / n_q * 1000.0
        run.layer["maxscore.kernel_ms_per_query"] = kernel_s["maxscore"] / n_q * 1000.0
        run.layer["search.postings_per_query"] = n_post / len(or_ops)
        run.layer["search.postings_rows_per_query"] = n_rows / len(or_ops)
        run.layer["search.hits_per_posting"] = n_hits / max(n_post, 1)


# ===================================================================== ingest


def merge_policy():
    from nlp4l_spark.index import TieredMergePolicy

    # small tiers so the few generations of one round are compacted
    return TieredMergePolicy(segs_per_tier=2.0, max_merge_at_once=4, floor_segment_bytes=1 << 20)


def workload_ingest(run: Run) -> dict:
    from nlp4l_spark.index import GenerationLog

    sz = run.sizes
    # warm-up: a tiny round of every operation type
    wlog = GenerationLog(os.path.join(run.scratch, "warm_gens"))
    for b, (first, n) in enumerate(gen.micro_batches(sz["batches"], sz["warmup_turns"] // sz["batches"])):
        df, _ = run.corpus(f"warm{b}", n, gen.mix(run.seed, 98), first_turn=first)
        run.setup(lambda: wlog.ingest(df))
    run.setup(lambda: wlog.searcher(run.spark).search("w00010 w00300", k=K).collect())
    run.setup(lambda: wlog.maintain(run.spark, merge_policy()))
    shutil.rmtree(wlog.root, ignore_errors=True)

    v = run.vocab
    ratios: list[float] = []
    live_seen: list[int] = []
    maintain: list[tuple[float, int, int, int]] = []  # seconds, merges, rewritten, ingested
    r = 0
    while run.more() or r == 0:
        seed_r = gen.mix(run.seed, 7, r)
        log = GenerationLog(os.path.join(run.scratch, f"gens{r}"))
        ingested_text = 0
        ingested_bytes = 0
        for b, (first, n) in enumerate(gen.micro_batches(sz["batches"], sz["batch_turns"])):
            tok = gen.fresh_token(b)
            df, texts = run.corpus(f"r{r}b{b}", n, seed_r, first_turn=first, fresh_token=tok, fresh_every=sz["fresh_every"])
            ingested_text += text_bytes(texts)
            gen_dir = run.op("ingest", "generations", lambda: log.ingest(df), items=n)
            ingest_op = run.last()
            if gen_dir is not None:
                ingested_bytes += dir_bytes(gen_dir)
            live_seen.append(len(log.live_dirs))
            rows = run.op("fed", "search", lambda: log.searcher(run.spark).search(tok, k=K), lambda x: x.collect(), kind="fresh")
            if rows is not None:
                got = {int(x["doc_id"]) for x in rows}
                want = {first + i for i in range(0, n, sz["fresh_every"])}
                if len(got) != min(K, len(want)) or not got <= want:
                    run.fail(ingest_op, f"batch {b} needles not searchable after ingest()")

        # the same queries at the round's full fan-out and after compaction
        mix_kinds = ("head", "or2", "or4")
        queries = [gen.fresh_token(0)] + [q for k, q in gen.or_queries(v, 7, gen.mix(seed_r, 1)) if k in mix_kinds]
        before = [
            run.op("fed", "search", lambda: log.searcher(run.spark).search(q, k=K), lambda x: x.collect(), kind="pre")
            for q in queries
        ]
        pre_ops = run.ops[-len(queries):]
        live_seen.append(len(log.live_dirs))
        before_dirs = set(log.live_dirs)
        start = time.time()
        merges = run.op("maintain", "mergepolicy", lambda: log.maintain(run.spark, merge_policy()))
        merged_dirs = [p for p in log.live_dirs if p not in before_dirs]
        rewritten = sum(dir_bytes(p) for p in merged_dirs)
        if run.tracer.enabled and merged_dirs:
            run.layer.update(index_counts(merged_dirs[0]))
            for stage, secs in stage_times(run, merged_dirs[0], start, run.last()["id"]).items():
                run.layer[f"index.stage.{stage.lstrip('_')}_s"] = secs
        maintain.append((run.last()["seconds"], len(merges or []), rewritten, ingested_bytes))
        after = [  # the first two again: enough to check, and cheap at fan-out 1
            run.op("fed", "search", lambda: log.searcher(run.spark).search(q, k=K), lambda x: x.collect(), kind="post")
            for q in queries[:2]
        ]
        for op, q, a, z in zip(pre_ops, queries, before, after):
            if a is None or z is None:
                continue
            if not same_topk(rows_of(z), rows_of(a)):
                run.fail(op, f"federated results for {q!r} changed across maintain()")
        ratios.append(sum(dir_bytes(p) for p in log.live_dirs) / ingested_text)
        r += 1

    if run.tracer.enabled:
        secs, merges_n, rewritten, ingested = (statistics.median(x) for x in zip(*maintain))
        run.layer["generations.live_gens"] = statistics.mean(live_seen)
        run.layer["mergepolicy.merges"] = merges_n
        run.layer["mergepolicy.bytes_rewritten"] = rewritten
        run.layer["mergepolicy.write_amp"] = rewritten / max(ingested, 1)
        run.layer["mergepolicy.maintain_s"] = secs
    ingests = run.of("ingest")
    return run.e2e(ingests, run.of("fed", kind="pre"), ingests, statistics.median(ratios))


WORKLOADS = {"build": workload_build, "serve": workload_serve, "ingest": workload_ingest}


def spark_layer(run: Run, rows: list[dict]) -> dict[str, float]:
    """Per-op-type Spark metrics from the job rows of timed operations."""
    out: dict[str, float] = {}
    n_ops = Counter(o["type"] for o in run.ops)
    by_type: dict[str, list[dict]] = {}
    for r in rows:
        by_type.setdefault(r["op_type"], []).append(r)
    for t in OP_TYPES:
        jobs = by_type.get(t, [])
        n = n_ops.get(t, 0)
        per = (lambda key: sum(j[key] for j in jobs) / n) if n else (lambda key: 0.0)
        out[f"spark.jobs_per_op.{t}"] = len(jobs) / n if n else 0.0
        out[f"spark.tasks_per_op.{t}"] = per("tasks")
        out[f"spark.sched_wait_ms_per_op.{t}"] = per("sched_wait_ms")
        out[f"spark.executor_run_ms_per_op.{t}"] = per("run_ms")
        out[f"spark.executor_cpu_ms_per_op.{t}"] = per("cpu_ms")
    total = max(len(run.ops), 1)
    out["spark.shuffle_bytes_per_op"] = sum(r["shuffle_bytes"] for r in rows) / total
    out["spark.spill_bytes_per_op"] = sum(r["spill_bytes"] for r in rows) / total
    out["spark.input_bytes_per_op"] = sum(r["input_bytes"] for r in rows) / total
    out["spark.failed_tasks"] = float(sum(r["failed_tasks"] for r in rows))
    for t in ("or", "and", "phrase", "batch", "fed"):
        ops = run.of(t)
        out[f"search.plan_ms.{t}"] = statistics.median(o["plan_s"] for o in ops) * 1000.0 if ops else 0.0
        out[f"search.exec_ms.{t}"] = statistics.median(o["exec_s"] for o in ops) * 1000.0 if ops else 0.0
    for t, kinds in (("or", gen.QUERY_KINDS), ("fed", FED_KINDS)):
        for kind in kinds:
            ops = run.of(t, kind=kind)
            out[f"search.{t}_ms.{kind}"] = statistics.median(o["seconds"] for o in ops) * 1000.0 if ops else 0.0
    return out
