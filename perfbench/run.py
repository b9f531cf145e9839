"""Benchmark of nlp4l_spark's index and search engine.

    python3 perfbench/run.py --workload {build,serve,ingest} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the root of a checkout. One process is one closed-loop client
on a Spark ``local[N]`` session pinned by ``perfbench/runtime.json``.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# end-to-end metrics: name -> unit (every workload reports every one)
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "read_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
}
SELF_LAYERS = ("bench", "search", "index", "generations", "mergepolicy", "spark")


def layer_units() -> dict[str, str]:
    """Every per-layer metric of the traced run with its unit. A metric
    whose layer the workload does not exercise reads 0."""
    from workloads import FED_KINDS, INDEX_TABLES, OP_TYPES

    import gen

    u: dict[str, str] = {}
    for t in OP_TYPES:
        u[f"spark.jobs_per_op.{t}"] = "count"
        u[f"spark.tasks_per_op.{t}"] = "count"
        u[f"spark.sched_wait_ms_per_op.{t}"] = "ms"
        u[f"spark.executor_run_ms_per_op.{t}"] = "ms"
        u[f"spark.executor_cpu_ms_per_op.{t}"] = "ms"
    u["spark.shuffle_bytes_per_op"] = "B"
    u["spark.spill_bytes_per_op"] = "B"
    u["spark.input_bytes_per_op"] = "B"
    u["spark.failed_tasks"] = "count"
    for t in INDEX_TABLES:
        u[f"index.stage.{t.lstrip('_')}_s"] = "s"
    u["index.postings_emitted"] = "count"
    u["index.postings_rows"] = "count"
    u["index.segment_rows"] = "count"
    for t in INDEX_TABLES:
        u[f"index.table_bytes.{t.lstrip('_')}"] = "B"
    u["codec.bytes_per_posting"] = "B"
    u["codec.decode_mpostings_per_s"] = "M/s"
    for t in ("or", "and", "phrase", "batch", "fed"):
        u[f"search.plan_ms.{t}"] = "ms"
        u[f"search.exec_ms.{t}"] = "ms"
    for k in gen.QUERY_KINDS:
        u[f"search.or_ms.{k}"] = "ms"
    for k in FED_KINDS:
        u[f"search.fed_ms.{k}"] = "ms"
    u["search.postings_per_query"] = "count"
    u["search.postings_rows_per_query"] = "count"
    u["search.hits_per_posting"] = "ratio"
    u["wand.kernel_ms_per_query"] = "ms"
    u["maxscore.kernel_ms_per_query"] = "ms"
    u["analysis.query_tokenize_us"] = "us"
    u["generations.live_gens"] = "count"
    u["mergepolicy.merges"] = "count"
    u["mergepolicy.bytes_rewritten"] = "B"
    u["mergepolicy.write_amp"] = "ratio"
    u["mergepolicy.maintain_s"] = "s"
    u["proc.peak_rss_mb"] = "MB"
    u["proc.driver_rss_mb"] = "MB"
    u["proc.jvm_rss_mb"] = "MB"
    u["trace.overhead_frac"] = "ratio"
    for layer in SELF_LAYERS:
        u[f"self_ms_per_op.{layer}"] = "ms"
    return u


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "serve", "ingest"))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def start_spark(runtime: dict, trace: bool, work: str):
    from pyspark.sql import SparkSession

    cores = max(1, min(runtime["max_cores"], len(os.sched_getaffinity(0))))
    conf = dict(runtime["conf"])
    conf.update(runtime["trace_conf"] if trace else runtime["untraced_conf"])
    conf["spark.driver.memory"] = runtime["driver_memory"]
    conf["spark.local.dir"] = os.path.join(work, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    builder = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_proc(spark):
    return spark.sparkContext._gateway.proc


def rss_mb(spark) -> tuple[float, float]:
    """(Python driver, driver JVM) peak resident set in MB."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    try:
        with open(f"/proc/{jvm_proc(spark).pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return py, jvm


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    proc = jvm_proc(spark)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def cache_path(a, seed: str | int) -> str:
    return os.path.join(OUT_DIR, f"untraced-{a.workload}-{a.seconds:g}-{a.size}-{seed}.json")


def untraced_op_p50(a) -> float:
    """Median op_p50_ms of this checkout's untraced runs with the same
    workload, length and size (any seed); without one, a child process
    makes an untraced run with this run's arguments first."""
    paths = glob.glob(cache_path(a, "*"))
    if not paths:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", f"{a.seconds:g}", "--trace", "0", "--size", a.size]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True, timeout=170)
        paths = [cache_path(a, a.seed)]
    vals = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            vals.append(json.load(fh)["metrics"]["op_p50_ms"]["value"])
    return statistics.median(vals)


def traced_layers(run, spark, e2e: dict, base_p50: float) -> dict[str, float]:
    import spans
    from workloads import spark_layer

    jobs, stages = spans.spark_jobs(spark.sparkContext)
    rows = spans.job_rows(jobs, stages)
    run.tracer.attach_jobs(rows)
    out = {name: 0.0 for name in layer_units()}
    out.update(spark_layer(run, rows))
    out.update(run.layer)
    self_s = run.tracer.self_times()
    for layer in SELF_LAYERS:
        out[f"self_ms_per_op.{layer}"] = self_s.get(layer, 0.0) / max(len(run.ops), 1) * 1000.0
    out["trace.overhead_frac"] = e2e["op_p50_ms"] / base_p50 - 1.0
    unknown = set(out) - set(layer_units())
    if unknown:
        raise KeyError(f"per-layer metrics missing from layer_units(): {sorted(unknown)}")
    return out


def main(argv=None) -> int:
    a = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "nlp4l_spark")):
        print(f"error: no nlp4l_spark package beside {HERE}; run from a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "runtime.json"), encoding="utf-8") as fh:
        runtime = json.load(fh)
    base_p50 = untraced_op_p50(a) if a.trace else None

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    from spans import Tracer
    from workloads import WORKLOADS, Run

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(runtime, bool(a.trace), work)
        import nlp4l_spark.index  # noqa: F401  (library import is part of set-up)
        import nlp4l_spark.search  # noqa: F401

        session_s = time.perf_counter() - t0
        tracer = Tracer(bool(a.trace))
        run = Run(spark, runtime["sizes"][a.size], a.seed, a.seconds, work, tracer)
        run.setup_s = session_s
        e2e = WORKLOADS[a.workload](run)
        if a.trace:
            py_mb, jvm_mb = rss_mb(spark)
            layers = traced_layers(run, spark, e2e, base_p50)
            layers["proc.driver_rss_mb"] = py_mb
            layers["proc.jvm_rss_mb"] = jvm_mb
            layers["proc.peak_rss_mb"] = py_mb + jvm_mb
            units = layer_units()
            metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(layers.items())}
            tracer.dump(os.path.join(OUT_DIR, f"trace-{a.workload}-{a.seed}.json"))
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for o in run.ops:  # per-operation log for diagnosis; stdout stays one JSON line
        print(f"op {o['id']} {o['type']} {o['kind']} {o['seconds'] * 1000:.1f} ms ok={o['ok']}", file=sys.stderr)
    failed = sum(1 for o in run.ops if not o["ok"])
    result = {"correct": failed == 0, "attempted": len(run.ops), "failed": failed, "metrics": metrics}
    if not a.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(cache_path(a, a.seed), "w", encoding="utf-8") as fh:
            json.dump(result, fh)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
