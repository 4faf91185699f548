"""Repository benchmark: three seeded closed-loop workloads on
local[nproc] under the engine's default session config.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 12 --trace 0

Run from the checkout root. Set-up (interpreter and JVM start, corpus
generation, warm-up) is timed as `setup_s`; then one client runs a
fixed amount of work sized to take about `--seconds` (whole olap and
lake cycles, at least 30 DAG runs; see `common.units`), outputs are
checked, and scratch is removed. The amount follows from `--seconds`
alone, so every run takes the same samples and ranks its tail alike.

Standard output ends with two lines: a `# context` JSON line (host,
sample counts, the per-workload figures named in BENCHMARK.json's
workload notes) and the result line
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones. With `--trace 1` the same window runs
with spans and Spark's node metrics recorded; the run reports the
per-layer metrics, its own throughput (`trace.ops_per_s`, to set
against the untraced runs' `ops_per_s`) and the share of the window
the tracer itself took, and writes its spans to `.perfbench_out/`.

Per-layer figures are per operation of the workload (query, DAG run or
lake call), except: `lakehouse.<verb>_s` and `_bytes` are per call of
that verb, `streaming.*` per micro-batch, `orchestrator.job_s` and
`queue_wait_s` per DAG job, peak memory is a maximum, and ratios and
file and version counts are as named.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import host  # noqa: E402
import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("olap_mix", "llm_pipeline", "lake_rw")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}
LAKE_VERBS = ("create", "append_idempotent", "merge_cow", "merge_dv", "delete_dv", "compact", "vacuum")
PER_LAYER = (
    ["session.start_s", "registry.build_s", "registry.build_calls", "registry.plan_cache_hit_ratio"]
    + ["io.scan_s", "io.scan_bytes", "io.files_read", "io.metadata_s"]
    + ["operators.action_s", "operators.jobs", "operators.tasks"]
    + sorted({k for k, _ in tracing.NODE_METRICS.values() if k.startswith("operators.")}
             | {tracing.CODEGEN_KEY})
    + ["orchestrator.dag_s", "orchestrator.job_s", "orchestrator.queue_wait_s",
       "orchestrator.parallelism", "orchestrator.attempts"]
    + [f"lakehouse.{v}_{u}" for v in LAKE_VERBS for u in ("s", "bytes")]
    + ["lakehouse.files_live", "lakehouse.versions", "lakehouse.scan_files_ratio"]
    + ["streaming.trigger_s", "streaming.add_batch_s", "streaming.wal_commit_s",
       "streaming.latest_offset_s", "streaming.batches", "streaming.rows_per_batch"]
    + ["testing.check_s", "testing.mismatches"]
    + [f"{layer}.self_s"
       for layer in ("workload", "registry", "operators", "orchestrator", "lakehouse", "streaming")]
    + ["host.steal_pct", "scratch.residual_bytes", "trace.ops_per_s",
       "trace.overhead_ratio", "trace.collect_s", "trace.top_span_coverage"]
)
_UNIT_SUFFIX = (("_per_s", "1/s"), ("_s", "s"), ("_ratio", "ratio"), ("_coverage", "ratio"), ("_pct", "%"))


def unit_of(name: str) -> str:
    if "_bytes" in name:
        return "B"
    return next((u for sfx, u in _UNIT_SUFFIX if name.endswith(sfx)), "count")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str, nproc: int) -> None:
    """Point the engine's and Spark's scratch into the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "engine"),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata: the JVM would write it to /tmp whatever tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(values: list[float]) -> dict:
    return host.summary(values, host.tail_rank(len(values)))


def run(args, run_dir: str, nproc: int) -> tuple:
    sys.path.insert(0, ROOT)
    from lambda_hive_spark.registry import all_ops  # fails outside a full checkout

    import duckdb

    import corpus
    from common import Ctx

    workload = __import__(args.workload)
    spec = workload.CORPUS
    sf_dir = os.path.join(run_dir, "corpus")
    from lambda_hive_spark.session import get_spark

    phases = {"imports_s": time.perf_counter() - T0}
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = phases["session_s"] = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        sizes = corpus.build(sf_dir, spec["sf"], args.seed, spec["files"],
                             spec.get("tables", corpus.TABLES))
        ctx = Ctx(spark=spark, sf_dir=sf_dir, scratch=os.path.join(run_dir, "work"), seed=args.seed,
                  seconds=args.seconds, tracer=tracing.NullTracer(), ops=all_ops(), nproc=nproc)
        os.makedirs(ctx.scratch)
        w = workload.Workload(ctx)
        phases["corpus_s"] = time.perf_counter() - t
        t = time.perf_counter()
        w.warm()
        phases["warm_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T0

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        if args.trace:
            ctx.tracer = tracing.Tracer(spark, f"{args.workload}-{args.seed}")
        before = (ctx.build_s, ctx.build_calls, ctx.build_hits)
        j0 = host.cpu_jiffies()
        t_start = time.perf_counter()
        window = w.measure()
        steal = host.steal_pct(j0, host.cpu_jiffies())
        tracer, ctx.tracer = ctx.tracer, tracing.NullTracer()
        rep = w.report()
        lat = tail(rep["latency"])
        e2e = {"setup_s": setup_s, "ops_per_s": rep["ops"] / window,
               "latency_p50_s": lat["p50"], "latency_tail_s": lat["tail"]}
        # peak RSS swings by a fifth or more between identical runs (JVM
        # heap growth), more than any bound allows, so it is shown, not gated
        rss_mb = (host.peak_rss_bytes(jvm_pid) + host.peak_rss_bytes(os.getpid())) / 2**20
        figures = {"setup_s": (setup_s, "s", 1), **w.figures(window, tail),
                   "peak_rss_mb": (rss_mb, "MB", 1)}
        context = {
            "workload": args.workload, "seed": args.seed, "window_s": window, "op_unit": rep["op_unit"],
            "steal_pct": steal, "nproc": nproc, "master": spark.sparkContext.master,
            "driver_heap": spark.conf.get("spark.driver.memory", "1g"),
            "spark_version": spark.version, "corpus": sizes, "setup_phases": phases,
        }

        layers = None
        if args.trace:
            layers = layer_metrics(tracer, ctx, w, before, t_start, window)
            layers.update({"session.start_s": session_s, "host.steal_pct": steal,
                           "trace.ops_per_s": e2e["ops_per_s"]})
            os.makedirs(OUT_ROOT, exist_ok=True)
            tracer.write(os.path.join(OUT_ROOT, f"spans-{args.workload}-{args.seed}-{os.getpid()}.json"))

        w.check()
        figures["failed_ratio"] = (ctx.failed / max(1, ctx.attempted), "ratio", ctx.attempted)
        # (value, unit, samples[, percentile]) per figure
        context["figures"] = {k: dict(zip(("value", "unit", "n", "pct"), f)) for k, f in figures.items()}
        context.update({"failures": ctx.failures[:20], "check_s": ctx.check_s})
        if layers is not None:
            layers["testing.check_s"] = ctx.check_s
            layers["testing.mismatches"] = float(ctx.mismatches)
        context["duckdb_version"] = duckdb.__version__
        return e2e, context, layers, ctx
    finally:
        stop_spark(spark)


def layer_metrics(tr, ctx, w, before: tuple, t_start: float, window: float) -> dict:
    """Per-layer metrics of a traced window, per workload operation."""
    ops = max(1, w.report()["ops"])
    spans = [s for s in tr.spans if t_start <= s["start"] <= t_start + window]
    totals = tracing.spark_totals(spans)
    layers = {k: v / ops for k, v in totals.items()}
    layers["operators.peak_mem_bytes"] = totals["operators.peak_mem_bytes"]
    actions = [s["end"] - s["start"] for s in spans if s["name"] == "operators.action"]
    layers["operators.action_s"] = sum(actions) / ops
    calls = ctx.build_calls - before[1]
    layers["registry.build_s"] = (ctx.build_s - before[0]) / max(1, calls)
    layers["registry.build_calls"] = calls / ops
    layers["registry.plan_cache_hit_ratio"] = (ctx.build_hits - before[2]) / calls if calls else 0.0
    for layer, secs in tracing.self_times(spans).items():
        layers[f"{layer}.self_s"] = secs / ops
    for verb in LAKE_VERBS:
        times = [s["end"] - s["start"] for s in spans if s["name"] == f"lakehouse.{verb}"]
        layers[f"lakehouse.{verb}_s"] = statistics.median(times) if times else 0.0
    if hasattr(w, "layers"):
        layers.update(w.layers())
    top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    layers["trace.top_span_coverage"] = top / window
    layers["trace.collect_s"] = tr.collect_s / ops
    # the tracer's own time: reading Spark's status store after each action
    layers["trace.overhead_ratio"] = tr.collect_s / max(1e-9, window - tr.collect_s)
    return layers


def main(argv=None) -> int:
    args = parse_args(argv)
    # a termination request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    start_bytes = host.tree_bytes(WORK_ROOT)
    run_dir = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(run_dir, nproc)
    try:
        e2e, context, layers, ctx = run(args, run_dir, nproc)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        leftover = os.path.exists(run_dir)
        residual = host.tree_bytes(run_dir)
        end_bytes = host.tree_bytes(WORK_ROOT)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    # what this run leaves behind, and the whole scratch root before and after
    context.update({"scratch_residual_bytes": residual, "scratch_start_bytes": start_bytes,
                    "scratch_end_bytes": end_bytes})
    if layers is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        layers["scratch.residual_bytes"] = float(residual)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": unit_of(k)} for k in PER_LAYER}
    correct = ctx.mismatches == 0 and not leftover
    print("# context " + json.dumps(context, default=str), flush=True)
    result = {"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
