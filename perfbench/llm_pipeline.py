"""llm_pipeline: the pre-training data pipeline as an orchestrator DAG,
run back to back by one client.

quality -> dedup -> encode -> shuffle -> lake append, with a retrieval
branch (sim_knn_exact) off the quality stage. Each stage builds its
registry op and runs it through the noop sink; the last stage appends
the shuffle audit to a lake table with `append_idempotent` (one batch
per DAG run). `dedup_near_minhash` is left out: it alone would be most
of the critical path.
"""

from __future__ import annotations

import os
import time

from common import Ctx, fetch, units

STAGES = (
    ("quality", "pipeline_quality_filter", ()),
    ("dedup", "dedup_ngram_jaccard", ("quality",)),
    ("encode", "pipeline_encode_token_ids", ("dedup",)),
    ("shuffle", "pipeline_epoch_shuffle", ("encode",)),
    ("retrieve", "sim_knn_exact", ("quality",)),
)
DEPS = {job: deps for job, _, deps in STAGES} | {"append": ("shuffle",)}
CORPUS = {"sf": 0.02, "files": {}}
MIN_RUNS = 30  # 10 samples above the p67 tail
# the JVM keeps speeding a DAG run up for its first ~25 runs (0.55 s down
# to 0.28 s on a quiet 4-core box); timing those would put the tail on
# how fast warm-up goes, not on the pipeline
WARM_RUNS = 30
DAG_S = 0.4
DAG_TIMEOUT_S = 120.0


class Workload:
    def __init__(self, ctx: Ctx) -> None:
        from lambda_hive_spark import lakehouse

        self.ctx = ctx
        self.lh = lakehouse
        self.lake = os.path.join(ctx.scratch, "lake", "epoch_audit")
        self.parallel = min(ctx.nproc, len(DEPS))
        self.samples: list[float] = []
        self.runs: list[dict] = []  # per DAG run: start, end, job times, attempts
        self.batch = 0
        self.appended = 0
        self.audit_rows = 0
        self.outputs: dict = {}  # each stage op's latest output, checked after the window

    def _stage(self, job: str, op: str, dag_span, times: dict):
        ctx = self.ctx

        def run(spark, deps):
            start = time.perf_counter()
            with ctx.tracer.span("orchestrator.job", parent=dag_span, desc=f"dag job {job}", job=job) as sp:
                df = ctx.build(op, parent=sp.get("id"))
                with ctx.tracer.span("operators.action", parent=sp.get("id"), job=job):
                    self.outputs[op] = fetch(spark, df, DAG_TIMEOUT_S)
            times[job] = (start, time.perf_counter())
            return df

        return run

    def _append(self, dag_span, times: dict):
        ctx = self.ctx

        def run(spark, deps):
            start = time.perf_counter()
            with ctx.tracer.span("orchestrator.job", parent=dag_span, desc="dag job append",
                                 job="append") as sp:
                with ctx.tracer.span("lakehouse.append_idempotent", parent=sp.get("id")):
                    self.lh.append_idempotent(
                        spark, self.lake, deps["shuffle"], writer_id="pipeline", batch_id=self.batch
                    )
            times["append"] = (start, time.perf_counter())

        return run

    def run_once(self) -> None:
        from lambda_hive_spark.orchestrator import Dag

        ctx = self.ctx
        ctx.attempted += 1
        self.batch += 1
        times: dict = {}
        t0 = time.perf_counter()
        with ctx.tracer.span("workload.dag"):
            with ctx.tracer.span("orchestrator.dag", collect=True) as sp:
                dag = Dag()
                for job, op, deps in STAGES:
                    dag.add(job, self._stage(job, op, sp.get("id"), times), deps)
                dag.add("append", self._append(sp.get("id"), times), DEPS["append"])
                run = dag.run(ctx.spark, max_parallel=self.parallel)
        t1 = time.perf_counter()
        if run.failed or run.skipped:
            job = next(iter(run.failed), None) or run.skipped[0]
            ctx.fail(f"dag job {job}", run.failed.get(job))
            return
        self.appended += 1
        self.samples.append(t1 - t0)
        self.runs.append({"start": t0, "end": t1, "jobs": times, "attempts": dict(run.attempts)})

    def warm(self) -> None:
        audit = self.ctx.build("pipeline_epoch_shuffle")
        self.audit_rows = audit.count()
        self.lh.create(self.ctx.spark, self.lake, audit.limit(0), key="shard")
        for _ in range(WARM_RUNS):
            self.run_once()
        self.samples.clear()
        self.runs.clear()

    def measure(self) -> float:
        """Run the DAG the number of times `--seconds` calls for, at
        least MIN_RUNS; returns the wall-clock of the window."""
        t0 = time.perf_counter()
        for _ in range(units(self.ctx.seconds, DAG_S, MIN_RUNS)):
            self.run_once()
        return time.perf_counter() - t0

    def check(self) -> None:
        ctx = self.ctx
        for op, got in sorted(self.outputs.items()):
            ctx.check_op(op, got)
        t0 = time.perf_counter()
        with ctx.tracer.span("testing.check", what="lake rows"):
            rows = self.lh.read(ctx.spark, self.lake).count()
        ctx.check_s += time.perf_counter() - t0
        want = self.audit_rows * self.appended
        if rows != want:
            ctx.mismatches += 1
            ctx.fail("pipeline lake rows", AssertionError(f"{rows} rows, expected {want}"))

    def report(self) -> dict:
        return {"latency": self.samples, "ops": len(self.samples), "op_unit": "dag run"}

    def figures(self, window: float, tail) -> dict:
        return {"pipeline_s": (tail(self.samples)["p50"], "s", len(self.samples))}

    def layers(self) -> dict:
        """orchestrator.* from the per-run job times."""
        job_s, waits, attempts, dag_s = [], [], 0, 0.0
        for r in self.runs:
            dag_s += r["end"] - r["start"]
            for job, (a, b) in r["jobs"].items():
                job_s.append(b - a)
                ready = max((r["jobs"][d][1] for d in DEPS[job]), default=r["start"])
                waits.append(max(0.0, a - ready))
            attempts += sum(r["attempts"].values())
        n = max(1, len(self.runs))
        return {
            "orchestrator.dag_s": dag_s / n,
            "orchestrator.job_s": sum(job_s) / max(1, len(job_s)),
            "orchestrator.queue_wait_s": sum(waits) / max(1, len(waits)),
            "orchestrator.parallelism": sum(job_s) / dag_s if dag_s else 0.0,
            "orchestrator.attempts": attempts / n,
        }
