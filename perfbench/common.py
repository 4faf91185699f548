"""What the three workloads share: the run context, the timed action
with its timeout, plan-cache accounting around `op.fn`, and the oracle
check."""

from __future__ import annotations

import threading
import time
import traceback
import weakref
from dataclasses import dataclass, field

ACTION_TIMEOUT_S = 120.0


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    scratch: str
    seed: int
    seconds: float
    tracer: object
    ops: dict
    nproc: int
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    check_s: float = 0.0
    mismatches: int = 0
    build_s: float = 0.0
    build_calls: int = 0
    build_hits: int = 0
    _last: dict = field(default_factory=dict)
    _duck: object = None
    _lock: threading.Lock = field(default_factory=threading.Lock)  # DAG jobs build concurrently

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        """Count one failed operation (error, mismatch or timeout)."""
        self.failed += 1
        detail = "".join(traceback.format_exception_only(type(exc), exc)).strip() if exc else ""
        self.failures.append(f"{what}: {detail}"[:400])

    def build(self, name: str, parent=None):
        """`op.fn(spark, sf_dir)` in a registry span. A plan-cache hit
        is `op.fn` returning the same DataFrame object as last time. A
        build inside a DAG job (`parent` given) leaves reading Spark's
        metrics to the DAG span."""
        with self.tracer.span("registry.build", collect=parent is None, parent=parent, op=name):
            t0 = time.perf_counter()
            df = self.ops[name].fn(self.spark, self.sf_dir)
            dt = time.perf_counter() - t0
        with self._lock:
            last = self._last.get(name)
            self.build_calls += 1
            self.build_hits += last is not None and last() is df
            self.build_s += dt
            self._last[name] = weakref.ref(df)
        return df

    def duck(self):
        if self._duck is None:
            from lambda_hive_spark import testing

            self._duck = testing.duck_connection(self.sf_dir)
        return self._duck

    def check_op(self, name: str, got) -> bool:
        """Compare `got`, the op's output fetched in the timed loop,
        with its DuckDB oracle; a mismatch counts as a failed operation."""
        t0 = time.perf_counter()
        with self.tracer.span("testing.check", op=name):
            ok, why = oracle_matches(self, name, got)
        self.check_s += time.perf_counter() - t0
        if not ok:
            self.mismatches += 1
            self.fail(f"oracle mismatch {name}", AssertionError(why))
        return ok


def units(seconds: float, unit_s: float, least: int = 1) -> int:
    """How many units of work (cycles, DAG runs) a run of `seconds`
    times. The count follows from the arguments alone, never from how
    fast the engine goes, so every run collects the same samples and
    reports its tail at the same rank. `unit_s` is one unit's
    wall-clock on a 4-core box at the commit that set it."""
    return max(least, round(seconds / unit_s))


def fetch(spark, df, timeout_s: float = ACTION_TIMEOUT_S):
    """Run `df` and fetch its rows to the client as an Arrow table,
    cancelling its jobs if it outlives `timeout_s` (the cancel surfaces
    as an error). A job group already set on this thread (a DAG job's)
    is kept."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    own = group is None
    if own:
        group = f"perfbench-{threading.get_ident()}-{time.perf_counter_ns()}"
        sc.setJobGroup(group, group, True)
    timer = threading.Timer(timeout_s, sc.cancelJobGroup, args=(group,))
    timer.start()
    try:
        return df.toArrow()
    finally:
        timer.cancel()
        if own:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def _utc_naive(df):
    """Timezone-aware timestamp columns as naive UTC, the form the
    oracle's TIMESTAMP columns take."""
    import pandas as pd

    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def oracle_matches(ctx: Ctx, name: str, got) -> tuple[bool, str]:
    """Compare `got`, the Arrow output of the op's timed run, with its
    oracle's rows through `lambda_hive_spark.testing.normalize`, the
    engine's own parity rule (order-insensitive, numbers as floats)."""
    from lambda_hive_spark import testing

    scols, srows = testing.normalize(_utc_naive(got.to_pandas()))
    dcols, drows = testing.normalize(_utc_naive(ctx.duck().execute(ctx.ops[name].oracle).fetchdf()))
    if scols != dcols:
        return False, f"columns {scols} != oracle {dcols}"
    if len(srows) != len(drows):
        return False, f"{len(srows)} rows != oracle {len(drows)}"
    bad = next((i for i, (a, b) in enumerate(zip(srows, drows)) if a != b), None)
    if bad is not None:
        return False, f"sorted row {bad}: {srows[bad]!r} != oracle {drows[bad]!r}"[:300]
    return True, ""
