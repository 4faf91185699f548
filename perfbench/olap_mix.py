"""olap_mix: one analyst client in a closed loop over a seeded,
Zipf-skewed stream of pure relational registry ops.

Pool rule: every registry op named `tpch_*`, `agg_*`, `join_*`,
`win_*` or `distinct_rows` that is not tagged `side_effect` (76 ops,
more than the registry's 32-entry plan cache). Popularity rank
interleaves the families round-robin, each family in natural name
order, so the rank of an op is fixed by its name and never by timing.

The timed window is a fixed number of cycles of CYCLE queries with the
same Zipf mix (19 distinct ops); the seed sets their order. Each op
builds its plan on first use in the window, a plan-cache miss. A repeat
hits the cache and also reuses the shuffle output of the previous run
of the same DataFrame, so only its final stage runs again. One cycle
(about CYCLE_S seconds) keeps both kinds in the sample (19 misses,
11 hits), so `--seconds` below 18 time exactly one cycle: 30 latency
samples, tail at p67. More cycles would add only hits and move the
median into the cheap re-runs.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np

import corpus
from common import Ctx, fetch, units

FAMILIES = ("tpch_", "agg_", "join_", "win_", "distinct_rows")
ZIPF_S = 1.1
CYCLE = 30
CYCLE_S = 12.0
CORPUS = {"sf": 0.02, "files": {"lineitem": 16, "orders": 8, "events": 4}}
WARM_SF = 0.002


def _natural(name: str) -> list:
    return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", name)]


def pool(ops: dict) -> list[str]:
    fams = [
        sorted((n for n, o in ops.items() if n.startswith(f) and "side_effect" not in o.tags), key=_natural)
        for f in FAMILIES
    ]
    ranked = []
    while any(fams):
        for fam in fams:
            if fam:
                ranked.append(fam.pop(0))
    return ranked


def cycle_mix(ranked: list[str]) -> list[str]:
    """The CYCLE queries of one cycle: a stratified draw from the
    Zipf(ZIPF_S) rank distribution, the same multiset for every seed."""
    w = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S
    cdf = np.cumsum(w) / w.sum()
    ranks = np.searchsorted(cdf, (np.arange(CYCLE) + 0.5) / CYCLE)
    return [ranked[min(int(r), len(ranked) - 1)] for r in ranks]


def sequence(ranked: list[str], seed: int):
    """Endless seeded query stream: cycles of the same mix, each in a
    seeded order. Runs of different seeds time the same queries in a
    different order, so their plan-cache hits and misses differ too."""
    rng = np.random.default_rng([seed, 1])
    mix = cycle_mix(ranked)
    while True:
        for i in rng.permutation(len(mix)):
            yield mix[i]


class Workload:
    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.ranked = pool(ctx.ops)
        self.mix = cycle_mix(self.ranked)
        self.samples: list[float] = []
        self.outputs: dict = {}  # first output of each distinct op, checked after the window

    def warm(self) -> None:
        """Run every op of the mix once on a tiny copy of the corpus: the
        window then times warm code (compiled stages, JIT), yet each op
        still builds its plan for the real corpus on first use."""
        tiny = os.path.join(self.ctx.scratch, "warm_corpus")
        corpus.build(tiny, WARM_SF, self.ctx.seed, CORPUS["files"])
        for name in sorted(set(self.mix)):
            fetch(self.ctx.spark, self.ctx.ops[name].fn(self.ctx.spark, tiny))

    def query(self, name: str) -> None:
        ctx = self.ctx
        ctx.attempted += 1
        t0 = time.perf_counter()
        with ctx.tracer.span("workload.query", op=name):
            try:
                df = ctx.build(name)
                with ctx.tracer.span("operators.action", collect=True, op=name):
                    out = fetch(ctx.spark, df)
            except Exception as exc:  # noqa: BLE001 - the loop records and goes on
                ctx.fail(f"query {name}", exc)
                return
        self.samples.append(time.perf_counter() - t0)
        self.outputs.setdefault(name, out)

    def measure(self) -> float:
        """Run the cycles `--seconds` calls for; returns the wall-clock
        of the window."""
        seq = sequence(self.ranked, self.ctx.seed)
        t0 = time.perf_counter()
        for _ in range(units(self.ctx.seconds, CYCLE_S) * CYCLE):
            self.query(next(seq))
        return time.perf_counter() - t0

    def check(self) -> None:
        for name in sorted(self.outputs):
            self.ctx.check_op(name, self.outputs[name])

    def figures(self, window: float, tail) -> dict:
        lat = tail(self.samples)
        return {
            "ops_per_s": (len(self.samples) / window, "1/s", len(self.samples)),
            "latency_p50_s": (lat["p50"], "s", lat["n"]),
            "latency_tail_s": (lat["tail"], "s", lat["n"], lat["tail_pct"]),
        }

    def report(self) -> dict:
        return {"latency": self.samples, "ops": len(self.samples), "op_unit": "query"}
