"""lake_rw: one writer/reader working a lake table in rounds.

Each round: a streamed ingest (seeded landing files drained one file
per trigger, foreachBatch `append_idempotent` into an events table),
a 1% copy-on-write `merge_upsert`, a 1% merge-on-read `merge_upsert`
with deletion vectors, a deletion-vector `delete_where`, then a point
`scan_where`, a range `scan_where` and a full-aggregate `read`. Every
second round it also runs `compact` and `vacuum`, and the timed window
is a fixed number of whole two-round cycles (one cycle, about CYCLE_S
seconds, for `--seconds` below 14), so every run times the same mix of
calls: per cycle 20 calls, 19 of them latency samples (vacuum is not
a commit or a read). Reads come after writes so a write-side gain that costs reads
shows. Every read is checked against counts and cent sums the
benchmark keeps from its own seeded operations.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus
from common import Ctx, units
from host import file_sizes

CORPUS = {"sf": 0.1, "files": {"orders": 8}, "tables": ("orders",)}
TABLE_FILES = 8
MERGE_FRACTION = 0.01
INSERT_SHARE = 0.1
DELETE_MOD = 997
LANDING_FILES = 3
ROUND_EVENTS = 600
STREAM_TIMEOUT_S = 120.0
CYCLE_S = 9.5
COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


class Workload:
    def __init__(self, ctx: Ctx) -> None:
        from lambda_hive_spark import lakehouse

        self.ctx = ctx
        self.lh = lakehouse
        self.rng = np.random.default_rng([ctx.seed, 3])
        root = os.path.join(ctx.scratch, "lake")
        self.orders = os.path.join(root, "orders")
        self.events = os.path.join(root, "events")
        self.landing = os.path.join(ctx.scratch, "landing")
        self.ckpt = os.path.join(ctx.scratch, "ckpt")
        os.makedirs(self.landing)
        # the orders model: every key's row and whether it is live
        t = corpus.generate("orders", CORPUS["sf"])
        n = t.num_rows
        cap = 2 * n + 10_000
        self.live = np.zeros(cap, bool)
        self.live[:n] = True
        self.next_key = n
        self.cents = np.zeros(cap, np.int64)
        self.cents[:n] = np.round(t["o_totalprice"].to_numpy() * 100).astype(np.int64)
        self.cust = np.zeros(cap, np.int64)
        self.cust[:n] = t["o_custkey"].to_numpy()
        self.status = np.array(["F"] * cap, object)
        self.status[:n] = t["o_orderstatus"].to_numpy(zero_copy_only=False)
        self.prio = np.array(["3-MEDIUM"] * cap, object)
        self.prio[:n] = t["o_orderpriority"].to_numpy(zero_copy_only=False)
        self.event_src = corpus.generate("events", CORPUS["sf"])
        self.event_pos = 0
        self.landed_rows = 0
        self.round_no = 0
        # samples
        self.commits: list[float] = []
        self.reads: list[float] = []
        self.batches: list[float] = []
        self.ops = 0
        self.verb_bytes: dict[str, list[float]] = {}  # bytes written per call
        self.changed_rows = 0
        self.changed_bytes = 0
        self.disk_per_row: list[float] = []
        self.progress: list[dict] = []
        self.read_files: list[float] = []

    # -- timed verbs ------------------------------------------------------

    def _verb(self, verb: str, kind: str, fn, table: str | None = None):
        """Time one lake call; returns (result, bytes written) or None on failure."""
        ctx = self.ctx
        ctx.attempted += 1
        before = file_sizes(table) if table else {}
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"lakehouse.{verb}", collect=True) as sp:
                out = fn()
        except Exception as exc:  # noqa: BLE001 - the loop records and goes on
            ctx.fail(f"lake {verb}", exc)
            return None
        dt = time.perf_counter() - t0
        written = sum(s for p, s in file_sizes(table).items() if p not in before) if table else 0
        self.verb_bytes.setdefault(verb, []).append(written)
        self.ops += 1
        if kind == "commit":
            self.commits.append(dt)
        elif kind == "read":
            self.reads.append(dt)
        if kind == "read" and ctx.tracer.enabled:
            files = sum(r["metrics"].get("io.files_read", 0.0) for r in sp.get("spark", ()))
            live = len(self.lh.read_manifest(self.orders)["files"])
            self.read_files.append(files / live if live else 0.0)
        return out, written

    def _expect(self, what: str, got, want) -> None:
        if tuple(got) != tuple(want):
            self.ctx.mismatches += 1
            self.ctx.fail(f"lake {what}", AssertionError(f"got {got}, expected {want}"))

    # -- round steps --------------------------------------------------------

    def _land(self) -> int:
        """Write this round's seeded landing files; returns rows landed."""
        src = self.event_src
        if self.event_pos + ROUND_EVENTS > src.num_rows:
            self.event_pos = 0
        chunk = src.slice(self.event_pos, ROUND_EVENTS)
        shift = self.round_no * src.num_rows
        chunk = chunk.set_column(0, "event_id", pa.array(chunk["event_id"].to_numpy() + shift))
        self.event_pos += ROUND_EVENTS
        cuts = np.sort(self.rng.choice(np.arange(1, ROUND_EVENTS), LANDING_FILES - 1, replace=False))
        bounds = [0, *cuts.tolist(), ROUND_EVENTS]
        for i in range(LANDING_FILES):
            part = chunk.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(self.landing, f"r{self.round_no:05d}-{i}.parquet"))
        return ROUND_EVENTS

    def _sink(self, parent):
        def sink(batch_df, batch_id):
            with self.ctx.tracer.span("lakehouse.append_idempotent", parent=parent):
                self.lh.append_idempotent(
                    self.ctx.spark, self.events, batch_df, writer_id="ingest", batch_id=batch_id
                )
            self._batch_ends.append(time.perf_counter())

        return sink

    def ingest(self) -> None:
        ctx = self.ctx
        rows = self._land()
        ctx.attempted += 1
        before = file_sizes(self.events)
        self._batch_ends: list[float] = []
        with ctx.tracer.span("streaming.run", collect=True) as sp:
            q = (
                self.stream.writeStream.foreachBatch(self._sink(sp.get("id")))
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            started = time.perf_counter()
            with ctx.tracer.span("streaming.await"):
                done = q.awaitTermination(STREAM_TIMEOUT_S)
            if not done:
                q.stop()
        if not done:
            ctx.fail("stream ingest", TimeoutError(f"stream still running after {STREAM_TIMEOUT_S}s"))
            return
        if q.exception() is not None:
            ctx.fail("stream ingest", q.exception())
            return
        ends = [started, *self._batch_ends]
        self.batches.extend(b - a for a, b in zip(ends, ends[1:]))
        self.ops += len(self._batch_ends)
        self.progress.extend(p for p in q.recentProgress if p.numInputRows > 0)
        self.landed_rows += rows
        written = sum(s for p, s in file_sizes(self.events).items() if p not in before)
        per_batch = written / max(1, len(self._batch_ends))
        self.verb_bytes.setdefault("append_idempotent", []).extend([per_batch] * len(self._batch_ends))
        self.changed_rows += rows
        self.changed_bytes += written

    def _batch_df(self, n: int):
        """n seeded upserts: (1 - INSERT_SHARE) price changes on live keys, the rest new keys."""
        live = np.flatnonzero(self.live)
        n_ins = int(n * INSERT_SHARE)
        upd = self.rng.choice(live, n - n_ins, replace=False)
        ins = np.arange(self.next_key, self.next_key + n_ins)
        self.cents[ins] = self.rng.integers(100_000, 50_000_000, n_ins)
        self.cust[ins] = self.rng.integers(0, 15_000, n_ins)
        keys = np.concatenate([upd, ins])
        cents = self.cents[keys].copy()
        cents[: len(upd)] += 100
        tbl = pa.table({
            "o_orderkey": pa.array(keys.astype(np.int64)),
            "o_custkey": pa.array(self.cust[keys]),
            "o_orderstatus": pa.array(self.status[keys].tolist()),
            "o_totalprice": pa.array(cents / 100.0),
            "o_orderpriority": pa.array(self.prio[keys].tolist()),
        })
        return self.ctx.spark.createDataFrame(tbl.to_pandas()), keys, cents

    def merge(self, dv: bool) -> None:
        n = int(self.live.sum() * MERGE_FRACTION)
        df, keys, cents = self._batch_df(n)
        verb = "merge_dv" if dv else "merge_cow"
        res = self._verb(verb, "commit", lambda: self.lh.merge_upsert(
            self.ctx.spark, self.orders, df, deletion_vectors=dv), self.orders)
        if res is not None:
            self.live[keys] = True
            self.cents[keys] = cents
            self.next_key = max(self.next_key, int(keys.max()) + 1)
            self.changed_rows += len(keys)
            self.changed_bytes += res[1]

    def delete(self) -> None:
        k = int(self.rng.integers(0, DELETE_MOD))
        hit = np.flatnonzero(self.live & (np.arange(len(self.live)) % DELETE_MOD == k))
        res = self._verb("delete_dv", "commit", lambda: self.lh.delete_where(
            self.ctx.spark, self.orders, f"o_orderkey % {DELETE_MOD} = {k}",
            prune="auto", deletion_vectors=True), self.orders)
        if res is not None:
            self.live[hit] = False
            self.changed_rows += len(hit)
            self.changed_bytes += res[1]

    def _agg(self, df):
        from pyspark.sql import functions as F

        cents = F.round(F.col("o_totalprice") * 100).cast("long")
        row = df.agg(F.count(F.lit(1)), F.sum(cents)).collect()[0]
        return int(row[0]), int(row[1] or 0)

    def _model(self, lo: int, hi: int) -> tuple[int, int]:
        sel = self.live[lo:hi + 1]
        return int(sel.sum()), int(self.cents[lo:hi + 1][sel].sum())

    def read_back(self) -> None:
        spark, lh = self.ctx.spark, self.lh
        key = int(self.rng.integers(0, self.next_key))
        res = self._verb("scan_point", "read", lambda: self._agg(
            lh.scan_where(spark, self.orders, f"o_orderkey = {key}")))
        if res is not None:
            self._expect("point read", res[0], self._model(key, key))
        width = max(1, self.next_key // 100)
        lo = int(self.rng.integers(0, self.next_key - width))
        res = self._verb("scan_range", "read", lambda: self._agg(lh.scan_where(
            spark, self.orders, f"o_orderkey >= {lo} AND o_orderkey <= {lo + width - 1}")))
        if res is not None:
            self._expect("range read", res[0], self._model(lo, lo + width - 1))
        res = self._verb("read_full", "read", lambda: self._agg(lh.read(spark, self.orders)))
        if res is not None:
            self._expect("full read", res[0], self._model(0, len(self.live) - 1))

    def maintain(self) -> None:
        spark = self.ctx.spark
        self._verb("compact", "commit",
                   lambda: self.lh.compact(spark, self.orders, num_files=TABLE_FILES), self.orders)
        self._verb("vacuum", "other", lambda: self.lh.vacuum(self.orders, keep_last=1))

    def round(self, maintain: bool) -> None:
        self.round_no += 1
        with self.ctx.tracer.span("workload.round", round=self.round_no):
            self.ingest()
            self.merge(dv=False)
            self.merge(dv=True)
            self.delete()
            self.read_back()
            if maintain:
                self.maintain()
        self.disk_per_row.append(sum(file_sizes(self.orders).values()) / max(1, int(self.live.sum())))

    # -- workload interface ----------------------------------------------------

    def warm(self) -> None:
        from lambda_hive_spark.io import table
        from lambda_hive_spark.streaming.core import events_stream

        spark = self.ctx.spark
        base = table(spark, self.ctx.sf_dir, "orders").select(*COLUMNS)
        with self.ctx.tracer.span("lakehouse.create", collect=True):
            t0 = time.perf_counter()
            self.lh.create(spark, self.orders, base.repartitionByRange(TABLE_FILES, "o_orderkey"),
                           key="o_orderkey")
            self.create_s = time.perf_counter() - t0
        self.create_bytes = sum(file_sizes(self.orders).values())
        self._land()
        self.stream = events_stream(spark, self.landing, max_files_per_trigger=1)
        self.lh.create(spark, self.events, spark.createDataFrame([], self.stream.schema), key="event_id")
        for f in os.listdir(self.landing):
            os.remove(os.path.join(self.landing, f))
        self.round(maintain=False)
        self.round(maintain=True)
        # drop what the warm-up cycle sampled
        for samples in (self.commits, self.reads, self.batches, self.disk_per_row,
                        self.progress, self.read_files):
            samples.clear()
        self.verb_bytes.clear()
        self.ops = self.changed_rows = self.changed_bytes = 0

    def measure(self) -> float:
        """Run the whole cycles (a round, then a round with compact and
        vacuum) `--seconds` calls for; returns the window."""
        t0 = time.perf_counter()
        for _ in range(units(self.ctx.seconds, CYCLE_S)):
            self.round(maintain=False)
            self.round(maintain=True)
        return time.perf_counter() - t0

    def check(self) -> None:
        ctx = self.ctx
        t0 = time.perf_counter()
        with ctx.tracer.span("testing.check", what="events rows"):
            rows = self.lh.read(ctx.spark, self.events).count()
        ctx.check_s += time.perf_counter() - t0
        self._expect("events rows", (rows,), (self.landed_rows,))

    def report(self) -> dict:
        return {"latency": self.commits + self.reads + self.batches, "ops": self.ops, "op_unit": "lake call"}

    def figures(self, window: float, tail) -> dict:
        """The lake user's end-to-end figures, for the context line."""
        commit, read = tail(self.commits), tail(self.reads)
        rows = max(1, self.changed_rows)
        return {
            "ops_per_s": (self.ops / window, "1/s", self.ops),
            "commit_p50_s": (commit["p50"], "s", commit["n"]),
            "commit_tail_s": (commit["tail"], "s", commit["n"], commit["tail_pct"]),
            "read_p50_s": (read["p50"], "s", read["n"]),
            "read_tail_s": (read["tail"], "s", read["n"], read["tail_pct"]),
            "stream_batch_p50_s": (tail(self.batches)["p50"], "s", len(self.batches)),
            "bytes_written_per_row": (self.changed_bytes / rows, "B", rows),
            "disk_bytes_per_live_row": (tail(self.disk_per_row)["p50"], "B", len(self.disk_per_row)),
        }

    def layers(self) -> dict:
        """lakehouse.* bytes and table state, streaming.* from Spark's
        StreamingQueryProgress (verb times come from the spans)."""
        out = {f"lakehouse.{verb}_bytes": statistics.mean(b) for verb, b in self.verb_bytes.items() if b}
        out["lakehouse.create_s"] = self.create_s
        out["lakehouse.create_bytes"] = float(self.create_bytes)
        m = self.lh.read_manifest(self.orders)
        out["lakehouse.files_live"] = float(len(m["files"]))
        out["lakehouse.versions"] = float(self.lh.current_version(self.orders))
        out["lakehouse.scan_files_ratio"] = statistics.mean(self.read_files) if self.read_files else 0.0
        prog = self.progress
        n = max(1, len(prog))
        dur = lambda k: sum(p.durationMs.get(k, 0) for p in prog) / n / 1000.0  # noqa: E731
        out.update({
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.batches": float(len(prog)),
            "streaming.rows_per_batch": sum(p.numInputRows for p in prog) / n,
        })
        return out
