"""The benchmark workloads, driven through the engine's public API.

Both are closed loops with one client. Inputs are generated from the
seed during set-up; the engine only ever sees the generated files. A
workload runs in *units* (one apply-and-serve step, one stream drain) so
the measuring loop can stop at its time budget and, in a traced run,
alternate untraced and traced units.
"""

from __future__ import annotations

import glob
import itertools
import math
import os
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass
from typing import Any

from . import stats
from .oracle import Expected, prefix_states

N_BUCKETS = 8
INDEX_SHARDS = 8
TXN_EVENTS = 25
# tail-serve's runner: the r05 sustained apply config scaled to a few
# cores (pipelined MOR staging, async lineage, async size-tiered minor
# folds at 2 layers)
RUNNER_KW = dict(n_buckets=N_BUCKETS, mode="mor", pipeline_depth=2,
                 async_lineage=True, compact_every=2, async_compact=True,
                 compact_mode="minor", fold_tier_bytes=-1)


@dataclass(frozen=True)
class Scale:
    events: int
    batches: int


def generate_log(log_dir: str, seed: int, scale: Scale) -> int:
    """Zipf-1.1 change log, 25% updates / 5% deletes, all three schema
    epochs; returns the number of change events written."""
    from biomedica_etl_spark.cdc.generator import (
        GeneratorConfig, generate_change_log)

    cfg = GeneratorConfig(
        seed=seed, n_events=scale.events,
        batch_size=math.ceil(scale.events / scale.batches),
        n_convs=max(scale.events // 100, 100), zipf_a=1.1,
        update_frac=0.25, delete_frac=0.05, avg_text_len=160)
    return generate_change_log(log_dir, cfg).n_rows_written


def n_convs_of(scale: Scale) -> int:
    return max(scale.events // 100, 100)


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                pass
    return total


def snapshot_dirs(table, bucket: int | None = None) -> list[str]:
    """Absolute data dirs referenced by the table's current snapshot."""
    snap = table.current_snapshot() or {}
    out = []
    for key in ("bucket_dirs", "delta_dirs"):
        for b, ds in snap.get(key, {}).items():
            if bucket is not None and int(b) != bucket:
                continue
            for d in (ds if isinstance(ds, list) else [ds]):
                out.append(os.path.join(table.root, d))
    return out


def layer_counts(table) -> list[int]:
    snap = table.current_snapshot() or {}
    deltas = snap.get("delta_dirs", {})
    return [len(deltas.get(str(b), [])) for b in range(table.n_buckets)]


def reduce_counts(table) -> dict[str, float]:
    """Raw events in, rows written after the LWW reduce, and quarantined
    events, from the snapshot summaries and the lineage table."""
    import pyarrow.dataset as ds

    rows_in = quarantined = 0
    for s in table.snapshots():
        if s.get("batch_id") is not None:
            summ = s.get("summary", {})
            rows_in += summ.get("offsets_applied", 0)
            quarantined += summ.get("rows_quarantined", 0)
    lineage = os.path.join(table.root, "_lineage")
    rows_out = 0
    if os.path.isdir(lineage):
        t = ds.dataset(lineage, format="parquet").to_table(
            columns=["offsets_applied"])
        rows_out = int(sum(v or 0 for v in t.column(0).to_pylist()))
    return {"reduce.rows_in": float(rows_in),
            "reduce.rows_out": float(rows_out),
            "reduce.keep_ratio": rows_out / rows_in if rows_in else 0.0,
            "merge.rows_quarantined": float(quarantined)}


def fold_counts(span, result, args, kwargs) -> None:
    """Bytes a minor fold read and wrote, from the fold commit's record
    of the layer dirs it consumed and produced (``compact_layers``
    returns that commit, or None when it folded nothing)."""
    table = args[1]
    if not result:
        return
    summ = result.get("summary", {})
    span.counts["bytes_read"] = float(sum(
        tree_bytes(os.path.join(table.root, d))
        for d in summ.get("folded_dirs", [])))
    span.counts["bytes_written"] = float(sum(
        tree_bytes(os.path.join(table.root, d))
        for d in summ.get("merged_dirs", [])))


class Sink:
    """Samples, operation accounting and layer counters of one run."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layers: dict[str, float] = defaultdict(float)
        self.attempted = 0
        self.failed = 0

    def attempt(self, what: str, fn, *args, **kwargs) -> tuple[bool, Any]:
        """Run one operation; an exception counts it as failed (traceback
        to stderr) instead of ending the run."""
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - every failure is counted and shown
            self.failed += 1
            print(f"[perfbench] operation failed: {what}", file=sys.stderr)
            traceback.print_exc()
            return False, None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] check failed: {what}", file=sys.stderr)


class Workload:
    """One workload bound to a Spark session, a fixture and a tracer."""

    name = ""
    scale: Scale

    def __init__(self, spark, work: str, seed: int, tracer,
                 small: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.small = small
        self.scale_used = self.warm_scale if small else self.scale
        self.rng = random.Random(seed * 7919 + len(self.name))
        self.unit_no = 0
        n = n_convs_of(self.scale_used)
        # hot keys cycle through the three most popular conversations in
        # a fixed order (under zipf their sizes differ several-fold, so a
        # seeded pick among them would dominate the spread between
        # seeds); cold keys are a seeded pick from the less popular half
        self.hot = itertools.cycle(f"{i:06d}" for i in range(3))
        self.cold = [f"{i:06d}" for i in range(n // 2, n)]
        self.retries = 0

    # --- set-up ---------------------------------------------------------

    expected: dict[int, Expected] | None = None

    def build(self) -> None:
        """Generate the inputs (the oracle comes later, see ``expect``)."""
        self.log = os.path.join(self.work, "log")
        self.events = generate_log(self.log, self.seed, self.scale_used)

    def expect(self) -> None:
        """Expected table state after every batch prefix of the log."""
        self.expected = prefix_states(self.spark, self.log)

    # --- serving --------------------------------------------------------

    def key(self, hot: bool) -> str:
        return next(self.hot) if hot else self.rng.choice(self.cold)

    def point_read(self, sink: Sink, table, hot: bool) -> None:
        from biomedica_etl_spark.cdc.xxhash import bucket_of

        conv = "conv-" + self.key(hot)
        bucket = bucket_of(conv, table.n_buckets)
        files = sum(len(glob.glob(os.path.join(d, "*.parquet")))
                    for d in snapshot_dirs(table, bucket))
        layers = layer_counts(table)
        sink.samples["point_read_files"].append(files)
        sink.samples["layers_max"].append(max(layers))
        sink.samples["layers_mean"].append(sum(layers) / len(layers))
        with self.tracer.span("table.point_read"):
            t0 = time.perf_counter()
            ok, _ = sink.attempt("read_conversation",
                                 lambda: table.read_conversation(
                                     self.spark, conv).collect())
            dt = time.perf_counter() - t0
        if ok:
            sink.samples["point_read_ms"].append(dt * 1000)

    def lookup(self, sink: Sink, index, hot: bool) -> None:
        token = "c" + self.key(hot)
        with self.tracer.span("index.lookup"):
            t0 = time.perf_counter()
            ok, _ = sink.attempt("TokenIndex.lookup",
                                 lambda: index.lookup(self.spark,
                                                      [token]).collect())
            dt = time.perf_counter() - t0
        if ok:
            sink.samples["index_lookup_ms"].append(dt * 1000)

    def scan(self, sink: Sink, table) -> None:
        with self.tracer.span("table.scan"):
            t0 = time.perf_counter()
            ok, _ = sink.attempt(
                "column-pruned scan",
                lambda: table.read(self.spark, columns=["role"])
                .groupBy("role").count().collect())
            dt = time.perf_counter() - t0
        if ok:
            sink.samples["scan_s"].append(dt)

    def serve_probe(self, sink: Sink, table, reads: int, lookups: int,
                    scans: int) -> None:
        """Reads against a finished table: bootstrap an index over it,
        then point reads (hot and cold keys), lookups and scans."""
        from biomedica_etl_spark.cdc.index import TokenIndex

        index = TokenIndex(os.path.join(self.work, "probe-index"),
                           n_shards=INDEX_SHARDS)
        ok, _ = sink.attempt("TokenIndex.refresh",
                             index.refresh, self.spark, table)
        if ok:
            head = table.current_snapshot()["snapshot_id"]
            sink.check(index.cursor() == head, "index cursor at table head")
        for i in range(reads):
            self.point_read(sink, table, hot=i % 3 == 0)
        for i in range(lookups):
            self.lookup(sink, index, hot=i % 3 == 0)
        for _ in range(scans):
            self.scan(sink, table)

    def expected_at(self, batch: int | None) -> Expected | None:
        """The oracle's state after ``batch`` (the whole log by default);
        None for the warm-up, which has no oracle."""
        if self.expected is None:
            return None
        return self.expected[max(self.expected) if batch is None else batch]

    def check_table(self, sink: Sink, table, batch: int | None = None
                    ) -> None:
        expected = self.expected_at(batch)
        if expected is None:
            return
        ok, got = sink.attempt("table digest",
                               stats.table_digest, table.read(self.spark))
        if ok:
            sink.check(got == (expected.rows, expected.digest),
                       f"{self.name}: table {got} != oracle "
                       f"{(expected.rows, expected.digest)}")

    def table_amps(self, sink: Sink, table, input_bytes: int,
                   batch: int | None = None) -> None:
        """Write amplification (every byte under the table root, so
        superseded layers and lineage count, over the input's bytes) and
        space amplification (bytes the current snapshot references over
        the live rows' logical bytes, from the oracle)."""
        expected = self.expected_at(batch)
        if expected is None:
            return
        sink.samples["write_amp"].append(
            tree_bytes(table.root) / max(input_bytes, 1))
        live = sum(tree_bytes(d) for d in snapshot_dirs(table))
        sink.samples["space_amp"].append(live / max(expected.payload_bytes, 1))

    def observe_pending(self, *_: Any) -> None:
        """Hook for the txn-split span; only the txn stream has state."""

    def warm_up(self) -> None:
        """One untimed pass over every path the measured loop takes, so
        first-use costs (JIT, code generation, Python workers) land in
        set-up."""
        raise NotImplementedError

    def run_unit(self, sink: Sink, traced: bool) -> bool:
        raise NotImplementedError

    def finish(self, sink: Sink) -> None:
        raise NotImplementedError


class TailServe(Workload):
    """Many small batches; each unit applies one batch with an in-loop
    token index, then serves point reads and index lookups. Column-pruned
    scans run after the loop."""

    name = "tail-serve"
    scale = Scale(events=60_000, batches=60)
    # enough samples that a run's medians settle: one cold read's latency
    # varies by about half its median within a run
    reads_per_step = 36
    lookups_per_step = 12
    scans = 8

    def build(self) -> None:
        from biomedica_etl_spark.cdc.index import TokenIndex
        from biomedica_etl_spark.cdc.runner import CdcRunner

        super().build()
        self.index = TokenIndex(os.path.join(self.work, "index"),
                                n_shards=INDEX_SHARDS)
        self.runner = CdcRunner(
            self.spark, self.log, os.path.join(self.work, "table"),
            **RUNNER_KW, maintain=[self.index], maintain_every=1)
        self.batch_dirs = {
            int(os.path.basename(d).split("=")[1]): d
            for d in glob.glob(os.path.join(self.log, "schema_id=*",
                                            "batch_id=*"))}
        self.applied: list[int] = []

    def warm_up(self) -> None:
        """Apply the first two batches to the measured table in one call
        (stage, commit, lineage, the first fold and the index bootstrap),
        then one point read, lookup and scan: every path the steps take
        runs once, and measured steps start past the empty-table
        transient where the first batch has nothing to fold."""
        sink = Sink()
        first = self.runner.pending()[:2]
        sink.attempt("warm-up apply", self.runner.run, max_batches=2)
        self.applied.extend(first)
        self.point_read(sink, self.runner.table, hot=True)
        self.lookup(sink, self.index, hot=True)
        self.scan(sink, self.runner.table)

    def run_unit(self, sink: Sink, traced: bool) -> bool:
        import pyarrow.parquet as pq

        pending = self.runner.pending()
        if not pending:
            return False
        bid = pending[0]
        events = sum(pq.ParquetFile(f).metadata.num_rows
                     for f in glob.glob(os.path.join(self.batch_dirs[bid],
                                                     "*.parquet")))
        table = self.runner.table
        t0 = time.time()
        with self.tracer.span("runner.run"):
            ok, _ = sink.attempt("CdcRunner.run(max_batches=1)",
                                 self.runner.run, max_batches=1)
        step = time.time() - t0
        if ok:
            self.applied.append(bid)
            sink.samples["batch_latency_s"].append(step)
            head = table.current_snapshot()["snapshot_id"]
            sink.check(self.index.cursor() == head,
                       "index cursor at table head after step")
        for i in range(self.reads_per_step):
            self.point_read(sink, table, hot=i % 3 == 0)
        for i in range(self.lookups_per_step):
            self.lookup(sink, self.index, hot=i % 3 == 0)
        sink.samples["units"].append((traced, events, time.time() - t0))
        self.unit_no += 1
        return True

    def finish(self, sink: Sink) -> None:
        table = self.runner.table
        self.retries += self.runner.commit_races_retried
        if not self.applied:
            return
        last = max(self.applied)
        self.check_table(sink, table, last)
        self.table_amps(sink, table, sum(tree_bytes(self.batch_dirs[b])
                                         for b in self.applied), last)
        sink.layers.update(reduce_counts(table))
        for _ in range(self.scans):
            self.scan(sink, table)


class DbzTxnStream(Workload):
    """Debezium NDJSON with transaction metadata, files cut across
    transactions, drained by the txn-aware streaming applier. Each unit
    drains every file into a fresh table and checkpoint; the last unit's
    table is kept for the finishing serve probe."""

    name = "dbz-txn-stream"
    # batch sizes (6003, 1004) are not multiples of the 25-event
    # transactions, so every file boundary tears a transaction
    scale = Scale(events=24_010, batches=4)
    warm_scale = Scale(events=3_010, batches=3)
    compact_every = 3
    # (point reads, lookups, scans) of the serve probe after the loop
    probe = (12, 9, 4)
    warm_probe = (1, 1, 1)
    pending_max = 0
    state_dir: str | None = None
    last_root: str | None = None
    last_table: Any = None

    def build(self) -> None:
        super().build()
        self.ndjson = os.path.join(self.work, "ndjson")
        render_ndjson(self.log, self.ndjson)

    def warm_up(self) -> None:
        """A drain and serve probe over a small rendering of another
        seed's log (three files, so the major compact fires once)."""
        warm = DbzTxnStream(self.spark, self.work + "-warm",
                            self.seed + 1_000_003, self.tracer, small=True)
        warm.build()
        sink = Sink()
        warm.run_unit(sink, traced=False)
        warm.finish(sink)
        shutil.rmtree(warm.work, ignore_errors=True)

    def observe_pending(self, *_: Any) -> None:
        """Rows in the newest published pending-transaction state."""
        import pyarrow.parquet as pq

        if self.state_dir is None or not os.path.isdir(self.state_dir):
            return
        done = sorted(d for d in os.listdir(self.state_dir)
                      if d.startswith("pending-") and "." not in d)
        if not done:
            return
        files = glob.glob(os.path.join(self.state_dir, done[-1], "*.parquet"))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        self.pending_max = max(self.pending_max, rows)

    def run_unit(self, sink: Sink, traced: bool) -> bool:
        from biomedica_etl_spark.cdc.table import CowTable
        from biomedica_etl_spark.streaming.stream_runner import (
            stream_apply_debezium)

        root = os.path.join(self.work, f"table-{self.unit_no}")
        self.state_dir = os.path.join(root, "_txn_pending")

        def drain():
            q = stream_apply_debezium(
                self.spark, self.ndjson, root,
                os.path.join(self.work, f"ckpt-{self.unit_no}"),
                n_buckets=N_BUCKETS, mode="mor",
                compact_every=self.compact_every,
                max_files_per_trigger=1, txn_aware=True)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.recentProgress

        with self.tracer.span("stream.drain"):
            t0 = time.time()
            ok, progress = sink.attempt("stream_apply_debezium", drain)
            wall = time.time() - t0
        self.unit_no += 1
        if not ok:
            return True
        if traced:
            self.observe_pending()
        triggers = [p for p in progress if p.numInputRows > 0]
        sink.attempted += max(len(triggers) - 1, 0)
        sink.samples["units"].append((traced, self.events, wall))
        for p in triggers:
            trig = p.durationMs.get("triggerExecution", 0) / 1000
            add = p.durationMs.get("addBatch", 0) / 1000
            sink.samples["batch_latency_s"].append(trig)
            if traced:
                sink.layers["stream.trigger_s"] += trig
                sink.layers["stream.add_batch_s"] += add
                sink.layers["stream.overhead_s"] += trig - add
        table = CowTable(root)
        self.check_table(sink, table)
        if self.last_root is not None:
            shutil.rmtree(self.last_root, ignore_errors=True)
        self.last_root, self.last_table = root, table
        return True

    def finish(self, sink: Sink) -> None:
        table = self.last_table
        if table is None:
            return
        self.table_amps(sink, table, tree_bytes(self.ndjson))
        sink.layers.update(reduce_counts(table))
        sink.layers["envelope.pending_rows_max"] = float(self.pending_max)
        self.serve_probe(sink, table,
                         *(self.warm_probe if self.small else self.probe))


def render_ndjson(log_dir: str, out_dir: str) -> None:
    """Render the log as Debezium NDJSON with transaction metadata, one
    file per log batch, with ``write_debezium_log(txn_events=25)``: the
    driver-side twin of ``envelopes_with_txn`` (every 25 consecutive
    events form a transaction; ``event_count`` on every data event). File
    boundaries ignore transactions, so transactions tear across files and
    the applier carries pending state between epochs. Files are
    time-stamped in LSN order so the stream reads them in it."""
    from biomedica_etl_spark.cdc.envelope import write_debezium_log

    write_debezium_log(log_dir, out_dir, txn_events=TXN_EVENTS)
    base = time.time() - 3600
    for i, f in enumerate(sorted(glob.glob(os.path.join(out_dir,
                                                        "*.ndjson")))):
        os.utime(f, (base + i, base + i))


WORKLOADS = {w.name: w for w in (TailServe, DbzTxnStream)}
