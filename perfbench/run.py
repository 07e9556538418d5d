"""CDC engine benchmark: one seeded workload per invocation.

Usage (from the repository root)::

    python3 perfbench/run.py --workload bulk-ingest --seed 1 --seconds 10 --trace 0

Set-up builds the inputs from ``--seed``, computes the oracle's expected
table state, starts Spark ``local[<cpus>]`` and runs one untimed warm-up.
The measured loop then runs workload units for ``--seconds``. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
alternates untraced and traced units for twice as long and reports the
per-layer metrics of the traced ones. Every unit's table is checked
against the oracle. Human-readable lines go first; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.

Exits with code 2, printing no result, when the engine package is not
next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def box_env(work: str) -> dict[str, str]:
    """Spark sizing and scratch locations for this machine, all inside the
    checkout: every core the process may use, a driver heap of a tenth of
    RAM (1-4 GiB), scratch and temp dirs under ``work``, and the checkout
    on ``PYTHONPATH`` so Python workers can import the engine."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f
                          if line.startswith("MemTotal")).split()[1])
    heap_mb = min(4096, max(1024, mem_kb // (10 * 1024)))
    path = os.environ.get("PYTHONPATH", "")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
    }


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) ticks of the whole machine since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def tick_pct(ticks: int, seconds: float) -> float:
    """Ticks as a percentage of all CPUs' time over ``seconds``."""
    hz = os.sysconf("SC_CLK_TCK")
    return 100.0 * ticks / max(seconds * hz * (os.cpu_count() or 1), 1e-9)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits once its stdin,
    our end of the gateway pipe, closes)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


SPAN_LAYERS = [
    "runner.run", "runner.read_batch", "merge.stage", "merge.commit",
    "lineage.readback", "merge.fold", "merge.apply", "merge.compact",
    "envelope.txn_split", "index.refresh", "index.lookup",
    "table.point_read", "table.scan", "stream.drain",
]
# spans that can have child spans; the others' self time equals their
# busy time, so it is not reported
PARENT_LAYERS = ("runner.run", "merge.commit", "merge.apply", "stream.drain")


def install_spans(tracer, wl) -> None:
    """Wrap the engine's layer entry points. Modules that imported a
    function by name hold their own reference, so each is wrapped where
    its callers look it up."""
    from biomedica_etl_spark.cdc import envelope, index, merge, runner
    from biomedica_etl_spark.streaming import stream_runner

    from perfbench.workloads import fold_counts

    tracer.wrap(runner, "read_batch", "runner.read_batch")
    for mod in (merge, runner):
        tracer.wrap(mod, "mor_stage_batch", "merge.stage")
        tracer.wrap(mod, "mor_commit_staged", "merge.commit")
    for mod in (merge, runner, stream_runner):
        tracer.wrap(mod, "compact", "merge.compact")
    for mod in (merge, stream_runner):
        tracer.wrap(mod, "mor_apply_batch", "merge.apply")
    tracer.wrap(merge, "_layer_bucket_metrics", "lineage.readback")
    tracer.wrap(runner, "compact_layers", "merge.fold", count=fold_counts)
    tracer.wrap(envelope, "txn_split", "envelope.txn_split",
                count=lambda *_: wl.observe_pending())
    tracer.wrap(index.TokenIndex, "refresh", "index.refresh")


def unit_eps(units, traced: bool) -> float | None:
    vals = [ev / wall for t, ev, wall in units if t == traced and wall > 0]
    return statistics.median(vals) if vals else None


def end_to_end(sink, setup_s: float, rss_mb: float) -> dict[str, tuple]:
    """Metric name -> (value, unit, summary or None)."""
    from perfbench import stats

    s = sink.samples
    out: dict[str, tuple] = {}

    def timing(name, key, unit, p=50.0):
        vals = s.get(key, [])
        if vals:
            out[name] = (stats.percentile(vals, p), unit,
                         stats.summarize(vals))

    eps = [ev / wall for t, ev, wall in s.get("units", []) if wall > 0]
    if eps:
        out["events_per_s"] = (statistics.median(eps), "1/s",
                               stats.summarize(eps))
    timing("batch_latency_p50_s", "batch_latency_s", "s")
    timing("point_read_p50_ms", "point_read_ms", "ms")
    timing("point_read_p90_ms", "point_read_ms", "ms", p=90.0)
    timing("index_lookup_p50_ms", "index_lookup_ms", "ms")
    timing("scan_s", "scan_s", "s")
    for name in ("write_amp", "space_amp"):
        if s.get(name):
            out[name] = (s[name][-1], "ratio", None)
    out["peak_rss_mb"] = (rss_mb, "MB", None)
    out["setup_s"] = (setup_s, "s", None)
    return out


def per_layer(sink, wl, tracer, steal: float) -> dict[str, tuple]:
    from perfbench.spans import layer_summary

    summary = layer_summary(tracer.spans)
    out: dict[str, tuple] = {}
    for name in SPAN_LAYERS:
        row = summary.get(name, {})
        out[f"{name}_s"] = (row.get("busy_s", 0.0), "s", None)
        if name in PARENT_LAYERS:
            out[f"{name}_self_s"] = (row.get("self_s", 0.0), "s", None)
        out[f"{name}_calls"] = (row.get("calls", 0.0), "count", None)
    fold = summary.get("merge.fold", {})
    out["merge.fold_bytes_read"] = (fold.get("bytes_read", 0.0), "bytes", None)
    out["merge.fold_bytes_written"] = (fold.get("bytes_written", 0.0),
                                       "bytes", None)
    out["runner.commit_retries"] = (float(wl.retries), "count", None)
    s = sink.samples
    out["table.layers_max"] = (max(s.get("layers_max", [0])), "count", None)
    out["table.layers_mean"] = (statistics.mean(s.get("layers_mean", [0])),
                                "count", None)
    out["table.point_read_files"] = (
        statistics.mean(s.get("point_read_files", [0])), "count", None)
    for name in ("reduce.rows_in", "reduce.rows_out", "merge.rows_quarantined",
                 "stream.trigger_s", "stream.add_batch_s", "stream.overhead_s",
                 "envelope.pending_rows_max"):
        unit = "s" if name.endswith("_s") else "count"
        out[name] = (sink.layers.get(name, 0.0), unit, None)
    out["reduce.keep_ratio"] = (sink.layers.get("reduce.keep_ratio", 0.0),
                                "ratio", None)
    out["host.steal_pct"] = (steal, "%", None)
    plain, traced = (unit_eps(s.get("units", []), t) for t in (False, True))
    overhead = 1.0 - traced / plain if plain and traced else 0.0
    out["tracing.overhead_frac"] = (overhead, "ratio", None)
    return out


def report(metrics: dict[str, tuple], sink, extra: dict[str, object]) -> None:
    for name, (value, unit, summ) in metrics.items():
        line = f"{name:34s} {value:14.6g} {unit}"
        if summ is not None:
            line += (f"   median={summ['median']:.6g} q1={summ['q1']:.6g} "
                     f"q3={summ['q3']:.6g} p{summ['tail_p']:g}="
                     f"{summ['tail']:.6g} n={summ['n']}")
        print(line)
    frac = sink.failed / sink.attempted if sink.attempted else 1.0
    print(f"{'failed_frac':34s} {frac:14.6g} ratio   "
          f"failed={sink.failed} attempted={sink.attempted}")
    for k, v in extra.items():
        print(f"# {k}: {v}")
    print(json.dumps({
        "correct": sink.failed == 0 and sink.attempted > 0,
        "attempted": sink.attempted,
        "failed": sink.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _) in metrics.items()},
    }))


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "biomedica_etl_spark")):
        print(f"perfbench: engine package biomedica_etl_spark not found "
              f"in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Sink

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out_dir, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = box_env(work)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)

    from biomedica_etl_spark.session import get_spark

    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    try:
        spark.sparkContext.setLogLevel("ERROR")
        phase("spark_start")
        cls = WORKLOADS[args.workload]
        tracer = Tracer()
        wl = cls(spark, os.path.join(work, "main"), args.seed, tracer)
        wl.build()
        phase("fixture")
        wl.warm_up()
        phase("warm_up")
        wl.expect()
        phase("oracle")
        setup_s = time.perf_counter() - t_start
        if args.trace:
            install_spans(tracer, wl)

        sink = Sink()
        budget = args.seconds * (2 if args.trace else 1)
        c0, t0 = cpu_ticks(), time.perf_counter()
        while True:
            traced = bool(args.trace) and wl.unit_no % 2 == 1
            tracer.enabled, tracer.unit = traced, wl.unit_no
            more = wl.run_unit(sink, traced)
            done = time.perf_counter() - t0 >= budget
            if not more or (done and (not args.trace or wl.unit_no >= 2)):
                break
        c1, measured = cpu_ticks(), time.perf_counter() - t0
        busy = tick_pct(c1[0] - c0[0], measured)
        steal = tick_pct(c1[1] - c0[1], measured)
        tracer.enabled = bool(args.trace)
        wl.finish(sink)
        tracer.enabled = False
        tracer.restore()
        rss = jvm_peak_rss_mb(spark)
        if args.trace:
            metrics = per_layer(sink, wl, tracer, steal)
            spans_dir = os.path.join(out_dir, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.dump(os.path.join(
                spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = end_to_end(sink, setup_s, rss)
        latencies = sink.samples.get("batch_latency_s", [])
        extra = {"setup_phases_s": phases, "units": wl.unit_no,
                 "latency_samples_s": [round(v, 3) for v in latencies],
                 "steal_pct": round(steal, 2), "busy_pct": round(busy, 2),
                 "measured_s": round(measured, 2),
                 "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS",
                                             "SPARK_GRAFT_DRIVER_MEM",
                                             "SPARK_LOCAL_DIRS")}}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    report(metrics, sink, extra)
    return 0


if __name__ == "__main__":
    sys.exit(main())
