"""Expected table state after every batch prefix of a generated log.

The engine's own ``spark_replay`` gives the final state after batches
``<= k`` for one ``k``. A closed-loop workload stops after however many
batches fit in its time budget, so set-up computes the expected live-row
count and content digest for EVERY prefix in one job, with the same
semantics: per key, the max-LSN valid event among batches ``<= k`` wins,
and the key is live unless that event is a delete.

Plan: per (key, batch) take the max-LSN event; a running max over the
key's batches gives its winner after each batch where the key changed;
each change contributes ``(live, hash, bytes) - previous`` to its batch;
the per-batch sums, accumulated driver-side in batch order, are the
prefix states. One shuffle, O(events) work, O(batches) rows collected.
``tests/test_helpers.py`` pins the result to ``spark_replay`` digests.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from . import stats


@dataclass(frozen=True)
class Expected:
    rows: int
    digest: int
    payload_bytes: int


def log_events(spark, log_dir: str):
    """All events of a generated log, schema-aligned, with ``batch_id``."""
    from biomedica_etl_spark.cdc.schema import (
        CHANGE_COLS, SchemaRegistry, align_to_target)

    registry = SchemaRegistry()
    parts = []
    for epoch_dir in sorted(glob.glob(os.path.join(log_dir, "schema_id=*"))):
        schema_id = int(os.path.basename(epoch_dir).split("=")[1])
        df = spark.read.schema(registry.get(schema_id)).parquet(epoch_dir)
        parts.append(align_to_target(df).select(*CHANGE_COLS, "batch_id"))
    events = parts[0]
    for p in parts[1:]:
        events = events.unionByName(p)
    return events


def prefix_states(spark, log_dir: str) -> dict[int, Expected]:
    """Expected state after each batch id present in the log."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from biomedica_etl_spark.cdc.oracle import FINAL_COLS

    events = log_events(spark, log_dir)
    valid = F.coalesce(
        F.col("op").isin("I", "U", "D") & (F.col("turn_idx") >= 0)
        & F.col("conv_id").isNotNull() & F.col("lsn").isNotNull(),
        F.lit(False))
    ev = events.filter(valid).select(
        "conv_id", "turn_idx", "batch_id",
        F.struct(F.col("lsn"), F.col("op"), F.col("role"), F.col("text"),
                 F.col("tool"), F.col("ts")).alias("e"))
    per_batch = ev.groupBy("conv_id", "turn_idx", "batch_id").agg(
        F.max("e").alias("e"))
    key = Window.partitionBy("conv_id", "turn_idx").orderBy("batch_id")
    running = per_batch.withColumn(
        "w", F.max("e").over(key.rowsBetween(Window.unboundedPreceding, 0)))
    winner = running.select(
        "batch_id", F.col("w.op").alias("op"), "conv_id", "turn_idx",
        *[F.col(f"w.{c}").alias(c) for c in FINAL_COLS[2:]])
    live = F.col("op") != "D"
    contrib = winner.select(
        "conv_id", "turn_idx", "batch_id",
        F.when(live, 1).otherwise(0).cast("long").alias("n"),
        F.when(live, stats.row_hash()).otherwise(0)
        .cast("decimal(38,0)").alias("h"),
        F.when(live, stats.payload_bytes()).otherwise(0)
        .cast("long").alias("b"))
    deltas = contrib.select(
        "batch_id",
        *[(F.col(c) - F.coalesce(F.lag(c).over(key), F.lit(0))).alias(c)
          for c in ("n", "h", "b")])
    rows = deltas.groupBy("batch_id").agg(
        F.sum("n").alias("n"), F.sum("h").alias("h"),
        F.sum("b").alias("b")).collect()
    by_batch = {int(r["batch_id"]): r for r in rows}
    batch_ids = sorted(
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(os.path.join(log_dir, "schema_id=*", "batch_id=*")))
    out: dict[int, Expected] = {}
    n = h = b = 0
    for bid in batch_ids:
        r = by_batch.get(bid)
        if r is not None:
            n += int(r["n"])
            h += int(r["h"])
            b += int(r["b"])
        out[bid] = Expected(rows=n, digest=h, payload_bytes=b)
    return out
