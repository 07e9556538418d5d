"""Micro-batch apply loop: tail -> align schema -> LWW reduce -> MERGE -> commit.

The engine's driver loop — reference analogue is the per-batch SLURM job
chain (``scripts/03_download_batch_ftp.sh:36-60``) with diff-based resume.
Each iteration:

1. ``pending_batches`` (checkpoint anti-join) picks the next uncommitted
   micro-batch;
2. the batch is read with **partition pruning** — only its
   ``schema_id=K/batch_id=N`` directory is listed/scanned;
3. the epoch's physical schema is aligned to the target schema
   (schema evolution, metadata-only);
4. ``ApplyStep`` stages the batch (LWW reduce; MOR writes a delta layer,
   COW merges the affected buckets), commits one snapshot under the
   commit-retry policy, and runs the post-commit hooks: per-partition
   lineage, derived-table maintainers and the fold policy.

The streaming ``foreachBatch`` bodies and the envelope ingesters run the
same ``ApplyStep`` with their own fenced batch ids.

Crash anywhere before the snapshot rename leaves only an unreferenced
staging dir; restart re-derives pending work from the checkpoint and
re-applies — exactly-once by fencing, value-idempotent by max-LSN merge.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .checkpoint import pending_batches, planned_batches
from .lineage import append_lineage
from .merge import (
    compact,
    compact_layers,
    merge_batch,
    mor_commit_staged,
    mor_stage_batch,
)
from .schema import (
    CHANGE_COLS,
    SchemaRegistry,
    align_to_target,
    target_change_schema,
)
from .table import ConcurrentCommitError, CowTable


class _TrackedPool:
    """ThreadPoolExecutor wrapper that keeps every submitted future.

    ``ThreadPoolExecutor.shutdown(wait=True)`` does NOT re-raise task
    exceptions — an async lineage emit that crashed would be silently
    swallowed and its rows lost with no signal. The drain calls
    ``result()`` on each future so any failure surfaces to the caller."""

    def __init__(self, pool: Any) -> None:
        self.pool = pool
        self.futures: list[Any] = []

    def submit(self, fn: Any, *args: Any, **kwargs: Any) -> Any:
        fut = self.pool.submit(fn, *args, **kwargs)
        self.futures.append(fut)
        return fut

    def drain(self) -> None:
        self.pool.shutdown(wait=True)
        for fut in self.futures:
            fut.result()  # re-raises the first task exception
        self.futures.clear()


class _AsyncSlot:
    """One lazily-created maintenance thread holding at most one in-flight
    job — the async-compaction and derived-maintenance discipline shared:
    a busy slot means the caller skips and catches up on a later commit,
    so maintenance never queues behind itself. ``reap``/``drain`` clear
    the slot BEFORE re-raising a job failure, so a failed round surfaces
    exactly once instead of wedging every subsequent call on the same
    stale exception, and ``drain`` shuts the pool down so long-lived
    drivers don't leak one parked thread per runner."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.pool: Any = None
        self.future: Any = None

    @property
    def busy(self) -> bool:
        return self.future is not None

    def reap(self) -> bool:
        """Consume a FINISHED future (re-raising its failure after
        clearing the slot); True iff one was consumed. A still-running
        future is left in place."""
        if self.future is None or not self.future.done():
            return False
        fut, self.future = self.future, None
        fut.result()
        return True

    def submit(self, fn: Any, *args: Any) -> None:
        if self.pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self.pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix=self.name)
        self.future = self.pool.submit(fn, *args)

    def drain(self) -> None:
        """Block on the in-flight job (slot cleared before any re-raise),
        then stop the thread; the next submit re-creates it lazily."""
        try:
            if self.future is not None:
                fut, self.future = self.future, None
                fut.result()
        finally:
            if self.pool is not None:
                self.pool.shutdown(wait=True)
                self.pool = None


def read_batch(
    spark: SparkSession, log_dir: str, batch_id: int, schema_id: int,
    registry: SchemaRegistry,
) -> DataFrame:
    path = os.path.join(log_dir, f"schema_id={schema_id}", f"batch_id={batch_id}")
    df = spark.read.schema(registry.get(schema_id)).parquet(path)
    return align_to_target(df)


def read_log_events(
    spark: SparkSession, log_dir: str, registry: SchemaRegistry | None = None,
) -> DataFrame:
    """Every change event of a generated log as ONE schema-aligned frame
    (the epochs' int-width/added-column drift resolved by the registry +
    ``align_to_target``, which plain ``mergeSchema`` parquet reads refuse
    to merge). Batch fencing is deliberately absent — this is the bulk
    export/fixture read, not the exactly-once apply path."""
    from functools import reduce as _reduce

    registry = registry or SchemaRegistry()
    parts = []
    for sdir in sorted(os.listdir(log_dir)):
        if not sdir.startswith("schema_id="):
            continue
        sid = int(sdir.split("=", 1)[1])
        for bdir in sorted(os.listdir(os.path.join(log_dir, sdir))):
            if bdir.startswith("batch_id="):
                parts.append(read_batch(spark, log_dir,
                                        int(bdir.split("=", 1)[1]),
                                        sid, registry))
    if not parts:
        raise ValueError(f"no schema_id=*/batch_id=* dirs under {log_dir}")
    return _reduce(lambda a, b: a.unionByName(b), parts)


@dataclass
class RunResult:
    batches_applied: list[int] = field(default_factory=list)
    batches_skipped: list[int] = field(default_factory=list)
    # write-audit-publish: batches whose staged commit the audit gate
    # rejected; they were aborted, stay UNcommitted, and replay after
    # remediation (reason strings parallel the ids)
    batches_rejected: list[int] = field(default_factory=list)
    reject_reasons: list[str] = field(default_factory=list)
    rows_upserted: int = 0
    rows_deleted: int = 0


class ApplyStep:
    """The per-batch apply every ingest path runs: stage -> commit under
    ``_retry_commit`` -> post-commit hooks (lineage, a transactional
    path's pending publish, the maintainer cadence, the fold policy).
    ``CdcRunner`` drives it from the change-log checkpoint; the streaming
    ``foreachBatch`` bodies and the envelope ingesters drive it with
    their own fenced batch ids.

    mode='cow': read-optimized, each batch rewrites affected buckets.
    mode='mor': write-optimized (Iceberg-v2-style merge-on-read), each
    batch appends an O(delta) layer; a bucket's layers fold once it
    accumulates ``compact_every`` of them."""

    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        n_buckets: int = 16,
        salted: bool = False,
        n_salts: int = 8,
        mode: str = "cow",
        compact_every: int = 8,
        plan: str = "aligned",
        shuffle_salts: int = 4,
        async_lineage: bool = False,
        max_records_per_file: int = 0,
        audit: Any = None,
        commit_retries: int = 3,
        async_compact: bool = False,
        compact_mode: str = "major",
        fold_plan: str = "auto",
        fold_tier_bytes: int = 0,
        maintain: list[Any] | None = None,
        maintain_every: int = 1,
        async_maintain: bool = False,
    ) -> None:
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        self.spark = spark
        self.table = CowTable(table_root, n_buckets=n_buckets)
        self.table.create()
        self.salted = salted
        self.n_salts = n_salts
        self.mode = mode
        self.compact_every = compact_every
        self.plan = plan
        self.shuffle_salts = shuffle_salts
        # lineage is derived data (recomputable from committed layer files),
        # so its read-back/append may overlap the next batch's wide job;
        # run() drains the executor before returning
        self.async_lineage = async_lineage
        self._lineage_pool = None
        # write-audit-publish: audit(spark, table) -> bool | (bool, reason)
        # runs against table.read(spark, snapshot_id="staged") after each
        # batch's STAGED commit; True publishes (fencing engages then),
        # False aborts — the batch stays pending for remediation.
        self.audit = audit
        # optimistic-concurrency loser policy: on ConcurrentCommitError the
        # runner refresh()es its table handle and re-runs the commit (up to
        # this many times) instead of surfacing the race to the caller —
        # two runners feeding the same table from disjoint batch ranges
        # both make progress. Exactly-once is unchanged: after the refresh
        # the fencing check turns a same-batch replay into a no-op.
        self.commit_retries = commit_retries
        self.commit_races_retried = 0  # observability: races absorbed
        # async maintenance: compaction of at-threshold buckets runs on a
        # dedicated thread in the FAIR pool "maintenance", CONCURRENT with
        # the next batches' applies, through its OWN table handle — the
        # optimistic-concurrency commit (compact's metadata-only retry +
        # this runner's commit_retries) is the only coordination needed.
        # This is the lakehouse steady-state shape: ingest never stops for
        # maintenance; maintenance consumes capacity ingest leaves idle.
        self.async_compact = async_compact
        # threshold-fold strategy: 'major' folds layers INTO THE BASE
        # (O(bucket) rewrite — read-optimized end state), 'minor' folds
        # layers into ONE merged layer and never touches the base
        # (O(delta) — the 100 TB steady-state choice, where the base
        # dwarfs the deltas; run `compact` explicitly when a full fold is
        # wanted). Both honor the bounded-layer invariant: after a fold
        # the bucket is at 1 layer (minor) or 0 (major).
        if compact_mode not in ("major", "minor"):
            raise ValueError(
                f"compact_mode must be 'major' or 'minor', got {compact_mode!r}")
        if compact_mode == "minor" and compact_every < 2:
            # a minor fold leaves ONE merged layer, so a bucket can never
            # get below 1 — a threshold of 1 would re-fold forever
            raise ValueError("compact_mode='minor' requires compact_every >= 2")
        self.compact_mode = compact_mode
        # minor-fold physical plan: 'auto' (byte-routed local/shuffle),
        # 'local', or 'shuffle' — see merge.compact_layers. Validated here
        # so a typo fails at construction, not on the maintenance thread.
        if fold_plan not in ("auto", "local", "shuffle"):
            raise ValueError(
                f"fold_plan must be 'auto', 'local' or 'shuffle', "
                f"got {fold_plan!r}")
        self.fold_plan = fold_plan
        # size-tiered minor folds: >0 folds only layers at most this many
        # bytes (the fresh tier) so a grown merged layer is never re-read;
        # -1 self-tunes the tier from the freshest append's size at each
        # fold; total layer count is bounded by the collapse threshold
        # below. See merge.compact_layers(tier_max_bytes).
        self.fold_tier_bytes = fold_tier_bytes
        # read-amplification bound for tiered mode: a bucket whose TOTAL
        # layer count (large tier included) reaches 3x the fold threshold
        # gets a full fold even when its fresh tier is quiet
        self.fold_tier_collapse_at = 3 * compact_every
        self._maint_slot = _AsyncSlot("maintenance")
        self._maint_table: CowTable | None = None
        self.compactions_run = 0
        # derived-table maintenance riding the ingest loop: each entry is
        # a maintainer — an object with .refresh(spark, table) (TokenIndex,
        # HistoryTable, RollupTable) or a bare callable (spark, table) ->
        # Any (e.g. a JoinView closed over its second table). Refreshes
        # run after every ``maintain_every``-th applied batch, inline or
        # (async_maintain) on a dedicated thread in the FAIR "maintenance"
        # pool through its own table handle — the same
        # ingest-never-stops-for-maintenance shape as async compaction.
        # All refreshes for a runner execute on ONE thread at a time, so
        # the stores' single-writer discipline holds. run() drains and
        # finishes with a catch-up refresh, so after run() every
        # maintainer is at the table head.
        self.maintainers = list(maintain or [])
        if maintain_every < 1:
            raise ValueError(f"maintain_every must be >= 1, got {maintain_every}")
        self.maintain_every = maintain_every
        self.async_maintain = async_maintain
        self._derived_slot = _AsyncSlot("derived-maintain")
        self._derived_table: CowTable | None = None
        self._applies_since_maintain = 0
        self.maintenance_refreshes = 0  # observability: refresh rounds run
        # O7 shard sizing: cap rows per written data file (0 = uncapped)
        self.max_records_per_file = max_records_per_file
        self.lineage_dir = os.path.join(table_root, "_lineage")
        self.quarantine_dir = os.path.join(table_root, "_quarantine")

    @property
    def _plan_kw(self) -> dict[str, Any]:
        """The merge-plan options every stage, merge and DML call takes."""
        return dict(salted=self.salted, n_salts=self.n_salts, plan=self.plan,
                    shuffle_salts=self.shuffle_salts,
                    max_records_per_file=self.max_records_per_file)

    def _retry_commit(self, fn: Any) -> Any:
        """Run ``fn`` (a closure ending in a snapshot commit); on
        ``ConcurrentCommitError`` refresh the table handle and re-run,
        bounded by ``commit_retries``. COW retries re-PLAN against the new
        current snapshot (the old plan's bucket reads are stale); MOR
        commit-only retries are metadata-only since a staged delta layer is
        parent-independent. Both apply paths begin with an is_committed
        fence, so a batch the winning writer already applied replays as a
        no-op rather than double-committing."""
        for attempt in range(self.commit_retries + 1):
            try:
                return fn()
            except ConcurrentCommitError:
                if attempt == self.commit_retries:
                    raise
                self.commit_races_retried += 1
                self.table.refresh()

    # --- the apply step ----------------------------------------------------

    def stage(self, batch_id: int, changes: DataFrame) -> Any:
        """Spark-side half of an apply. MOR writes the LWW-reduced delta
        layer to an uncommitted dir (None when the batch is already
        committed): the layer is parent-independent, so it may be staged
        ahead of earlier batches' commits, and a lost commit race retries
        the metadata only. COW has no such half — its merge reads the
        affected buckets as of the commit — so the changes pass through
        to ``commit`` unchanged."""
        if self.mode == "cow":
            return changes
        return mor_stage_batch(self.spark, self.table, changes, batch_id,
                               quarantine_dir=self.quarantine_dir,
                               **self._plan_kw)

    def _commit(self, batch_id: int, staged: Any,
                wap: bool) -> dict[str, Any] | None:
        """Commit a staged batch under ``_retry_commit`` (staged for audit
        when ``wap``); None when it was already committed."""
        if staged is None:
            return None
        if self.mode == "cow":
            return self._retry_commit(lambda: merge_batch(
                self.spark, self.table, staged, batch_id,
                lineage_dir=self.lineage_dir,
                lineage_executor=self._lineage_pool,
                quarantine_dir=self.quarantine_dir, wap=wap, **self._plan_kw))
        return self._retry_commit(lambda: mor_commit_staged(
            self.spark, self.table, staged, lineage_dir=self.lineage_dir,
            lineage_executor=self._lineage_pool, wap=wap))

    def commit(self, batch_id: int, staged: Any, result: RunResult,
               publish: Any = None) -> dict[str, Any] | None:
        """Commit head of one batch: the commit (through the audit gate
        when one is set), then the hooks — ``publish`` (run even after a
        fenced no-op, so a replay re-publishes), the fold policy and the
        maintainers. An inline fold runs before the maintainers, which so
        see the folded table; an async fold is submitted after them, so
        it never runs alongside this batch's maintainer refresh. Returns
        the snapshot, or None when the batch was already committed or the
        audit rejected it."""
        snap = self._commit(batch_id, staged, wap=self.audit is not None)
        if snap is not None and self.audit is not None:
            snap = self._audit_publish(batch_id, snap, result)
            if snap is None:
                return None  # rejected: stays pending for remediation
        if publish is not None:
            publish()
        if self.mode == "mor" and not self.async_compact:
            self._maybe_compact()
        if snap is None:
            result.batches_skipped.append(batch_id)
        else:
            result.batches_applied.append(batch_id)
            result.rows_upserted += snap["summary"].get("rows_upserted", 0)
            result.rows_deleted += snap["summary"].get("rows_deleted", 0)
            self._maybe_maintain()
        if self.mode == "mor" and self.async_compact:
            self._maybe_compact()
        return snap

    def apply(self, batch_id: int, changes: DataFrame,
              publish: Any = None) -> dict[str, Any] | None:
        """Stage and commit one batch on the caller's thread."""
        return self.commit(batch_id, self.stage(batch_id, changes),
                           RunResult(), publish)

    def _audit_publish(self, batch_id: int, snap: dict[str, Any],
                       result: RunResult) -> dict[str, Any] | None:
        """Write-audit-publish gate over a STAGED commit: a pass publishes
        it and emits its deferred lineage; a fail aborts it (None)."""
        verdict = self.audit(self.spark, self.table)
        ok, reason = (verdict if isinstance(verdict, tuple)
                      else (bool(verdict), ""))
        if not ok:
            self.table.abort_staged()
            result.batches_rejected.append(batch_id)
            result.reject_reasons.append(reason)
            return None
        # NOT retried on ConcurrentCommitError: a staged snapshot froze its
        # parent + carried-forward dirs at stage time, so re-publishing
        # after another writer's commit would drop that writer's buckets
        # (lost update). Audit-gated ingest is single-writer by contract —
        # surface the race instead.
        pub = self.table.publish_staged()
        rows = snap.get("_lineage_rows")
        if rows:
            if self._lineage_pool is not None:
                self._lineage_pool.submit(
                    append_lineage, self.lineage_dir, rows,
                    snapshot_id=pub["snapshot_id"])
            else:
                append_lineage(self.lineage_dir, rows,
                               snapshot_id=pub["snapshot_id"])
        return pub

    # --- fold policy --------------------------------------------------------

    def _run_fold(self, table: CowTable, buckets: list[int]) -> None:
        """One threshold fold under the configured strategy. ``compact``
        folds into the base (O(bucket rows)); ``compact_layers`` merges
        the layers only (O(delta rows)) — base bytes never read."""
        if self.compact_mode == "minor":
            return compact_layers(
                self.spark, table,
                shuffle_salts=self.shuffle_salts,
                max_records_per_file=self.max_records_per_file,
                buckets=buckets, plan=self.fold_plan,
                tier_max_bytes=self.fold_tier_bytes,
                tier_collapse_at=(self.fold_tier_collapse_at
                                  if self.fold_tier_bytes else 0))
        else:
            return compact(self.spark, table,
                           shuffle_salts=self.shuffle_salts,
                           max_records_per_file=self.max_records_per_file,
                           buckets=buckets)

    def _maybe_compact(self) -> None:
        """Fold at-threshold buckets: inline (blocking the apply loop) by
        default, or on the maintenance thread when ``async_compact``."""
        if self.async_compact and self._maint_slot.reap():
            # a fold landed through the maintenance handle: refresh the
            # apply loop's view so threshold checks see the dropped layers
            # (otherwise every subsequent commit re-submits redundant
            # folds for buckets that are already clean)
            self.table.refresh()
        if not self.async_compact:
            self._fold_at_threshold()
            return
        buckets = self._buckets_at_threshold()
        if not buckets or self._maint_slot.busy:
            return  # one maintenance job at a time; catch up next commit
        self._maint_slot.submit(self._compact_async, buckets)

    def _fold_at_threshold(self) -> None:
        """Fold the at-threshold buckets inline on the caller's thread."""
        buckets = self._buckets_at_threshold()
        if buckets and self._retry_commit(
                lambda: self._run_fold(self.table, buckets)) is not None:
            self.compactions_run += 1

    def _compact_async(self, buckets: list[int]) -> None:
        # own handle: CowTable caches are not thread-safe, and the apply
        # loop's handle must keep planning against ITS view (the commit CAS
        # + commit_retries reconcile the two views, in either direction)
        if self._maint_table is None:
            self._maint_table = CowTable(self.table.root)
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "maintenance")
        self._maint_table.refresh()
        if self._run_fold(self._maint_table, buckets) is not None:
            self.compactions_run += 1

    def drain_maintenance(self) -> None:
        """Block until the in-flight async compaction (if any) lands, then
        fold any buckets still at threshold (layers that accrued while the
        last fold was in flight) so the end state honors the bounded-layer
        invariant the threshold promises."""
        busy = self._maint_slot.busy
        self._maint_slot.drain()  # also stops an idle thread, if created
        if busy:
            self.table.refresh()
            self._fold_at_threshold()

    # --- derived-table maintenance ---------------------------------------

    def _refresh_maintainers(self, table: CowTable) -> None:
        for m in self.maintainers:
            fn = m.refresh if hasattr(m, "refresh") else m
            fn(self.spark, table)
        self.maintenance_refreshes += 1

    def _maybe_maintain(self) -> None:
        """Refresh the registered maintainers every ``maintain_every``-th
        applied batch: inline (blocking the apply loop) by default, or on
        the derived-maintenance thread when ``async_maintain`` — in which
        case a still-running refresh is simply allowed to finish (the
        next applied batch re-checks), so refreshes never queue up behind
        each other and freshness degrades gracefully under load instead
        of stalling ingest."""
        if not self.maintainers:
            return
        self._applies_since_maintain += 1
        if self._applies_since_maintain < self.maintain_every:
            return
        if not self.async_maintain:
            self._refresh_maintainers(self.table)
            self._applies_since_maintain = 0
            return
        self._derived_slot.reap()  # surface a failed round exactly once
        if self._derived_slot.busy:
            return  # refresh in flight; catch up on a later commit
        self._applies_since_maintain = 0
        self._derived_slot.submit(self._maintain_async)

    def _maintain_async(self) -> None:
        # own handle (CowTable caches are not thread-safe); refreshed so
        # the maintainers see every commit up to the moment the thread
        # runs — each store pins its own target snapshot internally
        if self._derived_table is None:
            self._derived_table = CowTable(self.table.root)
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "maintenance")
        self._derived_table.refresh()
        self._refresh_maintainers(self._derived_table)

    def drain_derived(self) -> None:
        """Block until the in-flight async refresh (if any) lands, then
        run one catch-up refresh on the caller's thread so every
        maintainer ends at the table head (a no-op per store whose cursor
        is already there)."""
        self._derived_slot.drain()
        if self.maintainers:
            self._refresh_maintainers(self.table)
            self._applies_since_maintain = 0

    def _buckets_at_threshold(self) -> list[int]:
        """Partial-compaction target set: only buckets whose layer count
        reached compact_every are rewritten; cold buckets keep their (few)
        layers and pay nothing — the bin-pack maintenance discipline."""
        snap = self.table.current_snapshot() or {}
        return sorted(
            int(b) for b, ds in snap.get("delta_dirs", {}).items()
            if len(ds) >= self.compact_every
        )


class CdcRunner(ApplyStep):
    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        table_root: str,
        n_buckets: int = 16,
        pipeline_depth: int = 1,
        **options: Any,
    ) -> None:
        """Tails the change log under ``log_dir`` through the apply step;
        ``options`` are ``ApplyStep``'s (mode, fold policy, maintainers,
        audit, ...).

        ``pipeline_depth`` > 1 (MOR only) overlaps micro-batches the way a
        streaming engine does: up to that many batches' wide Spark jobs are
        in flight at once (distinct MOR layers are write-independent), while
        snapshot COMMITS stay strictly in batch order — so exactly-once
        fencing and the checkpoint contract are unchanged. This fills the
        scheduler gaps between jobs (driver-side planning, commit fsyncs)
        with the next batch's executor work."""
        if pipeline_depth > 1 and options.get("mode", "cow") != "mor":
            raise ValueError("pipeline_depth > 1 requires mode='mor' "
                             "(COW batches read the previous batch's output)")
        # an audit gate serializes commits by construction, so it is
        # incompatible with pipelined staging
        if options.get("audit") is not None and pipeline_depth > 1:
            raise ValueError("audit gating requires pipeline_depth=1 "
                             "(publish/abort must interleave with commits)")
        super().__init__(spark, table_root, n_buckets, **options)
        self.log_dir = log_dir
        self.pipeline_depth = pipeline_depth
        self.registry = SchemaRegistry()

    def pending(self) -> list[int]:
        return pending_batches(self.spark, self.log_dir, self.table)

    def run(self, max_batches: int | None = None) -> RunResult:
        if self.async_lineage and self._lineage_pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._lineage_pool = _TrackedPool(ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="lineage"
            ))
        schema_of = dict(planned_batches(self.log_dir))
        result = RunResult()
        self._run_pipelined(schema_of, result, max_batches)
        self.drain_maintenance()
        self.drain_derived()
        if self._lineage_pool is not None:
            self._lineage_pool.drain()
            self._lineage_pool = None
        return result

    def _run_pipelined(
        self, schema_of: dict[int, int], result: RunResult,
        max_batches: int | None,
    ) -> None:
        """The batch loop, with up to ``pipeline_depth`` batches staged
        ahead of the commit head. At depth 1 staging runs inline on this
        thread. Deeper, staging (read -> align -> reduce -> layer write)
        fans out on a thread pool — Spark job submission is thread-safe
        and the staged layers land in distinct uncommitted dirs — while
        this thread commits strictly in batch order, preserving the
        snapshot chain. ``max_batches`` caps applied plus in-flight
        batches, so a batch that is skipped or rejected does not count."""
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        pool = (ThreadPoolExecutor(max_workers=self.pipeline_depth,
                                   thread_name_prefix="mor-stage")
                if self.pipeline_depth > 1 else None)

        def _stage(batch_id: int) -> Any:
            if pool is not None:
                # one scheduler pool per pipeline slot: with FAIR mode (set
                # in session.py) the in-flight batches' jobs share executor
                # slots instead of queueing FIFO — batch k+1's map stage
                # runs inside batch k's reduce stragglers and commit gaps
                self.spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool",
                    f"stage-{batch_id % self.pipeline_depth}")
            changes = read_batch(self.spark, self.log_dir, batch_id,
                                 schema_of[batch_id], self.registry)
            return self.stage(batch_id, changes)

        def _commit_head() -> None:
            batch_id, staged = window.popleft()
            # staged() re-raises staging failures in batch order
            self.commit(batch_id, staged(), result)

        window: deque = deque()
        try:
            for batch_id in self.pending():
                if (max_batches is not None and len(result.batches_applied)
                        + len(window) >= max_batches):
                    break
                if pool is None:
                    staged = _stage(batch_id)
                    window.append((batch_id, lambda s=staged: s))
                else:
                    window.append((batch_id,
                                   pool.submit(_stage, batch_id).result))
                if len(window) >= self.pipeline_depth:
                    _commit_head()
            while window:
                _commit_head()
        finally:
            if pool is not None:
                pool.shutdown(wait=True)

    def read_quarantine(self, batch_id: int | None = None) -> DataFrame:
        """Quarantined (invalid) raw events, with the ``batch_id`` they
        arrived in — the read half of the reference's error-log -> fix ->
        retry loop (``scripts/05c_remaining_json.py:31-66``; error CSVs at
        ``src/pmc_oa/download_batch.py:123-139``). Rows are in the aligned
        target change schema exactly as they failed the validity gate."""
        import glob

        pattern = (f"batch_id={batch_id}" if batch_id is not None
                   else "batch_id=*")
        dirs = sorted(glob.glob(os.path.join(self.quarantine_dir, pattern)))
        if not dirs:
            schema = target_change_schema().add("batch_id", "long")
            return self.spark.createDataFrame([], schema)
        return self.spark.read.option(
            "basePath", self.quarantine_dir
        ).parquet(*dirs)

    def reinject(self, fixed: DataFrame, batch_id: int) -> None:
        """Re-inject repaired events as a NEW change-log micro-batch at the
        newest schema epoch. The normal pending -> apply loop then picks it
        up under the full exactly-once contract — no side door into the
        table. Callers assign FRESH lsns (above the applied watermark) so
        the repaired values win LWW; the quarantined batch's original id
        stays committed and can never replay. Refuses ids already planned
        or committed (a re-fix cycle uses a new id each time, the
        file-roll discipline of ``src/pmc_oa/build_json.py:125-157``)."""
        planned = {b for b, _ in planned_batches(self.log_dir)}
        if batch_id in planned or self.table.is_committed(batch_id):
            raise ValueError(
                f"batch_id {batch_id} already planned or committed — "
                "re-injection needs a fresh batch id"
            )
        epoch = self.registry.max_epoch
        out = os.path.join(
            self.log_dir, f"schema_id={epoch}", f"batch_id={batch_id}"
        )
        if os.path.exists(out):
            raise ValueError(f"log dir for batch_id {batch_id} already exists")
        # stage + atomic rename: a crash mid-write must never leave a
        # partial batch dir that planned_batches would pick up and apply
        stage = out + ".stage"
        align_to_target(fixed).select(*CHANGE_COLS).write.mode(
            "overwrite"
        ).parquet(stage)
        os.rename(stage, out)

    def read_lineage(self) -> DataFrame:
        """The per-(batch, bucket) metrics table — reconciles against
        snapshot summaries (tests pin sum-vs-delta equality)."""
        from .lineage import read_lineage

        return read_lineage(self.spark, self.lineage_dir)

    def reconcile_lineage(self) -> dict[str, Any]:
        """Backfill lineage rows lost to a crash between a snapshot commit
        and its lineage append — see ``lineage.reconcile_lineage``."""
        from .lineage import reconcile_lineage

        return reconcile_lineage(self.spark, self.table, self.lineage_dir)

    def _dml(self, fn: Any, *args: Any, **kwargs: Any) -> Any:
        """Run a ``merge`` DML planner against this runner's table with
        its mode, lineage and merge plan, under ``_retry_commit``."""
        return self._retry_commit(lambda: fn(
            self.spark, self.table, *args, mode=self.mode,
            lineage_dir=self.lineage_dir, **self._plan_kw, **kwargs))

    def delete_where(self, predicate: Any,
                     batch_id: int | None = None) -> dict[str, Any] | None:
        """Predicate delete against this runner's table, riding the runner's
        configured merge plan and lineage — see ``merge.delete_where``.
        MOR runners append an O(matched) tombstone layer (change-feed
        visible); COW runners rewrite the affected buckets (the physical-
        erase half, completed by ``expire_snapshots`` + orphan GC)."""
        from .merge import delete_where

        return self._dml(delete_where, predicate, batch_id=batch_id)

    def update_where(self, predicate: Any, assignments: dict[str, Any],
                     batch_id: int | None = None) -> dict[str, Any] | None:
        """Predicate update against this runner's table, riding the runner's
        configured merge plan and lineage — see ``merge.update_where``."""
        from .merge import update_where

        return self._dml(update_where, predicate, assignments,
                         batch_id=batch_id)

    def merge_into(self, source: DataFrame,
                   matched_update: dict[str, Any] | str | None = "source",
                   matched_update_condition: Any | None = None,
                   matched_delete_condition: Any | None = None,
                   insert_unmatched: bool = True,
                   insert_condition: Any | None = None,
                   batch_id: int | None = None,
                   prune_buckets: bool = True) -> dict[str, Any] | None:
        """MERGE INTO this runner's table from a source DataFrame, riding
        the runner's configured merge plan and lineage — see
        ``merge.merge_into`` for the clause semantics and the bucket-pruned
        join plan."""
        from .merge import merge_into

        return self._dml(
            merge_into, source, matched_update=matched_update,
            matched_update_condition=matched_update_condition,
            matched_delete_condition=matched_delete_condition,
            insert_unmatched=insert_unmatched,
            insert_condition=insert_condition, batch_id=batch_id,
            prune_buckets=prune_buckets)

    def stage_next_batch(self) -> dict[str, Any] | None:
        """Stage (write-audit-publish) the next pending log batch WITHOUT
        publishing it — the participant half of a multi-table transaction
        (``cdc/txn.py``): stage on every participant runner, then
        ``TransactionCoordinator.commit_all`` publishes all-or-nothing.
        Data is fully written (the ordinary O(delta) merge plan); readers,
        fencing, and the snapshot chain see nothing until publication.
        Returns the staged snapshot dict, or None when nothing is pending.
        Lineage is deferred by the WAP contract — after the transaction
        commits, ``reconcile_lineage()`` backfills it exactly."""
        pend = self.pending()
        if not pend:
            return None
        batch_id = pend[0]
        schema_of = dict(planned_batches(self.log_dir))
        changes = read_batch(self.spark, self.log_dir, batch_id,
                             schema_of[batch_id], self.registry)
        return self._commit(batch_id, self.stage(batch_id, changes), wap=True)

    def final_state(self) -> DataFrame:
        """Live table ordered by the pass-gate stable ordering."""
        return self.table.read(self.spark).orderBy("conv_id", "turn_idx")

    def summary(self) -> dict[str, Any]:
        snaps = self.table.snapshots()
        out = {
            "snapshots": len(snaps),
            "committed_batches": sorted(self.table.committed_batch_ids()),
        }
        if self.maintainers:
            out["maintenance_refreshes"] = self.maintenance_refreshes
        return out
