"""Debezium envelope interop: parse / emit / ingest / DLQ / quarantine.

The wire-format leg of the CDC story: the engine must ingest the industry
envelope shape (Debezium ``{before, after, source.lsn, op}`` NDJSON) with
the same exactly-once / LWW / quarantine contracts as the parquet tail,
and emit its own change feed in that shape losslessly.
"""

from __future__ import annotations

import json
import os

import pytest

from biomedica_etl_spark.cdc import envelope as E
from biomedica_etl_spark.cdc.generator import GeneratorConfig, generate_change_log
from biomedica_etl_spark.cdc.merge import mor_apply_batch
from biomedica_etl_spark.cdc.oracle import replay
from biomedica_etl_spark.cdc.runner import CdcRunner
from biomedica_etl_spark.cdc.table import CowTable


@pytest.fixture(scope="module")
def dbz_env(spark, tmp_path_factory):
    """One generated log + its envelope NDJSON twin, shared by the tests."""
    work = tmp_path_factory.mktemp("dbz")
    log = str(work / "log")
    generate_change_log(log, GeneratorConfig(
        n_events=3_000, batch_size=600, n_convs=40, zipf_a=1.0,
        duplicate_frac=0.02, out_of_order=True))
    ndj = str(work / "ndjson")
    n_lines = E.write_debezium_log(log, ndj)
    return {"work": str(work), "log": log, "ndjson": ndj, "n_lines": n_lines}


def _live_rows(spark, table):
    return [r.asDict() for r in
            table.read(spark).orderBy("conv_id", "turn_idx").collect()]


def test_ingest_matches_replay_oracle(spark, dbz_env):
    """Envelope-transport ingest ends at the same state as the parquet
    tail: the JSON leg (write -> from_json parse -> merge) loses nothing,
    including the schema-evolution epochs (epoch-0 lines lack the 'tool'
    key entirely; the widened turn_idx arrives as a JSON number)."""
    table = E.ingest_debezium(spark, dbz_env["ndjson"],
                              os.path.join(dbz_env["work"], "t1"),
                              n_buckets=4)
    actual = _live_rows(spark, table)
    expected = replay(dbz_env["log"])
    assert len(actual) == len(expected)
    for a, e in zip(actual, expected):
        assert a == e
    # the epochs really were exercised: some winners predate 'tool'
    assert any(r["tool"] is None for r in actual)
    assert any(r["tool"] is not None for r in actual)


def test_ingest_is_exactly_once(spark, dbz_env):
    """Re-running over the same NDJSON directory commits nothing: each
    file's batch_id is fenced, so resume-after-crash or a double invoke
    re-applies zero batches (same contract as the parquet runner)."""
    path = os.path.join(dbz_env["work"], "t2")
    table = E.ingest_debezium(spark, dbz_env["ndjson"], path, n_buckets=4)
    snaps_before = [s["snapshot_id"] for s in table.snapshots()]
    table2 = E.ingest_debezium(spark, dbz_env["ndjson"], path, n_buckets=4)
    snaps_after = [s["snapshot_id"] for s in table2.snapshots()]
    assert snaps_after == snaps_before


def test_roundtrip_emit_parse_apply(spark, dbz_env):
    """to_debezium(full history) -> parse -> apply to an empty replica
    reproduces the source's live state; update envelopes carry BOTH
    images (REPLICA IDENTITY FULL), inserts omit before, deletes omit
    after."""
    runner = CdcRunner(spark, dbz_env["log"],
                       os.path.join(dbz_env["work"], "src"),
                       n_buckets=4, mode="mor", compact_every=1000)
    runner.run()
    env_df = E.to_debezium(spark, runner.table, 0)
    lines = [r.value for r in env_df.collect()]
    ops = {"c": 0, "u": 0, "d": 0}
    for ln in lines:
        rec = json.loads(ln)
        ops[rec["op"]] += 1
        if rec["op"] == "c":
            assert "before" not in rec or rec["before"] is None
            assert rec["after"]["conv_id"] is not None
        elif rec["op"] == "d":
            assert "after" not in rec or rec["after"] is None
            assert rec["before"]["conv_id"] is not None
        else:
            assert rec["before"] is not None and rec["after"] is not None
        assert rec["source"]["lsn"] is not None
    # a full-history feed over a fresh table is all inserts and deletes
    # (per-key NET semantics); updates appear over sub-windows instead
    assert ops["c"] > 0

    replica = CowTable(os.path.join(dbz_env["work"], "replica"), n_buckets=4)
    replica.create()
    mor_apply_batch(spark, replica,
                    E.parse_debezium(env_df, value_col="value"), 0)
    replica.refresh()
    assert _live_rows(spark, replica) == _live_rows(spark, runner.table)


def test_subwindow_updates_carry_both_images(spark, dbz_env):
    """Over a window whose keys already existed, updates emit the paired
    before+after envelope — and replaying JUST that window's envelopes on
    a replica of the window start reproduces the window end."""
    runner = CdcRunner(spark, dbz_env["log"],
                       os.path.join(dbz_env["work"], "src2"),
                       n_buckets=4, mode="mor", compact_every=1000)
    runner.run()
    snaps = [s["snapshot_id"] for s in runner.table.snapshots()]
    mid = snaps[len(snaps) // 2]
    env_df = E.to_debezium(spark, runner.table, mid)
    recs = [json.loads(r.value) for r in env_df.collect()]
    ups = [r for r in recs if r["op"] == "u"]
    assert ups, "window with overlapping keys must contain updates"
    for r in ups:
        assert r["before"]["conv_id"] == r["after"]["conv_id"]
        assert r["before"]["turn_idx"] == r["after"]["turn_idx"]

    # bootstrap replica at the window start from the source's pinned read
    replica = CowTable(os.path.join(dbz_env["work"], "replica2"), n_buckets=4)
    replica.create()
    base = runner.table.read(spark, snapshot_id=mid)
    from pyspark.sql import functions as F
    seed = base.select(
        F.lit(0).cast("long").alias("lsn"), F.lit("I").alias("op"),
        "conv_id", "turn_idx", "role", "text", "tool", "ts")
    mor_apply_batch(spark, replica, seed, 0)
    replica.refresh()
    mor_apply_batch(spark, replica,
                    E.parse_debezium(env_df, value_col="value"), 1)
    replica.refresh()
    assert _live_rows(spark, replica) == _live_rows(spark, runner.table)


def test_dlq_split_reasons(spark):
    lines = [
        '{"op":"c","after":{"conv_id":"c1","turn_idx":1,"role":"user",'
        '"text":"t","ts_us":5},"source":{"lsn":9}}',
        "not json at all",
        '{"op":"z","after":{"conv_id":"c1","turn_idx":1},"source":{"lsn":2}}',
        '{"op":"c","after":{"conv_id":null,"turn_idx":1},"source":{"lsn":3}}',
        '{"op":"c","after":{"conv_id":"c2","turn_idx":1},"source":{}}',
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    good, rej = E.parse_debezium_with_rejects(df)
    good_rows = good.collect()
    assert len(good_rows) == 1 and good_rows[0].lsn == 9
    rejects = {r.raw: r.reject_reason for r in rej.collect()}
    assert rejects["not json at all"] == "corrupt_json"
    assert [v for k, v in rejects.items() if '"op":"z"' in k] == ["unknown_op"]
    assert [v for k, v in rejects.items() if "null" in k] == ["missing_key"]
    assert [v for k, v in rejects.items() if '"source":{}' in k] == ["missing_lsn"]


def test_poisoned_lines_quarantine_not_crash(spark, tmp_path):
    """Without the DLQ split, poisoned envelope lines flow into the merge
    gate's quarantine — never applied, never fatal, clean rows land."""
    lines = [
        '{"op":"c","after":{"conv_id":"c1","turn_idx":1,"role":"user",'
        '"text":"ok","ts_us":5},"source":{"lsn":9}}',
        "garbage {{{",
        '{"op":"w","after":{"conv_id":"c9","turn_idx":2},"source":{"lsn":1}}',
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    table = CowTable(str(tmp_path / "t"), n_buckets=2)
    table.create()
    qdir = str(tmp_path / "quarantine")
    res = mor_apply_batch(spark, table, E.parse_debezium(df), 0,
                          quarantine_dir=qdir)
    table.refresh()
    assert res["summary"]["rows_quarantined"] == 2
    live = _live_rows(spark, table)
    assert len(live) == 1 and live[0]["text"] == "ok"
    q = spark.read.parquet(os.path.join(qdir, "batch_id=0"))
    assert q.count() == 2


def test_parse_maxwell_matches_debezium_semantics(spark):
    """Maxwell's envelope shape (flat data map, word ops, file:offset
    position) parses to the same engine events as the Debezium twin."""
    lines = [
        '{"database":"d","table":"transcripts","type":"insert","ts":1,'
        '"position":"binlog.0001:100","data":{"conv_id":"c1","turn_idx":0,'
        '"role":"user","text":"hi","ts_us":5}}',
        '{"database":"d","table":"transcripts","type":"update","ts":2,'
        '"position":"binlog.0001:200","data":{"conv_id":"c1","turn_idx":0,'
        '"role":"user","text":"hi!","ts_us":6},"old":{"text":"hi"}}',
        '{"database":"d","table":"transcripts","type":"delete","ts":3,'
        '"position":"binlog.0001:300","data":{"conv_id":"c1","turn_idx":0,'
        '"role":"user","text":"hi!","ts_us":6}}',
        '{"database":"d","table":"transcripts","type":"table-create",'
        '"position":"binlog.0001:400"}',
        "garbage",
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    rows = {r.lsn: r for r in E.parse_maxwell(df).collect()}
    assert rows[100].op == "I" and rows[100].text == "hi"
    assert rows[200].op == "U" and rows[200].text == "hi!"
    assert rows[300].op == "D" and rows[300].conv_id == "c1"
    # DDL event (lsn 400) and garbage (lsn null) both surface as op-null
    # events -> quarantineable, never fatal, never silently dropped
    assert rows[400].op is None and rows[None].op is None
    assert len(rows) == 5


def test_route_debezium_demultiplexes_one_topic(spark, tmp_path):
    """One envelope stream carrying two tables' changes routes to two
    engine tables with per-table apply; unknown tables + garbage land in
    the _unrouted DLQ with their raw lines, never silently dropped."""
    def env(table, conv, lsn):
        return (f'{{"op":"c","after":{{"conv_id":"{conv}","turn_idx":0,'
                f'"role":"user","text":"t","ts_us":1}},'
                f'"source":{{"lsn":{lsn},"table":"{table}"}}}}')

    lines = [env("transcripts", "a", 1), env("annotations", "b", 2),
             env("transcripts", "c", 3), env("mystery", "d", 4), "garbage"]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    routed = E.route_debezium(df, ["transcripts", "annotations"])
    for name, n_rows, convs in (("transcripts", 2, {"a", "c"}),
                                ("annotations", 1, {"b"})):
        t = CowTable(str(tmp_path / name), n_buckets=2)
        t.create()
        mor_apply_batch(spark, t, routed[name], 0)
        t.refresh()
        live = _live_rows(spark, t)
        assert len(live) == n_rows
        assert {r["conv_id"] for r in live} == convs
    rejects = routed[E.REJECT_TABLE].collect()
    assert len(rejects) == 2
    assert {r._route for r in rejects} == {"mystery", None}
    assert any(r.raw == "garbage" for r in rejects)


def test_snapshot_envelopes_bootstrap_replica(spark, dbz_env, tmp_path):
    """Debezium's initial-snapshot stream: op='r' envelopes of every live
    row, at faithful LSNs. Parsing + applying bootstraps a replica equal
    to the source's live state, and a later tail over the same source
    resolves against the bootstrap correctly by LWW (the snapshot rows
    carry their true winning LSNs, not LSN 0)."""
    table = E.ingest_debezium(spark, dbz_env["ndjson"],
                              os.path.join(dbz_env["work"], "t3"),
                              n_buckets=4)
    snap_env = E.to_debezium_snapshot(spark, table)
    replica = CowTable(str(tmp_path / "rep"), n_buckets=4)
    replica.create()
    mor_apply_batch(spark, replica, E.parse_debezium(snap_env), 0)
    replica.refresh()
    assert _live_rows(spark, replica) == _live_rows(spark, table)
    # faithful LSNs: replica's raw winners carry the source's LSNs
    src = {(r.conv_id, r.turn_idx): r._lsn
           for r in table.read_raw(spark).collect() if not r._deleted}
    rep = {(r.conv_id, r.turn_idx): r._lsn
           for r in replica.read_raw(spark).collect() if not r._deleted}
    assert rep == src


def test_relay_debezium_crash_safe_fan_out(spark, dbz_env, tmp_path):
    """The engine as a Debezium server: snapshot bootstrap + cursor-driven
    window relay into NDJSON, crash-safe (a crash between file write and
    cursor commit re-emits the SAME window into the SAME filename), and
    a downstream ingest_debezium over the relay directory reproduces the
    source exactly once per window."""
    from biomedica_etl_spark.cdc.envelope import relay_debezium
    from biomedica_etl_spark.cdc.feed import ImageFeedCursor

    runner = CdcRunner(spark, dbz_env["log"], str(tmp_path / "src"),
                       n_buckets=4, mode="mor", compact_every=1000)
    runner.run(max_batches=2)
    out_dir = str(tmp_path / "relay")
    os.makedirs(out_dir)

    # bootstrap: the initial-snapshot stream, named to sort FIRST so the
    # downstream ingest applies it before any window
    boot = E.to_debezium_snapshot(spark, runner.table)
    boot_lines = [r.value for r in boot.collect()]
    with open(os.path.join(out_dir, "a-bootstrap-00000000.ndjson"), "w") as f:
        f.write("\n".join(boot_lines) + "\n")
    cursor = ImageFeedCursor(str(tmp_path / "cur"))
    cursor.initialize(runner.table)

    runner.run(max_batches=1)  # window 1: one more log batch
    res1 = relay_debezium(spark, cursor, runner.table, out_dir)
    assert len(res1) == 1 and res1[0]["lines"] > 0

    runner.run()               # window 2: the rest
    runner.delete_where("role = 'system'", batch_id=9_200_001)  # window 3

    # crash simulation: the file write succeeds, the cursor commit dies
    real_commit = ImageFeedCursor.commit
    fail = {"armed": True}

    def dying_commit(self, token):
        if fail["armed"]:
            fail["armed"] = False
            raise RuntimeError("simulated crash before cursor commit")
        return real_commit(self, token)

    import pytest as _pytest
    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(ImageFeedCursor, "commit", dying_commit)
        with _pytest.raises(RuntimeError):
            relay_debezium(spark, cursor, runner.table, out_dir)
        files_after_crash = sorted(os.listdir(out_dir))
        res2 = relay_debezium(spark, cursor, runner.table, out_dir)
    # the re-run re-emitted the same window file, then drained
    assert res2 and sorted(os.listdir(out_dir))[:len(files_after_crash)] \
        == files_after_crash

    replica = E.ingest_debezium(spark, out_dir, str(tmp_path / "replica"),
                                n_buckets=4)
    assert _live_rows(spark, replica) == _live_rows(spark, runner.table)
    # and re-ingesting the relay dir commits nothing (filename batch ids)
    n_snaps = len(replica.snapshots())
    E.ingest_debezium(spark, out_dir, str(tmp_path / "replica"), n_buckets=4)
    replica.refresh()
    assert len(replica.snapshots()) == n_snaps


def _txn_env(conv, turn, lsn, txn=None, total=None, text="x", op="c",
             order=1):
    img = {"conv_id": conv, "turn_idx": turn, "role": "user",
           "text": text, "ts_us": lsn}
    d = {"op": op, "after": None if op == "d" else img,
         "before": img if op == "d" else None,
         "source": {"lsn": lsn}}
    if txn is not None:
        d["transaction"] = {"id": txn, "event_count": total,
                            "total_order": order}
    return json.dumps(d)


def test_txn_aware_ingest_atomic_visibility(spark, tmp_path):
    """A source transaction split across micro-batch files is NEVER
    visible torn: its events defer until the transaction completes, then
    apply atomically in one fenced commit. Crash between the apply and
    the pending-state publish replays deterministically."""
    from biomedica_etl_spark.cdc.envelope import ingest_debezium_txn

    ndj = str(tmp_path / "ndj")
    os.makedirs(ndj)
    # file 0: txn A complete (2 events), txn B partial (1 of 2), one
    # bare (non-transactional) event
    with open(os.path.join(ndj, "batch-00000.ndjson"), "w") as f:
        f.write("\n".join([
            _txn_env("a", 0, 10, txn="A", total=2),
            _txn_env("a", 1, 11, txn="A", total=2, order=2),
            _txn_env("b", 0, 12, txn="B", total=2),
            _txn_env("c", 0, 13),
        ]) + "\n")

    t = ingest_debezium_txn(spark, ndj, str(tmp_path / "t"), n_buckets=2)
    live = {(r.conv_id, r.turn_idx) for r in t.read(spark).collect()}
    # txn A atomic-in, bare event in, txn B invisible (torn)
    assert live == {("a", 0), ("a", 1), ("c", 0)}

    # file 1 arrives with B's remainder + another bare event
    with open(os.path.join(ndj, "batch-00001.ndjson"), "w") as f:
        f.write("\n".join([
            _txn_env("b", 1, 14, txn="B", total=2, order=2),
            _txn_env("d", 0, 15),
        ]) + "\n")
    t = ingest_debezium_txn(spark, ndj, str(tmp_path / "t"), n_buckets=2)
    live = {(r.conv_id, r.turn_idx) for r in t.read(spark).collect()}
    assert live == {("a", 0), ("a", 1), ("b", 0), ("b", 1),
                    ("c", 0), ("d", 0)}

    # full re-run: nothing commits (fenced applies + published pendings)
    n_snaps = len(t.snapshots())
    t = ingest_debezium_txn(spark, ndj, str(tmp_path / "t"), n_buckets=2)
    assert len(t.snapshots()) == n_snaps

    # crash between batch 1's apply and its pending publish: the pending
    # dir is gone but the apply is committed — the re-run replays the
    # identical deterministic split into a fenced no-op, then republishes
    import shutil
    shutil.rmtree(os.path.join(str(tmp_path / "t"), "_txn_pending",
                               "pending-000000001"))
    t = ingest_debezium_txn(spark, ndj, str(tmp_path / "t"), n_buckets=2)
    assert len(t.snapshots()) == n_snaps
    live2 = {(r.conv_id, r.turn_idx) for r in t.read(spark).collect()}
    assert live2 == live


def test_txn_metadata_generated_log_replays_exactly(spark, dbz_env, tmp_path):
    """The converter's transaction mode (every k global events = one
    transaction, straddling file boundaries when k doesn't divide the
    batch size) through the transactional applier converges to the plain
    replay, with an empty final pending state — deferral delayed
    visibility but lost nothing."""
    from biomedica_etl_spark.cdc.envelope import (
        ingest_debezium_txn, write_debezium_log)

    ndj = str(tmp_path / "ndj")
    k = 7  # deliberately not a divisor of the batch size
    write_debezium_log(dbz_env["log"], ndj, txn_events=k)
    # at least one transaction id must appear in two adjacent files
    per_file_ids = []
    for f in sorted(os.listdir(ndj)):
        ids = {json.loads(ln)["transaction"]["id"]
               for ln in open(os.path.join(ndj, f)) if ln.strip()}
        per_file_ids.append(ids)
    assert any(a & b for a, b in zip(per_file_ids, per_file_ids[1:]))

    table = ingest_debezium_txn(spark, ndj, str(tmp_path / "t"), n_buckets=4)
    actual = _live_rows(spark, table)
    assert actual == replay(dbz_env["log"])
    last = sorted(os.listdir(os.path.join(str(tmp_path / "t"),
                                          "_txn_pending")))[-1]
    pend = spark.read.parquet(
        os.path.join(str(tmp_path / "t"), "_txn_pending", last))
    assert pend.count() == 0


def test_txn_aware_ingest_never_completing_txn_stays_pending(
        spark, tmp_path):
    """An abandoned transaction (writer died mid-emit upstream) defers
    forever rather than applying torn — and its events sit inspectable
    in the pending state, the operator's signal to resync."""
    from biomedica_etl_spark.cdc.envelope import ingest_debezium_txn

    ndj = str(tmp_path / "ndj")
    os.makedirs(ndj)
    with open(os.path.join(ndj, "batch-00000.ndjson"), "w") as f:
        f.write(_txn_env("z", 0, 20, txn="Z", total=3) + "\n"
                + _txn_env("ok", 0, 21) + "\n")
    with open(os.path.join(ndj, "batch-00001.ndjson"), "w") as f:
        f.write(_txn_env("ok", 1, 22) + "\n")

    t = ingest_debezium_txn(spark, ndj, str(tmp_path / "t"), n_buckets=2)
    live = {(r.conv_id, r.turn_idx) for r in t.read(spark).collect()}
    assert live == {("ok", 0), ("ok", 1)}
    pending = spark.read.parquet(
        os.path.join(str(tmp_path / "t"), "_txn_pending", "pending-000000001"))
    assert [r["_txn_id"] for r in pending.collect()] == ["Z"]


def test_txn_aware_streaming_apply(spark, tmp_path):
    """The streaming half of atomic transaction visibility: with only
    the first file present, a drained stream leaves the split
    transaction invisible; the remainder arriving and a checkpoint
    restart completes it atomically; a further restart commits nothing."""
    from biomedica_etl_spark.streaming import stream_apply_debezium

    ndj = str(tmp_path / "ndj")
    os.makedirs(ndj)
    with open(os.path.join(ndj, "batch-00000.ndjson"), "w") as f:
        f.write("\n".join([
            _txn_env("a", 0, 10, txn="A", total=2),
            _txn_env("a", 1, 11, txn="A", total=2, order=2),
            _txn_env("b", 0, 12, txn="B", total=2),
            _txn_env("c", 0, 13),
        ]) + "\n")
    table_root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")

    q = stream_apply_debezium(spark, ndj, table_root, ckpt, n_buckets=2,
                              txn_aware=True, max_files_per_trigger=1)
    assert q.awaitTermination(180)
    table = CowTable(table_root)
    live = {(r.conv_id, r.turn_idx) for r in table.read(spark).collect()}
    assert live == {("a", 0), ("a", 1), ("c", 0)}  # B torn -> invisible

    with open(os.path.join(ndj, "batch-00001.ndjson"), "w") as f:
        f.write("\n".join([
            _txn_env("b", 1, 14, txn="B", total=2, order=2),
            _txn_env("d", 0, 15),
        ]) + "\n")
    q = stream_apply_debezium(spark, ndj, table_root, ckpt, n_buckets=2,
                              txn_aware=True, max_files_per_trigger=1)
    assert q.awaitTermination(180)
    table.refresh()
    live = {(r.conv_id, r.turn_idx) for r in table.read(spark).collect()}
    assert live == {("a", 0), ("a", 1), ("b", 0), ("b", 1),
                    ("c", 0), ("d", 0)}

    n_snaps = len(table.snapshots())
    q = stream_apply_debezium(spark, ndj, table_root, ckpt, n_buckets=2,
                              txn_aware=True)
    assert q.awaitTermination(120)
    table.refresh()
    assert len(table.snapshots()) == n_snaps


def test_stream_apply_debezium_matches_oracle_and_restart_is_noop(
        spark, dbz_env, tmp_path):
    """The Kafka-topology leg: envelope NDJSON tailed as a file stream,
    parsed in-plan, applied through the shared foreachBatch body.
    Drains to the replay oracle; a restart on the same checkpoint with
    no new input commits nothing (exactly-once across the stream
    checkpoint + snapshot fencing)."""
    from biomedica_etl_spark.streaming import stream_apply_debezium

    table_root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    q = stream_apply_debezium(spark, dbz_env["ndjson"], table_root, ckpt,
                              n_buckets=4, mode="mor", compact_every=3,
                              max_files_per_trigger=2)
    assert q.awaitTermination(300), "stream did not drain in time"

    table = CowTable(table_root)
    assert _live_rows(spark, table) == replay(dbz_env["log"])
    n_snaps = len(table.snapshots())

    q2 = stream_apply_debezium(spark, dbz_env["ndjson"], table_root, ckpt,
                               n_buckets=4, mode="mor")
    assert q2.awaitTermination(120)
    table.refresh()
    assert len(table.snapshots()) == n_snaps


def test_txn_split_duplicate_redelivery_does_not_complete_torn_txn(spark):
    """At-least-once redelivery: a duplicate of an already-seen event
    must NOT count toward transaction completeness — with count(*) a
    2-event transaction whose first event arrived twice would apply
    torn. Distinct total_order positions decide."""
    from biomedica_etl_spark.cdc.envelope import (parse_debezium, txn_split)

    lines = [
        _txn_env("t", 0, 10, txn="T", total=2, order=1),
        _txn_env("t", 0, 10, txn="T", total=2, order=1),  # redelivered
    ]
    ev = parse_debezium(
        spark.createDataFrame([(ln,) for ln in lines], "value string"),
        with_transaction=True)
    complete, incomplete = txn_split(ev, None)
    assert complete.count() == 0          # NOT declared complete
    assert incomplete.count() == 1        # deduped pending, bounded
    # the remainder arriving (distinct position) completes it
    more = parse_debezium(
        spark.createDataFrame(
            [(_txn_env("t", 1, 11, txn="T", total=2, order=2),)],
            "value string"), with_transaction=True)
    complete2, incomplete2 = txn_split(more, incomplete)
    assert complete2.count() == 2 and incomplete2.count() == 0


def test_txn_split_null_order_dialect_falls_back_to_count(spark):
    """Envelopes without total_order (count-based dialect): completeness
    falls back to the raw count and null orders are NOT collapsed."""
    from biomedica_etl_spark.cdc.envelope import (parse_debezium, txn_split)

    def env_no_order(conv, turn, lsn, txn, total):
        d = json.loads(_txn_env(conv, turn, lsn, txn=txn, total=total))
        d["transaction"].pop("total_order")
        return json.dumps(d)

    lines = [env_no_order("n", 0, 20, "N", 2)]
    ev = parse_debezium(
        spark.createDataFrame([(ln,) for ln in lines], "value string"),
        with_transaction=True)
    c1, i1 = txn_split(ev, None)
    assert c1.count() == 0 and i1.count() == 1
    more = parse_debezium(
        spark.createDataFrame([(env_no_order("n", 1, 21, "N", 2),)],
                              "value string"), with_transaction=True)
    c2, i2 = txn_split(more, i1)
    assert c2.count() == 2 and i2.count() == 0


def _txn_frame(spark, lines):
    from biomedica_etl_spark.cdc.envelope import parse_debezium

    return parse_debezium(
        spark.createDataFrame([(ln,) for ln in lines], "value string"),
        with_transaction=True)


def test_txn_split_unknown_total_waits_in_pending(spark):
    """Debezium's own data events carry the transaction id and position
    but no event_count: with the total unknown the transaction can never
    be declared complete, so its events must wait in the incomplete side
    — not vanish from both sides."""
    from biomedica_etl_spark.cdc.envelope import txn_split

    def env_no_count(conv, turn, lsn, order):
        d = json.loads(_txn_env(conv, turn, lsn, txn="U", order=order))
        d["transaction"].pop("event_count")
        return json.dumps(d)

    ev = _txn_frame(spark, [env_no_count("u", 0, 30, 1),
                            env_no_count("u", 1, 31, 2),
                            _txn_env("bare", 0, 32)])
    complete, incomplete = txn_split(ev, None)
    assert [(r.conv_id, r.turn_idx) for r in complete.collect()] == [
        ("bare", 0)]
    assert sorted((r.conv_id, r.turn_idx) for r in incomplete.collect()) == [
        ("u", 0), ("u", 1)]


def test_txn_split_mixed_null_order_completes_when_all_arrive(spark):
    """A transaction whose events carry total_order on some events and
    not on others completes once every event has arrived: a null
    position counts as its own event, a known one counts once."""
    from biomedica_etl_spark.cdc.envelope import txn_split

    no_order = json.loads(_txn_env("m", 1, 41, txn="M", total=2))
    no_order["transaction"].pop("total_order")
    first = _txn_frame(spark, [_txn_env("m", 0, 40, txn="M", total=2,
                                        order=1)])
    c1, i1 = txn_split(first, None)
    assert c1.count() == 0 and i1.count() == 1
    c2, i2 = txn_split(_txn_frame(spark, [json.dumps(no_order)]), i1)
    assert sorted((r.conv_id, r.turn_idx) for r in c2.collect()) == [
        ("m", 0), ("m", 1)]
    assert i2.count() == 0


def test_pending_store_orders_ids_as_integers(spark, tmp_path):
    """Pending ids cross a digit boundary (99_999 -> 100_000): the store
    must order them as integers, keep the newest two and serve the newest
    state — a name-ordered prune would delete it instead."""
    from biomedica_etl_spark.cdc.envelope import (PendingStore,
                                                  pending_txn_schema)

    store = PendingStore(spark, str(tmp_path / "pending"))
    schema = pending_txn_schema()
    for bid in (99_998, 99_999, 100_000):
        row = {f.name: None for f in schema.fields}
        row.update(conv_id=f"c{bid}", turn_idx=0, lsn=bid, op="I",
                   _txn_id=f"t{bid}")
        store.publish(bid, spark.createDataFrame([row], schema))
    assert [r.conv_id for r in store.newest().collect()] == ["c100000"]
    assert [r.conv_id for r in store.read_before(100_000).collect()] == [
        "c99999"]
    assert store.read_before(99_999) is None  # pruned: only two kept
    assert store.published_from(100_000)
    assert not store.published_from(100_001)


def test_txn_ingest_survives_processed_file_archival(spark, tmp_path):
    """Operational archival: files already applied are REMOVED from the
    ndjson dir between runs. Pending state is keyed by batch_id (the
    fence derivation), so the first remaining file still finds its
    predecessor's carried-over incomplete transaction — events torn
    across the archival boundary are deferred, not lost."""
    from biomedica_etl_spark.cdc.envelope import ingest_debezium_txn

    ndj = str(tmp_path / "ndj")
    os.makedirs(ndj)
    with open(os.path.join(ndj, "batch-00000.ndjson"), "w") as f:
        f.write(_txn_env("x", 0, 30, txn="X", total=2, order=1) + "\n"
                + _txn_env("e", 0, 31) + "\n")
    t = ingest_debezium_txn(spark, ndj, str(tmp_path / "t"), n_buckets=2)
    live = {(r.conv_id, r.turn_idx) for r in t.read(spark).collect()}
    assert live == {("e", 0)}  # X torn, deferred

    os.remove(os.path.join(ndj, "batch-00000.ndjson"))  # archived upstream
    with open(os.path.join(ndj, "batch-00001.ndjson"), "w") as f:
        f.write(_txn_env("x", 1, 32, txn="X", total=2, order=2) + "\n")
    t = ingest_debezium_txn(spark, ndj, str(tmp_path / "t"), n_buckets=2)
    live = {(r.conv_id, r.turn_idx) for r in t.read(spark).collect()}
    # X's carried-over half was NOT lost to the archival: both halves in
    assert live == {("e", 0), ("x", 0), ("x", 1)}


def test_ingest_quarantines_poison_rows_by_default(spark, tmp_path):
    """The module's never-silently-dropped contract: with NO quarantine
    dir passed, a poisoned envelope still leaves a row-level record
    under the table's default _quarantine dir."""
    from biomedica_etl_spark.cdc.envelope import ingest_debezium

    ndj = str(tmp_path / "ndj")
    os.makedirs(ndj)
    with open(os.path.join(ndj, "batch-00000.ndjson"), "w") as f:
        f.write(_txn_env("g", 0, 40) + "\n"
                + "{not json at all\n"
                + json.dumps({"op": "zz", "after": None,
                              "source": {"lsn": 41}}) + "\n")
    root = str(tmp_path / "t")
    t = ingest_debezium(spark, ndj, root, n_buckets=2)
    live = {(r.conv_id, r.turn_idx) for r in t.read(spark).collect()}
    assert live == {("g", 0)}
    q = spark.read.parquet(os.path.join(root, "_quarantine"))
    assert q.count() == 2  # both poison rows captured, not just counted


def test_envelopes_with_txn_renderer_tears_and_converges(spark, dbz_env):
    """The JVM-side transaction-metadata renderer (bench/cluster-scale
    twin of write_debezium_log(txn_events=)): lsn-block transactions with
    distinct positions and true event counts. File splits must tear
    transactions (deferral actually exercised: some batch leaves a
    non-empty pending), and after the full directory both the plain and
    the txn-aware appliers converge to the replay oracle."""
    import shutil
    import tempfile

    from biomedica_etl_spark.cdc.envelope import (PendingStore,
                                                  envelopes_with_txn,
                                                  ingest_debezium,
                                                  ingest_debezium_txn)
    from biomedica_etl_spark.cdc.runner import read_log_events

    log = dbz_env["log"]
    d = tempfile.mkdtemp()
    ndj = os.path.join(d, "ndj")
    ev = read_log_events(spark, log)
    envelopes_with_txn(ev, txn_events=25).repartitionByRange(
        4, "lsn").select("value").write.text(ndj)

    plain = ingest_debezium(spark, ndj, os.path.join(d, "a"), n_buckets=4)
    # the txn-aware applier takes the directory one file at a time (each
    # call resumes past the files already applied), so the newest pending
    # state can be read after every file, before the store prunes it
    inc = os.path.join(d, "inc")
    os.makedirs(inc)
    store = PendingStore(spark, os.path.join(d, "b", "_txn_pending"))
    pending_rows = []
    for f in sorted(f for f in os.listdir(ndj) if f.startswith("part-")):
        shutil.copy(os.path.join(ndj, f), inc)
        txn = ingest_debezium_txn(spark, inc, os.path.join(d, "b"),
                                  n_buckets=4)
        pending_rows.append(store.newest().count())
    want = replay(log)
    assert _live_rows(spark, plain) == want
    assert _live_rows(spark, txn) == want
    assert len(pending_rows) == 4
    # deferral really happened: some non-final batch left carried-over
    # events (a transaction torn at a file boundary) ...
    assert any(n > 0 for n in pending_rows[:-1]), pending_rows
    # ... and the FINAL pending is empty — nothing lost
    assert pending_rows[-1] == 0


def test_relay_coalesces_small_windows_bounded_files_identical_replica(
        spark, dbz_env, tmp_path):
    """Small-window coalescing (min_window_bytes): a low-traffic table
    tailed after every tiny commit defers below-floor windows (no file,
    no cursor commit) until they fold into one above-floor window —
    bounding the file count — and the replica built from the coalesced
    relay is byte-identical to one built from the unbatched relay."""
    from biomedica_etl_spark.cdc.envelope import (ingest_debezium,
                                                  relay_debezium,
                                                  to_debezium_snapshot)
    from biomedica_etl_spark.cdc.feed import ImageFeedCursor

    def build_relay(tag, min_bytes):
        runner = CdcRunner(spark, dbz_env["log"], str(tmp_path / f"s{tag}"),
                           n_buckets=4, mode="mor", compact_every=1000)
        runner.run(max_batches=1)
        out = str(tmp_path / f"relay{tag}")
        os.makedirs(out)
        boot = to_debezium_snapshot(spark, runner.table)
        lines = [r.value for r in boot.collect()]
        with open(os.path.join(out, "a-bootstrap-00000000.ndjson"), "w") as f:
            f.write("\n".join(lines) + "\n")
        cur = ImageFeedCursor(str(tmp_path / f"cur{tag}"))
        cur.initialize(runner.table)
        emitted = []
        # four tiny source commits, a relay cycle after EACH (the
        # tail-frequently shape that produces one file per cycle)
        for i in range(4):
            runner.run(max_batches=1)
            emitted += relay_debezium(spark, cur, runner.table, out,
                                      min_window_bytes=min_bytes,
                                      flush=False)
        # daemon shutdown: flush whatever is still deferred
        emitted += relay_debezium(spark, cur, runner.table, out,
                                  min_window_bytes=min_bytes, flush=True)
        return runner, out, emitted

    src_a, dir_a, res_a = build_relay("a", 0)          # unbatched
    src_b, dir_b, res_b = build_relay("b", 10 << 20)   # floor > any window

    files_a = [f for f in os.listdir(dir_a) if f.startswith("window-")]
    files_b = [f for f in os.listdir(dir_b) if f.startswith("window-")]
    assert len(files_a) == 4          # one file per cycle without the floor
    assert len(files_b) == 1          # all four cycles folded into one
    assert sum(1 for r in res_b if r.get("token") is None) == 4  # deferrals

    rep_a = ingest_debezium(spark, dir_a, str(tmp_path / "ra"), n_buckets=4)
    rep_b = ingest_debezium(spark, dir_b, str(tmp_path / "rb"), n_buckets=4)
    assert _live_rows(spark, rep_a) == _live_rows(spark, rep_b)
    assert _live_rows(spark, rep_b) == _live_rows(spark, src_b.table)
