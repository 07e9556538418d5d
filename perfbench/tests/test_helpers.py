"""Unit tests for the benchmark's own helpers.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The statistics and span tests are pure Python; the digest and oracle
tests start a small local Spark session.
"""

from __future__ import annotations

import random
import statistics
import threading
import types

import pytest

from perfbench import stats
from perfbench.spans import Span, Tracer, layer_summary, self_time


# --- percentiles and sample-count selection -------------------------------

def test_percentile_interpolates_linearly():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 90) == pytest.approx(3.7)
    assert stats.percentile([7.0], 90) == 7.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


@pytest.mark.parametrize("n,p", [(1, 50.0), (19, 50.0), (20, 50.0),
                                 (39, 50.0), (40, 75.0), (99, 75.0),
                                 (100, 90.0), (1000, 99.0), (10000, 99.9)])
def test_supported_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.supported_percentile(n) == p
    assert round(n * (100 - p) / 100, 6) >= stats.MIN_TAIL or p == 50.0


def test_summarize_matches_statistics_quartiles():
    rng = random.Random(5)
    xs = [rng.random() for _ in range(100)]
    s = stats.summarize(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert (s["q1"], s["q3"]) == (q1, q3)
    assert s["median"] == statistics.median(xs)
    assert (s["tail_p"], s["n"]) == (90.0, 100)
    assert s["tail"] == stats.percentile(xs, 90)
    one = stats.summarize([3.0])
    assert one["q1"] == one["q3"] == one["median"] == 3.0


def test_interval_union():
    assert stats.interval_union([]) == 0.0
    assert stats.interval_union([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4.0
    assert stats.interval_union([(5, 9), (0, 1), (6, 7)]) == 5.0


# --- spans and self time --------------------------------------------------

def _span(sid, start, end, parent=None, name="x"):
    return Span(sid=sid, name=name, start=start, end=end, parent=parent,
                unit=0)


def test_self_time_subtracts_union_of_children():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 3.0, 1), _span(3, 2.0, 5.0, 1),
            _span(4, 8.0, 12.0, 1)]  # the last one outlives its parent
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == 10.0


def test_layer_summary_busy_is_union_and_self_excludes_children():
    spans = [_span(1, 0.0, 4.0, name="stage"),
             _span(2, 2.0, 6.0, name="stage"),  # pipelined overlap
             _span(3, 10.0, 20.0, name="run"),
             _span(4, 12.0, 15.0, parent=3, name="apply")]
    spans[3].counts["bytes"] = 7.0
    out = layer_summary(spans)
    assert out["stage"]["busy_s"] == 6.0
    assert out["stage"]["self_s"] == 6.0
    assert out["stage"]["calls"] == 2.0
    assert out["run"]["busy_s"] == 10.0
    assert out["run"]["self_s"] == 7.0
    assert out["apply"]["bytes"] == 7.0


def test_tracer_wraps_links_and_restores():
    mod = types.SimpleNamespace()

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    tr = Tracer()
    tr.wrap(mod, "inner", "layer.inner",
            count=lambda s, r, a, k: s.counts.__setitem__("arg", a[0]))
    tr.wrap(mod, "outer", "layer.outer")
    assert mod.outer(1) == 4 and tr.spans == []  # tracing off: no spans
    tr.enabled = True
    assert mod.outer(1) == 4
    inner_s, outer_s = tr.spans
    assert inner_s.parent == outer_s.sid and outer_s.parent is None
    assert inner_s.counts == {"arg": 1}
    # work started on another thread while a root span is open is caused
    # by that root
    with tr.span("root") as root:
        t = threading.Thread(target=mod.inner, args=(5,))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    threaded = [s for s in tr.spans if s.name == "layer.inner"][-1]
    assert threaded.parent == root.sid
    tr.restore()
    assert mod.inner is inner and mod.outer is outer


# --- content digest and prefix oracle ---------------------------------------

def _rows():
    import datetime as dt

    ts = dt.datetime(2025, 1, 1)
    return [("conv-1", 0, "user", "hello", None, ts),
            ("conv-1", 1, "assistant", "hi there", "tool-3", ts),
            ("conv-2", 0, "user", "other", None, ts)]


def _frame(spark, rows):
    schema = ("conv_id string, turn_idx long, role string, text string, "
              "tool string, ts timestamp")
    return spark.createDataFrame(rows, schema)


def test_digest_is_order_independent_and_content_sensitive(spark):
    rows = _rows()
    base = stats.table_digest(_frame(spark, rows))
    assert base[0] == 3
    shuffled = _frame(spark, list(reversed(rows))).repartition(3)
    assert stats.table_digest(shuffled) == base
    changed = rows[:2] + [("conv-2", 0, "user", "otheR", None, rows[2][5])]
    assert stats.table_digest(_frame(spark, changed))[1] != base[1]
    assert stats.table_digest(_frame(spark, rows[:2]))[0] == 2


def test_prefix_states_match_spark_replay(spark, tmp_path):
    from biomedica_etl_spark.cdc.generator import (
        GeneratorConfig, generate_change_log)
    from biomedica_etl_spark.cdc.oracle import spark_replay

    from perfbench.oracle import prefix_states

    log = str(tmp_path / "log")
    generate_change_log(log, GeneratorConfig(
        seed=3, n_events=3_000, batch_size=500, n_convs=40, zipf_a=1.1,
        duplicate_frac=0.03, out_of_order=True, absent_key_frac=0.05,
        corrupt_frac=0.02))
    states = prefix_states(spark, log)
    assert sorted(states) == list(range(6))
    for k in (0, 3, 5):
        want = stats.table_digest(spark_replay(spark, log, max_batch_id=k))
        assert (states[k].rows, states[k].digest) == want, k
    assert states[5].payload_bytes > 0
