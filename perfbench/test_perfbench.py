"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import shape  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, layer_time, parse_event_log, self_times  # noqa: E402
from workloads import Op, same_rows  # noqa: E402


@pytest.mark.parametrize("n", [11, 20, 30, 36, 100])
def test_tail_leaves_exactly_ten_samples_beyond(n):
    xs = [float(i) for i in range(n, 0, -1)]
    t = stats.tail(xs)
    assert t["qualified"] and t["n"] == n
    assert sum(x > t["value"] for x in xs) == stats.MIN_BEYOND
    assert t["percentile"] == pytest.approx(100.0 * (n - 10) / n)


def test_tail_without_enough_samples_is_flagged():
    t = stats.tail([3.0, 1.0, 2.0])
    assert not t["qualified"] and t["value"] == 3.0 and t["beyond"] == 0


def test_summary_quartiles():
    s = stats.summary([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (s["median"], s["n"]) == (3.0, 5)
    assert s["q1"] < s["median"] < s["q3"]


def test_p50_takes_the_median_of_per_operation_medians():
    # two clusters: the pooled median, (1.6 + 3.0) / 2, would average the
    # slowest "a" and the fastest "b"
    ops = [Op("task", name, it, s, True)
           for name, xs in {"a": [1.0, 1.6, 1.0], "b": [4.0, 3.0, 4.0]}.items()
           for it, s in enumerate(xs)]
    assert run.median_of_medians(ops) == 2.5


def _span(sid, start, end, parent=None, layer="l", name="n", it=0):
    return {"id": sid, "name": name, "layer": layer, "start": start, "end": end,
            "parent": parent, "iteration": it}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),    # overlaps span 1
        _span(3, 7.0, 8.0, parent=0),
        _span(4, 9.5, 12.0, parent=0),   # runs past its parent: clipped
        _span(5, 2.5, 4.0, parent=2),    # grandchild: not the root's child
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0 + 0.5))
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[5] == pytest.approx(1.5)


def test_layer_time_counts_nested_calls_once():
    spans = [
        _span(0, 0.0, 4.0, layer="runner", name="task:x"),
        _span(1, 1.0, 3.0, parent=0, layer="text", name="text.a"),
        _span(2, 1.5, 2.0, parent=1, layer="text", name="text.b"),
        _span(3, 3.0, 3.5, parent=0, layer="text", name="text.b"),
    ]
    assert layer_time(spans, "text") == pytest.approx(2.5)
    assert layer_time(spans, "text", "text.b") == pytest.approx(1.0)


def test_tracer_wraps_and_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tracer, seen = Tracer(True), []
    tracer.iteration = 7
    tracer.wrap(Mod, "f", "lay", on_return=lambda out, a, k: seen.append(out))
    with tracer.span("outer", "bench"):
        assert Mod.f(1) == 2
    tracer.enabled = False
    assert Mod.f(2) == 3       # tracing off: no span, no on_return
    tracer.restore()
    assert Mod.f(1) == 2 and seen == [2]
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"] and inner["name"] == "lay.f"
    assert inner["iteration"] == 7 and inner["end"] >= inner["start"]


def _fingerprint(tables) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(pd.util.hash_pandas_object(
            tables[name].to_pandas().astype(str), index=False).values.tobytes())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed():
    a, sa = gen.tables(3, 0.02)
    b, sb = gen.tables(3, 0.02)
    c, _ = gen.tables(4, 0.02)
    assert _fingerprint(a) == _fingerprint(b) and sa == sb
    assert _fingerprint(a) != _fingerprint(c)
    assert sa["rows"]["lineitem"] == 12_000 and sa["rows"]["documents"] == 100
    assert 0.0 < sa["near_dup_share"] < 0.2


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_generator_matches_the_recorded_sf01_shape(seed):
    with open(os.path.join(HERE, "sf01_shape.json")) as f:
        want = json.load(f)
    tables, _ = gen.tables(seed, 1.0)
    assert shape.compare(want, shape.profile(tables)) == []


def test_shape_compare_catches_a_changed_timestamp_unit_and_line_numbers():
    import numpy as np
    import pyarrow as pa

    with open(os.path.join(HERE, "sf01_shape.json")) as f:
        want = json.load(f)
    tables, _ = gen.tables(1, 1.0)
    ev, li = tables["events"], tables["lineitem"]
    tables["events"] = ev.set_column(1, "ts", ev["ts"].cast(pa.timestamp("ns")))
    tables["lineitem"] = li.set_column(
        3, "l_linenumber", pa.array(np.ones(li.num_rows, np.int32)))
    bad = shape.compare(want, shape.profile(tables))
    assert any(b.startswith("events.schema") for b in bad)
    assert "lineitem_per_order.repeated_linenumber_share" in bad


def test_generator_caches_per_seed_and_scale(tmp_path):
    path, stats_ = gen.generate(str(tmp_path), 5, 0.01)
    again, stats2 = gen.generate(str(tmp_path), 5, 0.01)
    assert path == again and stats_ == stats2
    assert sorted(os.listdir(path)) == sorted(
        [f"{t}.parquet" for t in stats_["rows"]] + ["_DONE"])


def test_same_rows_ignores_row_and_column_order_only():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, -0.0]})
    assert same_rows(a, pd.DataFrame({"v": [0.0, 0.5], "k": [2, 1]}))
    assert not same_rows(a, pd.DataFrame({"k": [1, 2], "v": [0.5, 0.1]}))
    assert not same_rows(a, pd.DataFrame({"k": ["1", "2"], "v": [0.5, 0.0]}))
    assert not same_rows(a, pd.DataFrame({"k": [1, 2, 2], "v": [0.5, 0.0, 0.0]}))


def test_sampler_keeps_peaks_per_window():
    heap = iter([5, 9] + [1] * 1000)
    with stats.RssSampler(lambda: next(heap)) as rss:
        time.sleep(3 * stats.SAMPLE_S)
        rss_peak, heap_peak = rss.take_peak()
        time.sleep(2 * stats.SAMPLE_S)
        later = rss.take_peak()
    assert rss_peak > 0 and heap_peak == 9
    assert later[0] > 0 and later[1] == 1


def test_descendants_finds_a_grandchild():
    child = subprocess.Popen([sys.executable, "-c",
                              "import subprocess, sys; "
                              "subprocess.run(['sleep', '30'])"])
    try:
        for _ in range(200):
            found = stats.descendants(os.getpid())
            if len(found) >= 2:
                break
            time.sleep(0.05)
        assert child.pid in found and len(found) >= 2
        assert stats.tree_rss_bytes([os.getpid(), *found]) > 0
    finally:
        for pid in stats.descendants(child.pid):
            os.kill(pid, 9)
        child.kill()
        child.wait()


def test_benchmark_json_lists_every_layer_metric():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, (u, b) in layers.METRICS.items()]


def test_event_log_attributes_a_tiny_task_to_its_job_group(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    try:
        spark.sparkContext.setJobGroup("task:tiny:0", "task:tiny:0")
        spark.range(1000, numPartitions=2).repartition(3).write.format("noop") \
            .mode("overwrite").save()
        spark.sparkContext.setJobGroup("check", "check")
        spark.range(10).count()
    finally:
        spark.stop()
    (log,) = list(log_dir.iterdir())
    groups, jobs = parse_event_log(str(log))
    tiny = groups["task:tiny:0"]
    assert tiny["jobs"] >= 1 and tiny["tasks"] >= 2
    assert tiny["shuffle_write_mb"] > 0 and tiny["failed_tasks"] == 0
    assert tiny["executor_run_s"] >= 0 and tiny["scheduler_delay_s"] >= 0
    assert groups["check"]["jobs"] >= 1
    assert {g for g, _ in jobs} >= {"task:tiny:0", "check"}
    sp = [_span(0, 0.0, 1e12, layer="runner", name="task:tiny", it=0)]
    m = layers.iteration_metrics(0, sp, {0: 1.0}, groups, jobs, [], {}, {}, {})
    assert m["session.tasks"] == tiny["tasks"]
