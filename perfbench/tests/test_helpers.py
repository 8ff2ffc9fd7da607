"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import spans  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert spans.tail_percentile(10) is None
    assert spans.tail_percentile(11) == pytest.approx(100 / 11)
    assert spans.tail_percentile(100) == pytest.approx(90.0)
    assert spans.tail_percentile(1000) == pytest.approx(99.0)


def test_tail_falls_back_to_max_below_twenty_samples():
    assert spans.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert spans.tail([float(i) for i in range(19)]) == (18.0, 100.0, 19)
    assert spans.tail([float(i) for i in range(20)])[1] == 50.0
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = spans.tail(xs)
    assert (pct, n) == (90.0, 100)
    assert value == pytest.approx(90.1)
    assert sum(x > value for x in xs) == 10


def test_percentile_matches_linear_interpolation():
    assert spans.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert spans.percentile([0.0, 10.0], 25.0) == 2.5


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    tree = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps span 2: the union is 1..6
        _span(4, 2, 1.5, 2.0),
        _span(5, 1, 9.0, 12.0),  # runs past its parent: clipped at 10
    ]
    selfs = spans.self_times(tree)
    assert selfs[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert selfs[2] == pytest.approx(3.0 - 0.5)
    assert selfs[3] == pytest.approx(3.0)
    assert selfs[4] == pytest.approx(0.5)


def test_tracer_nests_and_wraps(monkeypatch):
    import types

    mod = types.ModuleType("perfbench_fake_layer")
    mod.work = lambda x: x + 1
    monkeypatch.setitem(sys.modules, "perfbench_fake_layer", mod)
    tr = spans.Tracer(True)
    tr.wrap("perfbench_fake_layer", "work", "layer.work")
    with tr.span("outer"):
        assert mod.work(1) == 2
    tr.unwrap_all()
    assert mod.work(1) == 2 and not hasattr(mod.work, "__wrapped__")
    outer = next(s for s in tr.spans if s["name"] == "outer")
    inner = next(s for s in tr.spans if s["name"] == "layer.work")
    assert inner["parent"] == outer["id"]
    assert tr.total("layer.work", outer["start"], outer["end"])[1] == 1


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(False)
    with tr.span("x"):
        pass
    tr.count("c", 3)
    assert tr.spans == [] and tr.counts == []


def _recorded_log():
    with open(os.path.join(HERE, "eventlog-small.jsonl")) as f:
        return spans.parse_event_log(f)


def test_event_log_parser_on_recorded_log():
    # Recorded from a local[2,2] session: a parquet write (job 0), then
    # a grouped read whose first task attempt fails on purpose.
    log = _recorded_log()
    assert sorted(log["jobs"]) == [0, 1, 2, 3]
    assert [log["jobs"][j]["group"] for j in range(4)] == [None, "span-1", "span-1", "span-1"]
    assert all(j["ok"] for j in log["jobs"].values())
    assert log["stages"][2]["task_ends"] == 3
    assert log["stages"][2]["failed_tasks"] == 1
    assert log["stages"][2]["shuffle_write_bytes"] == log["stages"][4]["shuffle_read_bytes"] == 266
    assert 3 not in log["stages"]  # skipped stage: no task ended in it
    scans = [e["scans"] for e in log["executions"]]
    assert scans[1] == ["InMemoryFileIndex(1 paths)[file:/data/documents.parquet]"]
    assert [e["exchanges"] for e in log["executions"]] == [0, 1]


def test_spark_metrics_window_and_ratios():
    log = _recorded_log()
    lo = min(j["submit"] for j in log["jobs"].values())
    hi = max(j["end"] for j in log["jobs"].values())
    m = spans.spark_metrics(log, lo, hi, cores=2)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (4, 4, 7)
    assert m["spark.failed_tasks"] == 1
    assert m["spark.input_bytes"] == 2650
    assert m["spark.core_busy_ratio"] == pytest.approx(m["spark.task_run_s"] / ((hi - lo) * 2))
    busy = sum(j["end"] - j["submit"] for j in log["jobs"].values())  # jobs do not overlap
    assert m["spark.driver_gap_s"] == pytest.approx((hi - lo) - busy)
    only_last = spans.spark_metrics(log, log["jobs"][3]["submit"], hi, cores=2)
    assert only_last["spark.jobs"] == 1 and only_last["spark.tasks"] == 1


def test_attribute_jobs_to_innermost_span():
    log = _recorded_log()
    j = log["jobs"]
    tree = [
        _span(1, None, j[0]["submit"] - 1, j[3]["end"] + 1),
        _span(2, 1, j[2]["submit"] - 0.01, j[2]["end"]),
    ]
    spans.attribute_jobs(tree, log)
    assert tree[0]["self_jobs"] == [0, 1, 3]
    assert tree[1]["self_jobs"] == [2]


def _digest_dir(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_generators_are_deterministic_per_seed(tmp_path):
    for seed, name in ((5, "a"), (5, "b"), (6, "c")):
        gen.write_fixture(seed, 0.001, str(tmp_path / name / "fx"))
        gen.write_flow_files(seed, 3, str(tmp_path / name / "flows"))
    for sub in ("fx", "flows"):
        assert _digest_dir(tmp_path / "a" / sub) == _digest_dir(tmp_path / "b" / sub)
        assert _digest_dir(tmp_path / "a" / sub) != _digest_dir(tmp_path / "c" / sub)


def test_churn_and_query_order_follow_the_seed():
    base = gen.fixture_tables(5, 0.001)
    a = gen.churned_snapshot(base, 5, 1)
    b = gen.churned_snapshot(base, 5, 1)
    c = gen.churned_snapshot(base, 6, 1)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["customer"].equals(c["customer"])
    names = ["q1", "q2", "q3", "q4"]
    assert gen.query_order(5, names, 3) == gen.query_order(5, names, 3)
    assert gen.query_order(5, names, 3) != gen.query_order(6, names, 3)
    assert all(sorted(p) == names for p in gen.query_order(5, names, 3))


def test_flow_files_churn_keys_and_advance_time():
    files = gen.flow_files(9, 12)
    day_us = 86_400 * 1_000_000
    starts = [f.column("ts").cast("int64")[0].as_py() for f in files]
    assert all(b - a >= (gen.FLOW["days_per_file"] - 1) * day_us for a, b in zip(starts, starts[1:]))
    srcs = [set(x % 25 for x in f.column("user_id").to_pylist()) for f in files]
    assert set(range(gen.FLOW["hot_services"])) <= srcs[0] & srcs[-1]
    assert srcs[0] != srcs[-1]  # the cold window drifted
    protos = [set(f.column("event_type").to_pylist()) for f in files]
    assert len(set().union(*protos)) > len(protos[0])  # new edge keys appear
