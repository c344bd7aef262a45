"""Tests of the benchmark's pure pieces. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os

import pytest

from perfbench.stats import (
    MIN_BEYOND,
    NAME_RE,
    check_benchmark_json,
    percentile,
    self_times,
    supported_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_percentile_interpolates_between_order_statistics():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 0.5) == 3.0
    assert percentile(xs, 0.25) == 2.0
    assert percentile([1.0, 2.0], 0.5) == 1.5
    assert percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile(xs, 1.0)


def test_supported_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    assert supported_percentile(xs, 0.9) == percentile(xs, 0.9)
    with pytest.raises(ValueError):
        supported_percentile(xs[:99], 0.9)
    assert supported_percentile(xs[:2 * MIN_BEYOND], 0.5) == percentile(xs[:20], 0.5)
    with pytest.raises(ValueError):
        supported_percentile(xs[:2 * MIN_BEYOND - 1], 0.5)


def _span(i, start, end, parent=None, name="x"):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps its sibling: counted once
        _span(3, 8.0, 12.0, parent=0),  # sticks out: only 8-10 is covered
        _span(4, 1.5, 2.0, parent=1),  # a grandchild is its parent's, not ours
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 8.0))
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_self_time_of_a_leaf_is_its_duration():
    assert self_times([_span(7, 2.0, 2.5)]) == {7: pytest.approx(0.5)}


def _doc():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_keeps_schema():
    doc = _doc()
    assert check_benchmark_json(doc) == []
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    for p in doc["paths"]:
        assert os.path.isdir(os.path.join(ROOT, p))


def test_benchmark_json_names_known_workloads():
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in _doc()["workloads"]} == set(WORKLOADS)


@pytest.mark.parametrize("mutate", [
    lambda d: d.pop("per_layer"),
    lambda d: d.update(run_seconds=61),
    lambda d: d.update(command=["python3", "/abs/run.py"]),
    lambda d: d["end_to_end"][0].update(bound=0.3),
    lambda d: d["end_to_end"].append(dict(d["end_to_end"][0])),
    lambda d: d["per_layer"][0].update(name="bad name"),
    lambda d: d["per_layer"][0].update(unit="a very long unit name"),
    lambda d: d["workloads"][0].update(why="two\nlines"),
    lambda d: d.update(end_to_end=[m for m in d["end_to_end"] if m["name"] != "setup_s"]),
])
def test_benchmark_json_schema_rejects(mutate):
    doc = copy.deepcopy(_doc())
    mutate(doc)
    assert check_benchmark_json(doc)


@pytest.mark.parametrize("name,ok", [
    ("latency_p50_s", True),
    ("exec.shuffle_read_bytes", True),
    ("9lives", True),
    ("_private", False),
    (".dot", False),
    ("has space", False),
    ("x" * 64, True),
    ("x" * 65, False),
])
def test_metric_name_validity(name, ok):
    assert bool(NAME_RE.fullmatch(name)) is ok


def test_every_metric_name_the_runner_emits_is_declared():
    from perfbench import trace

    doc = _doc()
    declared = {m["name"] for m in doc["per_layer"]}
    assert set(trace.EXEC_COUNTERS) <= declared
    for name in declared | {m["name"] for m in doc["end_to_end"]}:
        assert NAME_RE.fullmatch(name)


def test_parse_duration_reads_totals_and_bare_values():
    from perfbench.trace import parse_duration

    assert parse_duration("12 ms") == pytest.approx(0.012)
    assert parse_duration("total (min, med, max (stageId: taskId))\n"
                          "1.5 s (0 ms, 10 ms, 1.2 s (stage 3.0: task 5))") == pytest.approx(1.5)
    assert parse_duration("2.0 m") == pytest.approx(120.0)
    assert parse_duration("1,234 ms") == pytest.approx(1.234)


def test_issue_order_is_a_seeded_permutation():
    from perfbench.run import issue_order

    qs = [f"q{i}" for i in range(10)]
    assert issue_order(qs, 3, 0) == issue_order(qs, 3, 0)
    assert sorted(issue_order(qs, 3, 1)) == qs
    assert issue_order(qs, 3, 0) != issue_order(qs, 4, 0)
    assert issue_order(qs, 3, 1) == issue_order(qs, 3, 0)[::-1]
    assert issue_order(qs, 3, 2) != issue_order(qs, 3, 0)


def test_normalize_ignores_row_and_column_order():
    from perfbench.workloads import normalize

    a = normalize(["b", "a"], [(1.5, "x"), (None, "y")])
    b = normalize(["a", "b"], [("y", None), ("x", 1.5)])
    assert a == b
    assert normalize(["a"], [(0.1,)]) != normalize(["a"], [(0.1000001,)])


def test_golden_counts_cover_the_job_slice():
    from perfbench.workloads import JOB_QUERIES, load_golden

    golden = load_golden()
    assert set(JOB_QUERIES) == set(golden)
    assert all(v >= 0 for v in golden.values())


# row counts of the repository's sf0.01 test tables, which the copies
# under perfbench/data must keep
SF001_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
    "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
    "embeddings": 500,
}


def test_ops_tables_are_the_sf001_test_tables():
    import pyarrow.parquet as pq

    from perfbench.workloads import OPS_DATA

    found = {f[:-len(".parquet")] for f in os.listdir(OPS_DATA) if f.endswith(".parquet")}
    assert found == set(SF001_ROWS)
    for name, rows in SF001_ROWS.items():
        assert pq.ParquetFile(os.path.join(OPS_DATA, f"{name}.parquet")).metadata.num_rows == rows


def test_metrics_carry_their_declared_units():
    from perfbench.run import with_units

    out = with_units({"setup_s": 1.5, "exec.jobs": 3})
    assert out == {"setup_s": {"value": 1.5, "unit": "s"},
                   "exec.jobs": {"value": 3, "unit": "count"}}
    with pytest.raises(KeyError):
        with_units({"undeclared_metric": 1.0})


class _FakeSC:
    def __init__(self):
        self.groups, self.cancelled = [], []

    def setJobGroup(self, group, desc, interruptOnCancel=False):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        pass

    def cancelJobGroup(self, group):
        self.cancelled.append(group)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeSC()


def test_context_pool_carries_the_job_group_into_its_threads():
    import contextvars

    from perfbench.trace import _QUERY, _ContextPool

    spark = _FakeSpark()

    def in_query():
        _QUERY.set("wl/p0/q1")
        with _ContextPool(spark, max_workers=2) as pool:
            return list(pool.map(lambda x: (x, _QUERY.get()), [1, 2, 3]))

    assert contextvars.copy_context().run(in_query) == [
        (1, "wl/p0/q1"), (2, "wl/p0/q1"), (3, "wl/p0/q1")]
    assert spark.sparkContext.groups == ["wl/p0/q1"] * 3


def test_a_query_answering_after_the_timeout_counts_as_a_timeout(monkeypatch):
    import time

    from perfbench import run
    from perfbench.trace import Tracer

    class Slow:
        name, clients, queries = "slow", 1, ["fast", "slow"]
        cleared = 0

        def run(self, qid, tracer):
            time.sleep(0.3 if qid == "slow" else 0.0)
            return qid

        def after_query(self, spark):
            Slow.cleared += 1

    monkeypatch.setattr(run, "QUERY_TIMEOUT_S", 0.15)
    spark = _FakeSpark()
    records, wall = run.run_passes(Slow(), spark, 1, "p", Tracer(), 1)
    status = {r.qid: r.status for r in records}
    assert status == {"fast": "ok", "slow": "timeout"}
    assert spark.sparkContext.cancelled == ["slow/p0/slow"]
    assert Slow.cleared == 2
    assert wall > 0
