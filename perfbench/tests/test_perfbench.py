"""The benchmark's own tests.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
The smoke tests start Spark once per workload at sf0.001 (about a minute
each).
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- metric names and units ------------------------------------------------
def test_end_to_end_names_and_units_match_the_spec():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END


def test_per_layer_names_and_units_match_the_spec():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == spans.LAYER_METRICS


def test_spec_workloads_and_command():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


# -- percentiles -----------------------------------------------------------
def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert stats.tail_pct(100) == 90
    assert stats.tail_pct(40) == 75
    assert stats.tail_pct(20) == 50
    assert stats.tail_pct(19) == 47
    assert stats.tail_pct(9) == 0
    for n in range(10, 300):
        assert n * (100 - stats.tail_pct(n)) / 100 >= 10


def test_warm_samples_support_no_shared_tail_metric():
    """A run's warm item samples number WARM_PASSES per item; on the
    smaller workload that leaves no percentile above the median with ten
    samples beyond it, which is why END_TO_END reports the median and no
    tail."""
    fewest = min(len(wl.items) for wl in workloads.WORKLOADS.values())
    assert stats.tail_pct(fewest * workloads.WARM_PASSES) < 50
    assert [k for k in run.END_TO_END if k.startswith("item_p")] == ["item_p50_s"]


def test_percentile_interpolates():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert stats.percentile([5.0], 90) == 5.0


# -- job counting ----------------------------------------------------------
class _Scheduler:
    def __init__(self):
        self.next_id = 10

    def nextJobId(self):
        return self.next_id


class _Context:
    """A SparkContext reduced to what the tracer touches."""

    def __init__(self):
        self.sched = _Scheduler()
        self.props = {}
        self._jsc = self

    def sc(self):
        return self

    def dagScheduler(self):
        return self.sched

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _Session:
    def __init__(self):
        self.sparkContext = _Context()


def test_span_jobs_are_max_job_id_deltas():
    spark = _Session()
    tr = spans.Tracer(spark, enabled=True)
    with tr.span("outer"):
        spark.sparkContext.sched.next_id += 2
        with tr.span("inner") as inner:
            assert spark.sparkContext.props[spans.GROUP_KEY] == "s1"
            spark.sparkContext.sched.next_id += 5  # jobs 12..16
        spark.sparkContext.sched.next_id += 1
    assert inner.jobs == 5
    assert tr.spans[0].jobs == 8
    assert spark.sparkContext.props[spans.GROUP_KEY] is None


# -- layer accounting ------------------------------------------------------
def _span(name, start, end, parent=None, **attrs):
    return spans.Span(name, start, end, parent=parent, item="q", pass_no=1, attrs=attrs)


def test_pass_layers_splits_build_plan_execute_and_self_time():
    ss = [
        _span("item", 0.0, 10.0),            # 0
        _span("build", 0.0, 6.0, 0),         # 1
        _span("read", 0.0, 1.0, 1),          # 2
        _span("stage", 1.0, 4.0, 1),         # 3
        _span("stage", 1.5, 3.5, 3),         # 4: nested, counted once
        _span("plan", 6.0, 6.5, 0, analysis=3.0),  # 5
        _span("execute", 6.5, 9.5, 0),       # 6
    ]
    ss[1].jobs, ss[6].jobs = 4, 2
    groups = {"s6": {"tasks": 8, "run_ms": 6000.0, "stages": 2}}
    out = spans.pass_layers(ss, groups, 1, cores=4)
    assert out["build_s"] == 6.0
    assert out["build.self_s"] == 2.0  # minus read (1) and outer stage (3)
    assert out["read.calls"] == 1
    assert out["compat.stage.calls"] == 1
    assert out["compat.stage_s"] == 3.0
    assert out["plan_s"] == 0.5 and out["plan.analysis_ms"] == 3.0
    assert out["execute_s"] == 3.0 and out["execute.tasks"] == 8
    assert out["build.jobs"] == 4 and out["execute.jobs"] == 2
    assert out["item.remainder_s"] == pytest.approx(0.5)
    assert out["execute.busy_ratio"] == pytest.approx(6000.0 / (3000.0 * 4))


def test_pass_layers_attributes_pipeline_spans():
    ss = [
        _span("item", 0.0, 5.0),                         # 0
        _span("pipeline.run", 0.0, 4.8, 0),              # 1
        _span("source", 0.0, 0.2, 1, label="books"),     # 2
        _span("source.read", 0.2, 0.7, 1, label="books"),  # 3
        _span("transform", 0.7, 0.8, 1),                 # 4
        _span("validate", 0.8, 1.3, 1),                  # 5
        _span("sink", 1.3, 4.8, 1),                      # 6
    ]
    out = spans.pass_layers(ss, {}, 1, cores=4)
    assert out["pipeline.run_s"] == 4.8
    assert out["pipeline.attempts"] == 1
    assert out["books.read_s"] == pytest.approx(0.5)
    assert out["build_s"] == pytest.approx(0.3)
    assert out["execute_s"] == pytest.approx(4.0)
    assert out["sinks.write_s"] == pytest.approx(3.5)
    assert out["item.remainder_s"] == pytest.approx(0.2)


def test_parse_event_log_groups_jobs_stages_and_tasks(tmp_path):
    def task(stage, run_ms, failed=False):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Failed": failed},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": 2_000_000,
                "JVM GC Time": 1,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
                "Disk Bytes Spilled": 0,
                "Output Metrics": {"Records Written": 3, "Bytes Written": 30},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {spans.GROUP_KEY: "s4"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        task(1, 7), task(1, 5, failed=True), task(2, 100),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = spans.parse_event_log(log)
    assert set(got) == {"s4"}
    g = got["s4"]
    assert (g["jobs"], g["stages"], g["tasks"], g["failed_tasks"]) == (1, 1, 2, 1)
    assert g["run_ms"] == 12 and g["cpu_ms"] == 4.0
    assert g["shuffle_read_b"] == 20


# -- output checks ---------------------------------------------------------
def test_digest_ignores_row_and_column_order_and_decimal_scale():
    a = oracle.digest(["b", "A"], [(Decimal("1.50"), 2), (None, 1)])
    b = oracle.digest(["a", "B"], [(1, None), (2, Decimal("1.5"))])
    assert a == b
    assert oracle.digest(["x"], [(0.0,)]) == oracle.digest(["x"], [(-0.0,)])
    assert oracle.digest(["x"], [(1,)]) != oracle.digest(["x"], [(1.0,)])
    assert oracle.canon(dt.date(2020, 1, 2)) == "2020-01-02"
    assert oracle.canon(float("nan")) == "NaN"


def test_pass_order_is_a_seeded_permutation():
    wl = workloads.WORKLOADS["relational_etl"]
    first = workloads.pass_order(wl, 7, 0)
    assert first == workloads.pass_order(wl, 7, 0)
    assert sorted(first) == sorted(wl.items)
    assert first != workloads.pass_order(wl, 8, 0)


# -- end to end ------------------------------------------------------------
def _run(*args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_sf0001(workload):
    res = _run("--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", "0", "--sf", "0.001")
    assert res.returncode == 0, res.stderr[-3000:]
    detail, out = (json.loads(line) for line in res.stdout.splitlines()[-2:])
    assert out["correct"] is True and out["failed"] == 0, detail["failures"]
    # one cold pass and WARM_PASSES warm ones, however long they take
    passes = 1 + workloads.WARM_PASSES
    assert out["attempted"] == passes * len(workloads.WORKLOADS[workload].items)
    assert detail["warm_passes"] == workloads.WARM_PASSES
    assert {k: m["unit"] for k, m in out["metrics"].items()} == run.END_TO_END
    assert all(m["value"] > 0 for m in out["metrics"].values())
    assert not (BENCH / ".run").exists()


def test_smoke_sf0001_traced():
    res = _run("--workload", "relational_etl", "--seed", "2", "--seconds", "1",
               "--trace", "1", "--sf", "0.001")
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.splitlines()[-1])
    assert out["correct"] is True
    got = {k: m["value"] for k, m in out["metrics"].items()}
    assert set(got) == set(spans.LAYER_METRICS)
    assert got["compat.stage.calls"] == 0
    assert got["sinks.rows"] > 0 and got["pipeline.run_s"] > 0
    assert got["execute.jobs"] > 0 and got["read.calls"] > 0
    assert got["books.read_s"] > 0 and got["books.rows_per_s"] > 0


def test_fails_without_the_engine(tmp_path):
    """A directory holding only the benchmark exits non-zero, no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "data", ".run", ".cache"))
    res = _run("--workload", "relational_etl", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=tmp_path, timeout=120)
    assert res.returncode != 0
    assert res.stdout.strip() == ""
