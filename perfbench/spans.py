"""Spans and counters recorded from the benchmark's side of each layer.

A traced run times the calls the benchmark makes into each layer and, for
the run's duration only, wraps three engine entry points so the work they
do inside a query function shows as its own span:

- ``DataFrameReader.parquet`` (every catalog table read) -> ``read``;
- ``compat.staged_checkpoint`` and ``DataFrame.localCheckpoint`` (the
  staging primitives) -> ``stage``, counted once when nested;
- the pipeline callables the benchmark builds -> ``source``,
  ``transform``, ``validate`` and ``sink``; the books source is also read
  on its own -> ``source.read``.

Each span gets its own Spark job group, so the event log written under
the run root attributes jobs, stages, tasks and executor time to it.
Jobs are counted as deltas of the highest job id, which stays exact
however many finished jobs the status tracker has already forgotten.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"

# Spans whose time counts toward an item's execute layer.
EXEC_SPANS = ("execute", "validate", "sink")
BUILD_SPANS = ("build", "source", "transform")


class JobClock:
    """The highest job id started so far in this SparkContext, read from
    the DAG scheduler's job counter (exact, but not public API)."""

    def __init__(self, sc) -> None:
        self._sched = sc._jsc.sc().dagScheduler()

    def max_job_id(self) -> int:
        return int(self._sched.nextJobId()) - 1


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    item: str | None = None
    pass_no: int | None = None
    jobs: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one no-op
    context manager and ``wrap`` returns the callable unchanged."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[tuple[int, str], float] = defaultdict(float)
        self.item: str | None = None
        self.pass_no: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        if enabled:
            self._sc = spark.sparkContext
            self._clock = JobClock(self._sc)

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def _span(self, name: str, **attrs):
        idx = len(self.spans)
        span = Span(
            name, 0.0, parent=self._stack[-1] if self._stack else None,
            item=self.item, pass_no=self.pass_no, attrs=attrs,
        )
        self.spans.append(span)
        prev_group = self._sc.getLocalProperty(GROUP_KEY)
        self._sc.setLocalProperty(GROUP_KEY, f"s{idx}")
        j0 = self._clock.max_job_id()
        self._stack.append(idx)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            span.jobs = self._clock.max_job_id() - j0
            self._sc.setLocalProperty(GROUP_KEY, prev_group)

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, **attrs)

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def wrap(self, name: str, label: str, fn, force_read: bool = False):
        """Wrap a pipeline callable in a span (identity when disabled).

        With ``force_read`` the callable is a source: its lazy DataFrame is
        then also read in full (a ``noop`` write) in a ``source.read`` span
        after it, so the source's own read time shows apart from the
        stages and sinks that would otherwise pull it. The pipeline reads
        the source again itself; this read is extra work of the traced
        run only."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self._span(name, label=label):
                out = fn(*args, **kwargs)
            if force_read:
                with self._span("source.read", label=label):
                    out.write.format("noop").mode("overwrite").save()
            return out

        return traced

    def count(self, name: str, value: float, pass_no: int | None = None) -> None:
        """Add to a per-pass counter (of the current pass by default)."""
        pass_no = self.pass_no if pass_no is None else pass_no
        if self.enabled and pass_no is not None:
            self.counters[(pass_no, name)] += value

    # -- engine entry points ---------------------------------------------
    def install(self) -> None:
        """Wrap the engine's read and staging entry points."""
        if not self.enabled:
            return
        from pyspark.sql import DataFrameReader

        try:  # the class classic sessions instantiate
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        from orchestrated_etl_spark import compat

        tracer = self
        orig_parquet = DataFrameReader.parquet
        orig_lcp = DataFrame.localCheckpoint
        orig_staged = compat.staged_checkpoint

        def parquet(self, *paths, **options):
            with tracer._span("read"):
                return orig_parquet(self, *paths, **options)

        def local_checkpoint(self, *args, **kwargs):
            if tracer.inside("stage"):
                return orig_lcp(self, *args, **kwargs)
            with tracer._span("stage", via="localCheckpoint"):
                return orig_lcp(self, *args, **kwargs)

        def staged_checkpoint(df):
            with tracer._span("stage", via="staged_checkpoint"):
                return orig_staged(df)

        self._patch(DataFrameReader, "parquet", parquet)
        self._patch(DataFrame, "localCheckpoint", local_checkpoint)
        # modules that imported the name hold their own reference
        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("orchestrated_etl_spark")
                and getattr(mod, "staged_checkpoint", None) is orig_staged
            ):
                self._patch(mod, "staged_checkpoint", staged_checkpoint)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    def storage_snapshot(self) -> None:
        """Relations the block manager holds at the end of a pass."""
        if not self.enabled:
            return
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        self.count("storage.rdds_held", len(infos))
        self.count(
            "storage.mem_mb", sum(int(r.memSize()) for r in infos) / (1 << 20)
        )


# -- event log -------------------------------------------------------------
EVENT_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_read_b", "shuffle_write_b", "spill_b",
)


def parse_event_log(path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, executed stages, tasks and task metrics."""
    stage_group: dict[int, str] = {}
    agg: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(EVENT_FIELDS, 0.0)
    )
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get(GROUP_KEY)
                if group is None:
                    continue
                agg[group]["jobs"] += 1
                for s in e["Stage IDs"]:
                    stage_group[s] = group
            elif ev == "SparkListenerStageCompleted":
                group = stage_group.get(e["Stage Info"]["Stage ID"])
                if group is not None:
                    agg[group]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if group is None:
                    continue
                a = agg[group]
                a["tasks"] += 1
                a["failed_tasks"] += bool(e["Task Info"].get("Failed"))
                tm = e.get("Task Metrics") or {}
                a["run_ms"] += tm.get("Executor Run Time", 0)
                a["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                a["gc_ms"] += tm.get("JVM GC Time", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                a["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                a["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_b"] += tm.get("Disk Bytes Spilled", 0)
    return dict(agg)


# -- per-layer metrics -----------------------------------------------------
_MB = float(1 << 20)

LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "workers.start_s": "s",
    "traced.pass_s": "s",
    "item.wall_s": "s",
    "item.remainder_s": "s",
    "item.remainder_max_share": "ratio",
    "build_s": "s",
    "build.self_s": "s",
    "build.jobs": "count",
    "read_s": "s",
    "read.calls": "count",
    "read.jobs": "count",
    "compat.stage_s": "s",
    "compat.stage.calls": "count",
    "compat.stage.jobs": "count",
    "plan_s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "execute_s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.failed_tasks": "count",
    "execute.run_ms": "ms",
    "execute.cpu_ms": "ms",
    "execute.gc_ms": "ms",
    "execute.shuffle_read_mb": "MB",
    "execute.shuffle_write_mb": "MB",
    "execute.spill_mb": "MB",
    "execute.busy_ratio": "ratio",
    "storage.rdds_held": "count",
    "storage.mem_mb": "MB",
    "storage.rdds_growth": "count",
    "pipeline.run_s": "s",
    "pipeline.transform_s": "s",
    "pipeline.validate_s": "s",
    "pipeline.attempts": "count",
    "pipeline.jobs": "count",
    "sinks.write_s": "s",
    "sinks.rows": "count",
    "sinks.files": "count",
    "sinks.bytes_per_row": "B",
    "books.read_s": "s",
    "books.rows_per_s": "1/s",
    "cold.build_s": "s",
    "cold.read_s": "s",
    "cold.plan_s": "s",
    "cold.execute_s": "s",
    "cold.jobs": "count",
}


def _ancestors(spans: list[Span], idx: int) -> list[int]:
    """Indices of a span's ancestors, nearest first."""
    out, p = [], spans[idx].parent
    while p is not None:
        out.append(p)
        p = spans[p].parent
    return out


def pass_layers(
    spans: list[Span],
    groups: dict[str, dict[str, float]],
    pass_no: int,
    cores: int,
) -> dict[str, float]:
    """Layer totals of one pass. Build, plan and execute are the spans
    directly under an item or its ``pipeline.run``; reads and staging are
    counted wherever they occur, staging once when nested. Build self
    time excludes the reads and staging inside it."""
    out: dict[str, float] = defaultdict(float)
    ev: dict[str, float] = defaultdict(float)
    layered: dict[int, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if s.pass_no != pass_no:
            continue
        anc = _ancestors(spans, i)
        names = [spans[a].name for a in anc]
        top = bool(anc) and names[0] in ("item", "pipeline.run")
        if top and s.name in BUILD_SPANS + ("plan", "source.read") + EXEC_SPANS:
            layered[anc[names.index("item")]] += s.dur
        if s.name in BUILD_SPANS and top:
            out["build_s"] += s.dur
            out["build.self_s"] += s.dur
            out["build.jobs"] += s.jobs
            if s.name == "transform":
                out["pipeline.transform_s"] += s.dur
            if s.name == "source":
                out["pipeline.attempts"] += 1
        elif s.name == "source.read" and top:
            if s.attrs.get("label") == "books":
                out["books.read_s"] += s.dur
        elif s.name == "plan" and top:
            out["plan_s"] += s.dur
            for k in ("analysis", "optimization", "planning"):
                out[f"plan.{k}_ms"] += s.attrs.get(k, 0.0)
        elif s.name in EXEC_SPANS and top:
            out["execute_s"] += s.dur
            out["execute.jobs"] += s.jobs
            if s.name == "validate":
                out["pipeline.validate_s"] += s.dur
            if s.name == "sink":
                out["sinks.write_s"] += s.dur
        elif s.name == "pipeline.run":
            out["pipeline.run_s"] += s.dur
            out["pipeline.jobs"] += s.jobs
        elif s.name == "item":
            out["item.wall_s"] += s.dur
        inner = s.name == "read" or (s.name == "stage" and "stage" not in names)
        if inner and any(n in BUILD_SPANS for n in names):
            out["build.self_s"] -= s.dur
        if s.name == "read":
            out["read_s"] += s.dur
            out["read.calls"] += 1
            out["read.jobs"] += s.jobs
        elif s.name == "stage" and "stage" not in names:
            out["compat.stage_s"] += s.dur
            out["compat.stage.calls"] += 1
            out["compat.stage.jobs"] += s.jobs
        if s.name in EXEC_SPANS or any(n in EXEC_SPANS for n in names):
            for k, v in groups.get(f"s{i}", {}).items():
                ev[k] += v
    shares = [0.0]
    for i, s in enumerate(spans):
        if s.pass_no == pass_no and s.name == "item" and s.dur > 0:
            rest = s.dur - layered[i]
            out["item.remainder_s"] += rest
            shares.append(rest / s.dur)
    out["item.remainder_max_share"] = max(shares)
    out["execute.stages"] = ev["stages"]
    out["execute.tasks"] = ev["tasks"]
    out["execute.failed_tasks"] = ev["failed_tasks"]
    out["execute.run_ms"] = ev["run_ms"]
    out["execute.cpu_ms"] = ev["cpu_ms"]
    out["execute.gc_ms"] = ev["gc_ms"]
    out["execute.shuffle_read_mb"] = ev["shuffle_read_b"] / _MB
    out["execute.shuffle_write_mb"] = ev["shuffle_write_b"] / _MB
    out["execute.spill_mb"] = ev["spill_b"] / _MB
    if out["execute_s"] > 0:
        out["execute.busy_ratio"] = ev["run_ms"] / (
            out["execute_s"] * 1000.0 * cores
        )
    return out


def summarise(
    tracer: Tracer,
    groups: dict[str, dict[str, float]],
    cold: int,
    warm: list[int],
    cores: int,
    setup: dict[str, float],
    pass_walls: dict[int, float],
) -> dict[str, float]:
    """Per-layer metrics: warm-pass medians, plus the cold pass."""
    per_pass = {p: pass_layers(tracer.spans, groups, p, cores) for p in [cold, *warm]}
    for (p, name), v in tracer.counters.items():
        if p in per_pass:
            per_pass[p][name] += v
    for p, layers in per_pass.items():
        rows = layers.get("sinks.rows", 0.0)
        layers["sinks.bytes_per_row"] = (
            layers.get("sinks.bytes", 0.0) / rows if rows else 0.0
        )
        read_s = layers.get("books.read_s", 0.0)
        layers["books.rows_per_s"] = (
            layers.get("books.rows", 0.0) / read_s if read_s else 0.0
        )
    out: dict[str, float] = {}
    for name in LAYER_METRICS:
        if name.startswith("cold.") or name in setup:
            continue
        vals = [per_pass[p].get(name, 0.0) for p in warm]
        out[name] = statistics.median(vals) if vals else 0.0
    out.update(setup)
    out["traced.pass_s"] = statistics.median([pass_walls[p] for p in warm])
    last, first = per_pass[warm[-1]] if warm else per_pass[cold], per_pass[cold]
    out["storage.rdds_held"] = last.get("storage.rdds_held", 0.0)
    out["storage.mem_mb"] = last.get("storage.mem_mb", 0.0)
    out["storage.rdds_growth"] = last.get("storage.rdds_held", 0.0) - first.get(
        "storage.rdds_held", 0.0
    )
    c = per_pass[cold]
    out["cold.build_s"] = c.get("build_s", 0.0)
    out["cold.read_s"] = c.get("read_s", 0.0)
    out["cold.plan_s"] = c.get("plan_s", 0.0)
    out["cold.execute_s"] = c.get("execute_s", 0.0)
    out["cold.jobs"] = c.get("build.jobs", 0.0) + c.get("execute.jobs", 0.0)
    return out
