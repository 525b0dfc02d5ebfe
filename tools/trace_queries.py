"""Trace registered queries layer by layer with perfbench's tracer.

Usage:
  python tools/trace_queries.py [--reps N] [--explain DIR] [all | query ...]

With no names it traces bench.py's headline suite; ``all`` traces every
registered query. The fixtures come from $SPARK_GRAFT_SF_DIR (default:
bench.py's) and PROFILE_CONF="k=v;k2=v2" adds Spark confs.

The session writes a local, non-rolling event log to a temp dir and runs
bench.py's warmup. Each query then runs N reps (default 3): rep 0 is the
cold run, the rest are warm. A rep is one perfbench tracer pass of
item -> build -> plan -> execute spans, with bench.py's action (count,
or collect for flagship) as execute, so perfbench's ``pass_layers``
splits it into build, plan and execute with their jobs, and the event
log adds stages. The engine stages through ``compat.stage``; each staging
call inside build is a span of its own, whose ``via`` reads
``localCheckpoint`` or ``staged_checkpoint`` (the ``keep_partitioning``
path), the two calls the tracer wraps.

Stdout gets one JSON line per query once Spark has stopped: ``cold``
and ``warm`` (median over the warm reps) layer seconds, jobs and stages,
where build includes the table reads, also shown as ``read_s``;
``stages``, each staging call of the last rep in call order as
[via, seconds, jobs]; ``rdds_held``, the persisted RDDs after each rep;
or ``error`` for a query that raised. A last line carries the totals and
the slowest warm queries. An unknown query name exits 2; a query that
raised makes the exit status 1.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.append(str(REPO / "perfbench"))

import bench  # noqa: E402
import run as perfbench_run  # noqa: E402
from host import nproc  # noqa: E402
from spans import Tracer, _ancestors, parse_event_log, pass_layers  # noqa: E402

LAYERS = {
    "wall_s": "item.wall_s", "build_s": "build_s", "read_s": "read_s",
    "plan_s": "plan_s", "execute_s": "execute_s", "build_jobs": "build.jobs",
    "execute_jobs": "execute.jobs", "execute_stages": "execute.stages",
}


def run_query(tr: Tracer, spark, fn, name: str, sf_dir: str):
    """One traced rep, as perfbench/run.py's run_query, with bench.py's
    action as execute."""
    with tr.span("item"):
        with tr.span("build"):
            df = fn(spark, sf_dir)
        with tr.span("plan") as span:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for k in ("analysis", "optimization", "planning"):
                got = phases.get(k)
                if got.isDefined():
                    span.attrs[k] = float(got.get().durationMs())
        with tr.span("execute"):
            bench.action(name, df)
    return df


def rep_record(tr: Tracer, groups: dict, p: int, cores: int) -> tuple[dict, list]:
    """Layers of one rep, with the stages its build ran, and its
    top-level staging calls in call order."""
    layers = pass_layers(tr.spans, groups, p, cores)
    out = {
        k: round(layers.get(v, 0.0), 3) if k.endswith("_s") else int(layers.get(v, 0))
        for k, v in LAYERS.items()
    }
    out["build_stages"], calls = 0, []
    for i, s in enumerate(tr.spans):
        if s.pass_no != p:
            continue
        names = [s.name] + [tr.spans[a].name for a in _ancestors(tr.spans, i)]
        if "build" in names:
            out["build_stages"] += int(groups.get(f"s{i}", {}).get("stages", 0))
        if s.name == "stage" and "stage" not in names[1:]:
            calls.append([s.attrs.get("via"), round(s.dur, 3), s.jobs])
    return out, calls


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=3, help="cold rep + warm reps")
    ap.add_argument("--explain", metavar="DIR", help='write .explain("formatted") per query')
    ap.add_argument("queries", nargs="*", help="query names, or all")
    args = ap.parse_args(argv)
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR)
    conf = dict(
        kv.strip().split("=", 1) for kv in os.environ.get("PROFILE_CONF", "").split(";")
        if "=" in kv
    )

    from orchestrated_etl_spark import registry

    qs = registry.queries()
    names = list(qs) if args.queries == ["all"] else args.queries or bench.suite(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"trace_queries: unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2

    from orchestrated_etl_spark.session import get_spark

    root = Path(tempfile.mkdtemp(prefix="trace_queries-"))
    (root / "eventlog").mkdir()
    conf.update(perfbench_run.event_log_conf(root))
    spark = get_spark("trace_queries", extra_conf=conf)
    tr = Tracer(spark, enabled=True)
    errors: dict[str, str] = {}
    passes: dict[str, list[int]] = {}
    pass_nos = itertools.count()
    try:
        bench.warmup(spark, qs, sf_dir)
        tr.install()
        for name in names:
            tr.item, t0 = name, time.perf_counter()
            try:
                for _ in range(args.reps):
                    tr.pass_no = next(pass_nos)
                    passes.setdefault(name, []).append(tr.pass_no)
                    df = run_query(tr, spark, qs[name], name, sf_dir)
                    tr.storage_snapshot()
                if args.explain:
                    Path(args.explain).mkdir(parents=True, exist_ok=True)
                    plan = df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted")
                    (Path(args.explain) / f"{name}.txt").write_text(plan)
            except Exception as ex:  # noqa: BLE001 - reported, the run goes on
                traceback.print_exc()
                errors[name] = f"{type(ex).__name__}: {str(ex)[:300]}"
            print(f"trace_queries: {name} {time.perf_counter() - t0:.2f}s"
                  f"{' ERROR' if name in errors else ''}", file=sys.stderr, flush=True)
    finally:
        tr.uninstall()
        perfbench_run.shutdown(spark)
    try:
        groups = parse_event_log(next((root / "eventlog").iterdir()))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    cores, totals = nproc(), {"cold": {}, "warm": {}}
    slowest = []
    for name in names:
        if name in errors:
            print(json.dumps({"query": name, "error": errors[name]}))
            continue
        reps = [rep_record(tr, groups, p, cores) for p in passes[name]]
        line = {"query": name, "cold": reps[0][0], "warm": None}
        if len(reps) > 1:
            line["warm"] = {
                k: round(statistics.median(r[k] for r, _ in reps[1:]), 3)
                for k in reps[0][0]
            }
            slowest.append((line["warm"]["wall_s"], name))
        line["stages"] = reps[-1][1]
        line["rdds_held"] = [
            int(tr.counters[(p, "storage.rdds_held")]) for p in passes[name]
        ]
        for phase in ("cold", "warm"):
            for k, v in (line[phase] or {}).items():
                totals[phase][k] = round(totals[phase].get(k, 0.0) + v, 3)
        print(json.dumps(line))
    print(json.dumps({
        "summary": {"queries": len(names), "reps": args.reps, "sf_dir": sf_dir, "cores": cores},
        **totals,
        "slowest_warm": [[n, s] for s, n in sorted(slowest, reverse=True)[:10]],
        "errors": sorted(errors),
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
