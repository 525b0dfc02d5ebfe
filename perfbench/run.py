"""End-to-end benchmark of the engine, with an optional traced run.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload relational_etl --seed 1 \\
        --seconds 40 --trace 0

One process starts Spark at ``local[nproc]``, sets up a warmed session,
then runs passes over the workload's items (see ``workloads.py``): one
cold pass and ``WARM_PASSES`` warm ones, whatever their speed;
``--seconds`` is the length a run is expected to measure, and a run that
measures longer says so on stderr. Every item is checked against DuckDB
(row count on every pass, full value digest on the cold pass); anything
that raises or mismatches counts as failed. The DuckDB work runs after
Spark has stopped, outside the timed region and the memory sampling.

All run state lives under one fresh directory in ``perfbench/.run/``:
the working directory, Spark's local and warehouse dirs, the JVM and
Python temp dirs, the event log and every sink output. It is deleted once
the clock has stopped. Oracle results are cached in ``perfbench/.cache/``.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the end-to-end
ones; with ``--trace 1`` they are the per-layer ones from ``spans.py``,
measured with tracing on. The line before it is a detail object (pass and
item timings, set-up steps, host record, failures, and in a traced run
every span); stderr carries a readable table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import host
import spans as spans_mod
import stats
from oracle import OracleCache, digest
from workloads import BOOKS_N, WARM_PASSES, WORKLOADS, Workload, pass_order

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "orchestrated_etl_spark" / "__init__.py"

# A run holds WARM_PASSES warm passes: 16 (iterative_staged) or 24
# (relational_etl) warm item samples, too few for any percentile that both
# workloads share above the median to have ten samples beyond it, so no
# tail percentile is reported (stats.tail_pct; the detail line carries the
# sample count).
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "item_p50_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", default="0.01", choices=("0.01", "0.001"),
        help="fixture scale under perfbench/data (0.001 for smoke tests)",
    )
    return ap.parse_args(argv)


def hermetic_env(run_root: Path, cores: int) -> dict[str, str]:
    """Point every writer at the run root; return the Spark confs that
    cannot be set through the environment."""
    dirs = {d: run_root / d for d in ("local", "tmp", "warehouse", "eventlog", "sinks")}
    for d in dirs.values():
        d.mkdir()
    py_path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "SPARK_LOCAL_DIRS": str(dirs["local"]),
            "TMPDIR": str(dirs["tmp"]),
            # Python workers import the package from the checkout
            "PYTHONPATH": os.pathsep.join(py_path),
            "SPARK_GRAFT_CPUS": str(cores),
            "TZ": "UTC",
            # the short-lived spark-submit launcher JVM; the driver JVM's
            # options are the extraJavaOptions below
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        }
    )
    time.tzset()
    tempfile.tempdir = str(dirs["tmp"])
    os.chdir(run_root)
    return {
        "spark.sql.warehouse.dir": str(dirs["warehouse"]),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={run_root}"
            " -XX:-UsePerfData"
        ),
    }


def event_log_conf(run_root: Path) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": (run_root / "eventlog").as_uri(),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


class Run:
    def __init__(self, args, workload: Workload, sf_dir: Path, run_root: Path, t0: float):
        self.args = args
        self.wl = workload
        self.sf_dir = sf_dir
        self.run_root = run_root
        self.t0 = t0
        self.cores = host.nproc()
        self.samples: list[tuple[int, str, float]] = []  # (pass, item, seconds)
        # (pass, item, what to check): (rows, digest or None) of a query,
        # the output directory of a pipeline
        self.results: list[tuple[int, str, object]] = []
        self.pass_walls: dict[int, float] = {}
        self.failures: list[dict] = []
        self.attempted = 0
        self.setup: dict[str, float] = {}
        self.spark = self.tracer = self.oracle = None

    # -- set-up ----------------------------------------------------------
    def start(self, conf: dict[str, str]) -> None:
        from orchestrated_etl_spark import registry
        from orchestrated_etl_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=conf)
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        for name in self.wl.queries:
            if name not in self.oracles:
                raise SystemExit(f"perfbench: query {name!r} has no oracle")
        t1 = time.perf_counter()
        self.setup["session.start_s"] = t1 - self.t0
        self.shuffle_width = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.tracer = spans_mod.Tracer(self.spark, enabled=bool(self.args.trace))
        self.tracer.install()

        from pyspark.sql import functions as F

        from orchestrated_etl_spark import schemas
        from orchestrated_etl_spark.sources.books_source import register_books_source
        from orchestrated_etl_spark.sources.catalog import load_table

        sf = str(self.sf_dir)
        tables = {name: load_table(self.spark, sf, name) for name in schemas.TABLES}
        tables["lineitem"].groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.avg("l_discount"), F.count(F.lit(1))
        ).collect()
        t2 = time.perf_counter()
        self.setup["session.warmup_s"] = t2 - t1
        register_books_source(self.spark)
        self.spark.read.format("books").option("n", 1000).option(
            "page_size", 100
        ).load().count()
        t3 = time.perf_counter()
        self.setup["workers.start_s"] = t3 - t2
        self.setup_s = t3 - self.t0

    # -- items -----------------------------------------------------------
    def run_query(self, name: str):
        tr = self.tracer
        with tr.span("build"):
            df = self.queries[name](self.spark, str(self.sf_dir))
        if tr.enabled:
            with tr.span("plan") as span:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                for k in ("analysis", "optimization", "planning"):
                    got = phases.get(k)
                    if got.isDefined():
                        span.attrs[k] = float(got.get().durationMs())
        with tr.span("execute"):
            rows = df.collect()
        return df, rows

    def run_pipeline(self, name: str, pass_no: int) -> Path:
        out_dir = self.run_root / "sinks" / f"p{pass_no}" / name
        pipe = self.wl.pipeline(name).make(str(self.sf_dir), str(out_dir), self.tracer.wrap)
        with self.tracer.span("pipeline.run"):
            pipe.run(self.spark)
        return out_dir

    # -- passes ----------------------------------------------------------
    def run_pass(self, pass_no: int) -> float:
        tr = self.tracer
        tr.pass_no = pass_no
        done = []
        t_pass = time.perf_counter()
        for name in pass_order(self.wl, self.args.seed, pass_no):
            tr.item = name
            self.attempted += 1
            t_item = time.perf_counter()
            try:
                with tr.span("item"):
                    if self.wl.pipeline(name) is not None:
                        out = self.run_pipeline(name, pass_no)
                    else:
                        out = self.run_query(name)
            except Exception:  # noqa: BLE001 - a failing item is counted, not fatal
                self.samples.append((pass_no, name, time.perf_counter() - t_item))
                self.fail(pass_no, name, traceback.format_exc())
                continue
            self.samples.append((pass_no, name, time.perf_counter() - t_item))
            done.append((name, out))
        wall = time.perf_counter() - t_pass
        tr.item = None
        for name, out in done:
            if isinstance(out, Path):
                self.results.append((pass_no, name, out))
                if name == "books_fanout":
                    tr.count("books.rows", BOOKS_N)
            else:
                df, rows = out
                dig = digest(df.columns, rows)[1] if pass_no == 0 else None
                self.results.append((pass_no, name, (len(rows), dig)))
        done.clear()
        tr.storage_snapshot()
        tr.pass_no = None
        self.pass_walls[pass_no] = wall
        return wall

    def measure(self) -> None:
        t_measure = time.perf_counter()
        for pass_no in range(1 + WARM_PASSES):
            self.run_pass(pass_no)
        self.measure_s = time.perf_counter() - t_measure
        if self.measure_s > self.args.seconds:
            print(
                f"perfbench: measured {self.measure_s:.1f} s, "
                f"longer than --seconds {self.args.seconds:g}",
                file=sys.stderr,
            )

    # -- checks (after Spark has stopped) ---------------------------------
    def fail(self, pass_no: int, name: str, why: str) -> None:
        self.failures.append({"pass": pass_no, "item": name, "why": why[-2000:]})

    def verify(self) -> None:
        """Compare every recorded result with its DuckDB oracle."""
        cache_dir = HERE / ".cache" / f"sf{self.args.sf}"
        self.oracle = OracleCache(cache_dir, self.sf_dir, self.run_root / "tmp")
        try:
            for pass_no, name, got in self.results:
                if isinstance(got, Path):
                    self.check_pipeline(pass_no, name, got)
                else:
                    self.check_query(pass_no, name, *got)
        finally:
            self.oracle.close()

    def check_query(self, pass_no: int, name: str, rows: int, dig: str | None) -> None:
        want_rows, want_digest = self.oracle.expected(self.oracles[name])
        if rows != want_rows:
            self.fail(pass_no, name, f"rows {rows} != oracle {want_rows}")
        elif dig is not None and dig != want_digest:
            self.fail(pass_no, name, "value multiset differs from oracle")

    def check_pipeline(self, pass_no: int, name: str, out_dir: Path) -> None:
        item = self.wl.pipeline(name)
        con = self.oracle.connection()
        for sink, sql in item.sink_sql().items():
            path = out_dir / sink
            files = list(path.rglob("*.parquet"))
            hive = "true" if sink in item.partitioned else "false"
            scan = f"read_parquet('{path}/**/*.parquet', hive_partitioning = {hive})"
            want_rows, want_digest = self.oracle.expected(sql)
            if pass_no == 0:
                res = con.execute(f"SELECT * FROM {scan}")
                rows, dig = digest([d[0] for d in res.description], res.fetchall())
            else:
                rows, dig = con.execute(f"SELECT count(*) FROM {scan}").fetchone()[0], None
            if rows != want_rows or (dig is not None and dig != want_digest):
                self.fail(pass_no, f"{name}/{sink}",
                          f"sink holds {rows} rows (oracle {want_rows}) or other values")
            self.tracer.count("sinks.rows", rows, pass_no)
            self.tracer.count("sinks.files", len(files), pass_no)
            self.tracer.count("sinks.bytes", sum(f.stat().st_size for f in files), pass_no)

    # -- results ---------------------------------------------------------
    def end_to_end(self, peak_rss_mb: float) -> dict[str, float]:
        warm = [dt for p, _, dt in self.samples if p > 0]
        return {
            "setup_s": self.setup_s,
            "first_pass_s": self.pass_walls[0],
            "pass_s": statistics.median(
                w for p, w in self.pass_walls.items() if p > 0
            ),
            "item_p50_s": stats.percentile(warm, 50),
            "peak_rss_mb": peak_rss_mb,
        }

    def stop(self) -> None:
        """Release what the run started, also after a failure."""
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is not None:
            shutdown(self.spark)
            self.spark = None

    def failed_items(self) -> int:
        return len({(f["pass"], f["item"].split("/")[0]) for f in self.failures})


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while host.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in host.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _steal_share(start: dict[str, int], end: dict[str, int]) -> float:
    """Share of host CPU time stolen by the hypervisor during the run."""
    delta = {k: end[k] - start[k] for k in start}
    return delta["steal"] / max(1, sum(delta.values()))


def report(name_units: dict[str, str], values: dict[str, float]) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in name_units.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not PACKAGE.is_file():
        print(f"perfbench: engine package not found at {PACKAGE.parent}", file=sys.stderr)
        return 2
    sf_dir = HERE / "data" / f"sf{args.sf}"
    if not sf_dir.is_dir():
        print(f"perfbench: fixture data not found at {sf_dir}", file=sys.stderr)
        return 2
    host_start = host.host_record()
    t0 = time.perf_counter()
    runs_dir = HERE / ".run"
    runs_dir.mkdir(exist_ok=True)
    run_root = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir))
    cwd = os.getcwd()
    run = Run(args, WORKLOADS[args.workload], sf_dir, run_root, t0)
    try:
        conf = hermetic_env(run_root, run.cores)
        if args.trace:
            conf.update(event_log_conf(run_root))
        sys.path.insert(0, str(ROOT))
        with host.TreeRssSampler() as rss:
            try:
                run.start(conf)
                run.measure()
                host_end = host.host_record()
            finally:
                run.stop()
        run.verify()
        warm = [p for p in run.pass_walls if p > 0]
        if args.trace:
            logs = [p for p in (run_root / "eventlog").iterdir()]
            groups = spans_mod.parse_event_log(logs[0])
            values = spans_mod.summarise(
                run.tracer, groups, 0, warm, run.cores, run.setup, run.pass_walls
            )
            metrics = report(spans_mod.LAYER_METRICS, values)
        else:
            metrics = report(END_TO_END, run.end_to_end(rss.peak_mb))
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            runs_dir.rmdir()
        except OSError:
            pass  # another run is using it
    warm_samples = sum(1 for p, _, _ in run.samples if p > 0)
    failed = run.failed_items()
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": args.sf,
        "cores": run.cores,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "shuffle_partitions": run.shuffle_width,
        "setup": run.setup,
        "measure_s": run.measure_s,
        "pass_walls": run.pass_walls,
        "warm_passes": len(warm),
        "warm_item_samples": warm_samples,
        "tail_pct_supported": stats.tail_pct(warm_samples),
        "fail_ratio": failed / run.attempted,
        "failures": run.failures,
        "items": run.samples,
        "rss_at_peak_mb": rss.at_peak,
        "host_start": host_start,
        "host_end": host_end,
        "steal_share": _steal_share(host_start["cpu_jiffies"], host_end["cpu_jiffies"]),
    }
    if args.trace:
        detail["spans"] = [vars(s) for s in run.tracer.spans]
    for k, m in metrics.items():
        print(f"{args.workload:>16} {k:<28} {m['value']:>12.4f} {m['unit']}", file=sys.stderr)
    print(f"{args.workload:>16} {'fail_ratio':<28} {failed / run.attempted:>12.4f} ratio",
          file=sys.stderr)
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
