"""Round-19 optimization harness: per-query measurement + plan capture.

For each named query (default: the bench HEADLINE list) this tool
- builds the DataFrame and times the BUILD (driver-side plan
  construction — pure Python/Catalyst-analysis cost),
- times N warm executions through the noop sink (guide §1.4: computes
  every column of every row, no collect/count pruning) AND through the
  bench's own action (count/collect) so numbers stay comparable with
  BENCH_r*.json history,
- counts Spark jobs per execution as deltas of the DAG scheduler's job
  counter (job count ~ scheduling overhead: each eager
  localCheckpoint/broadcast is a job), one count per rep,
- optionally writes `.explain("formatted")` to plans/r19/<q>_<tag>.txt.

Usage:
  python tools/profile_r19.py [--plans TAG] [--reps N] [--noop] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orchestrated_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans_tag = None
    if "--plans" in args:
        i = args.index("--plans")
        plans_tag = args[i + 1]
        del args[i : i + 2]
    reps = 3
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    use_noop = "--noop" in args
    if use_noop:
        args.remove("--noop")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import bench
    import __spark_entry__ as entrymod

    # ad-hoc conf experiments: PROFILE_CONF="k=v;k2=v2"
    extra = {}
    for kv in os.environ.get("PROFILE_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = get_spark("profile_r19", extra_conf=extra or None)
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    qs = entrymod.queries()
    names = args or [n for n in bench.HEADLINE if n in qs]

    # same warmup as bench.py
    import glob

    for p in glob.glob(f"{sf_dir}/*.parquet"):
        if "events" in p:
            continue
        spark.read.parquet(p).count()
    qs["datetime_daily_rollup"](spark, sf_dir).count()
    qs["q1_pricing_summary"](spark, sf_dir).collect()
    qs["sim_normalize_embeddings"](spark, sf_dir).count()
    qs["sim_vector_norms"](spark, sf_dir).count()

    out = {}
    for name in names:
        sc.setJobDescription(f"r19:{name}")
        # build cost (driver-side DataFrame construction)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t_build = time.perf_counter() - t0
        if plans_tag:
            os.makedirs("plans/r19", exist_ok=True)
            with open(f"plans/r19/{name}_{plans_tag}.txt", "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        samples = []
        jobs = []
        for _ in range(reps):
            j0 = int(dag.nextJobId())
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            if use_noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect() if name == "flagship" else df.count()
            samples.append(time.perf_counter() - t0)
            jobs.append(int(dag.nextJobId()) - j0)
        samples.sort()
        med = samples[len(samples) // 2]
        out[name] = {
            "build_s": round(t_build, 3),
            "median_s": round(med, 3),
            "min_s": round(samples[0], 3),
            "max_s": round(samples[-1], 3),
            "jobs": jobs,
        }
        print(json.dumps({name: out[name]}), flush=True)
        sc.setJobDescription(None)

    total = round(sum(v["median_s"] for v in out.values()), 3)
    print(json.dumps({"total_median": total, "n": len(out)}))


if __name__ == "__main__":
    main()
