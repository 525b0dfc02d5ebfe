"""Round-19: stage-level timing of the dedup_minhash_lsh pipeline.

Replays minhash_lsh_dedup's internal stages (sigs checkpoint, cands
checkpoint, sets checkpoint, verify join) with separate timers so the
optimization targets the stage that actually costs, and captures the
hidden eager-checkpoint plans (the final query plan is just three
checkpoint scans + broadcast joins — all the real work is hidden).

Usage: python tools/profile_minhash_r19.py [--reps N]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from orchestrated_etl_spark.session import get_spark  # noqa: E402
from orchestrated_etl_spark.compat import default_parallelism  # noqa: E402
from orchestrated_etl_spark.functions import dedup as D  # noqa: E402


def main() -> None:
    reps = 5
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    extra = {}
    for kv in os.environ.get("PROFILE_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = get_spark("profile_minhash_r19", extra_conf=extra or None)
    sc = spark.sparkContext

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.count()  # warm file index
    # one full warm pass of the query itself
    D.minhash_lsh_dedup(
        docs, "doc_id", text_col="text", shingle_n=3, k=8, bands=4,
        rows_per_band=2, threshold=0.9,
    ).count()

    k, bands, rows_per_band, threshold = 8, 4, 2, 0.9
    stages = {
        "repart+sigs": [], "cands": [], "sets": [], "verify": [], "total": [],
    }
    for _ in range(reps):
        t_all = time.perf_counter()
        df = docs.repartition(default_parallelism(spark), F.col("doc_id"))
        t0 = time.perf_counter()
        sigs = D.minhash_signature_text(df, "doc_id", "text", 3, k)
        sigs = sigs.localCheckpoint(eager=True)
        stages["repart+sigs"].append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        cands = D.lsh_candidate_pairs(sigs, bands, rows_per_band)
        cands = cands.localCheckpoint(eager=True)
        stages["cands"].append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        cand_ids = cands.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("_cid")
        )
        set_col = D.shingles("text", 3)
        sets = (
            df.join(cand_ids, df["doc_id"] == F.col("_cid"), "left_semi")
            .select(F.col("doc_id").alias("_id"), set_col.alias("_set"))
            .localCheckpoint(eager=True)
        )
        stages["sets"].append(time.perf_counter() - t0)

        t0 = time.perf_counter()
        pa = sets.select(F.col("_id").alias("id_a"), F.col("_set").alias("_sa"))
        pb = sets.select(F.col("_id").alias("id_b"), F.col("_set").alias("_sb"))
        shared = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
        union = F.size("_sa") + F.size("_sb") - shared
        out = (
            cands.join(pa, "id_a")
            .join(pb, "id_b")
            .withColumn("jaccard", F.round(shared / union, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
        out.count()
        stages["verify"].append(time.perf_counter() - t0)
        stages["total"].append(time.perf_counter() - t_all)
        # drop this rep's checkpoint blocks so later reps start from the
        # same block-manager storage
        for staged in (sigs, cands, sets):
            staged.unpersist()

    import statistics

    for name, ss in stages.items():
        print(json.dumps({
            "stage": name,
            "median_s": round(statistics.median(ss), 3),
            "min_s": round(min(ss), 3),
            "max_s": round(max(ss), 3),
        }))


if __name__ == "__main__":
    main()
