"""Scratch paths: every file a query owns lives under its
``scratch_path`` — round-trip writes, and the feed files, foreachBatch
targets and checkpoints of the streaming queries."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from orchestrated_etl_spark.sources.catalog import load_table


def scratch_path(name: str, sf_dir: str) -> str:
    """Per-query, per-sf scratch path inside the repo (gitignored)."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", f"{name}_{tag}")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def nation_blob_files(spark: SparkSession, sf_dir: str) -> str:
    """Write one small ``.bin`` file per nation (its name, UTF-8) and
    return their directory: the fixture of the binaryFile source
    queries. Driver-side and always rewritten — the files are
    dimension-sized, so a fresh write can never serve a stale fixture
    generation."""
    base = scratch_path("binfiles", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    nation = load_table(spark, sf_dir, "nation")
    for row in nation.select("n_nationkey", "n_name").collect():
        with open(f"{base}/{row['n_nationkey']:03d}.bin", "wb") as fh:
            fh.write(row["n_name"].encode("utf-8"))
    return base
