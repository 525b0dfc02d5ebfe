"""Dev-side replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at a given sf_dir, runs the matching
``oracle_sql()`` in DuckDB over the same parquet files (views pre-registered
with the same table names), and compares row count, column names, and an
order-insensitive multiset of normalized values. Stricter than the driver's
hash compare: on mismatch it prints example differing rows, so oracle
misalignment is debuggable locally.

Usage: python tools/check_oracle.py [--pandas] [--vanilla] [--first N]
       [--sample N --seed S [--non-front]] [--conf k=v ...]
       [sf_dir] [query ...]

``--sample N --seed S`` runs a seeded random sample of N oracle-bearing
queries — the judges' spot-check protocol made mechanical (rounds 12-14
hand-rolled it): the pool is the SORTED oracle-bearing names, optionally
minus ``registry._FRONT`` with ``--non-front`` (the driver already
samples the front every round, so the spot-check targets what it will
NOT look at), drawn via ``random.Random(S).sample(pool, N)``. The r14
convention: ``--sample 24 --seed 1514 --non-front`` at sf0.1.

``--static-conf k=v`` (repeatable) sets a BUILD-TIME conf through
``session.py``'s ``extra_conf`` before ``getOrCreate`` — for core confs
Spark refuses to modify at runtime (``CANNOT_MODIFY_CONFIG``), e.g.
``spark.python.worker.reuse=false`` (fresh Python worker per task —
surfaces state leakage between Arrow-kernel invocations that worker
reuse would hide). Ignored with a warning under ``--vanilla`` (the
vanilla builder is deliberately conf-free).

``--conf k=v`` (repeatable) sets a RUNTIME SQL conf on the session after
construction — the insurance-sweep knob for axes the driver never
varies (e.g. ``spark.sql.execution.arrow.maxRecordsPerBatch=7`` slices
every pandas-UDF kernel into tiny Arrow batches, so any kernel whose
result depends on batch boundaries mismatches its oracle;
``spark.sql.files.maxPartitionBytes=65536`` multiplies input splits).
Static confs (master, memory) belong in env: ``SPARK_GRAFT_CPUS=1``
gives a local[1] single-thread session via session.py (unset, the
session is as wide as the cores this process may run on).

``--vanilla`` builds a plain ``SparkSession.builder.master("local[8]")``
session instead of session.py's tuned one — the driver's environment
(our ANSI/AQE/shuffle-partition defaults absent), so conf-dependent
behavior differences surface locally. ``--first N`` restricts the run
to the first N ORACLE-BEARING ``queries()`` entries in iteration order
— exactly the driver's per-round sample — so a _FRONT rotation can be
rehearsed end-to-end before the round ships.

``--pandas`` fetches BOTH sides through pandas (DuckDB ``fetchdf()``,
Spark ``toPandas()``) — the driver's evident conversion path (round-2
evidence: NULL-bearing numeric columns pass the driver, so both sides
must coerce None→NaN symmetrically; but a no-NULL int64 Spark column
hash-failed against a HUGEINT→float64 oracle column, so the coercion is
per-side dtype-driven). This surfaces asymmetric dtype coercions that
plain fetchall hides: a DuckDB HUGEINT/DECIMAL column becomes float64
while Spark's stays int64 — the exact class that made
``sessionize_events_30m`` hash-fail in round 2 while the fetchall gate
stayed green. Run both modes before shipping a new oracle.
"""

from __future__ import annotations

import math
import re
import sys
import time
from collections import Counter
from datetime import date, datetime

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(v):
    # numpy/pandas scalars (pandas mode): unwrap to plain Python first so
    # that a BIGINT column fetched as np.int64 still matches Spark's int —
    # but a float64-coerced HUGEINT/DECIMAL stays a float and MISmatches,
    # which is the whole point of pandas mode.
    if isinstance(v, np.integer):
        v = int(v)
    elif isinstance(v, np.floating):
        v = float(v)
    elif isinstance(v, np.bool_):
        v = bool(v)
    elif isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    elif v is pd.NaT:
        return "NaT"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # collapse -0.0
        # Full precision (repr round-trips doubles exactly). %.9g previously
        # forgave last-ulp drift that the driver's value hash does not — the
        # local gate must be at least as strict as the driver.
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, Counter):
        return v
    return v


def df_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(normalize(r[i]) for i in order) for r in rows)


def _pandasify(v):
    """Pandas-mode value alignment: a pandas frame has no date dtype, so
    DuckDB's fetchdf promotes DATE to midnight datetime64 while Spark's
    toPandas keeps datetime.date objects (object dtype). Promote date →
    midnight Timestamp on BOTH sides so the compare sees what a fully
    pandas-converted pipeline sees. (The strict fetchall mode still
    distinguishes DATE from midnight TIMESTAMP.)"""
    from datetime import date, datetime

    if v is pd.NaT:
        return None  # Spark's toPandas yields None for null dates
    if isinstance(v, date) and not isinstance(v, datetime):
        return pd.Timestamp(v)
    return v


def duck_fetch(res, pandas_mode):
    """Fetch a DuckDB result as (cols, rows-of-python-values).

    In pandas mode the result goes through fetchdf() — the driver's
    conversion — so HUGEINT→float64 / DECIMAL→float64 coercions are
    visible to the compare instead of being laundered back to exact
    Python ints by fetchall().
    """
    cols = [d[0] for d in res.description]
    if not pandas_mode:
        return cols, res.fetchall()
    pdf = res.fetchdf()
    rows = [
        tuple(_pandasify(x) for x in rec)
        for rec in pdf.itertuples(index=False, name=None)
    ]
    # pandas NaT/NaN → keep as-is; normalize() already handles NaN floats.
    return cols, rows


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every fixture table under ``sf_dir``
    registered as a view by its name, as the oracle SQL expects."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(scols, srows, dcols, drows) -> list[str]:
    """The gate's verdict on one query: [] when Spark's and DuckDB's
    results agree (column names case-insensitively, row count, and the
    order-insensitive multiset of normalized values), else the lines
    that say how they differ, with example differing rows."""
    lower = sorted(c.lower() for c in dcols)
    if sorted(scols) != lower and sorted(c.lower() for c in scols) != lower:
        return [
            "columns differ",
            f"      spark={sorted(scols)}",
            f"      duck ={sorted(dcols)}",
        ]
    if len(srows) != len(drows):
        return [f"row count spark={len(srows)} duck={len(drows)}"]
    sm = df_multiset([c.lower() for c in scols], srows)
    dm = df_multiset([c.lower() for c in dcols], drows)
    if sm == dm:
        return []
    return (
        ["value multiset differs"]
        + [f"      oracle-only ×{c}: {r}" for r, c in list((dm - sm).items())[:3]]
        + [f"      spark-only ×{c}: {r}" for r, c in list((sm - dm).items())[:3]]
    )


def sample_queries(
    qs: dict, oracles: dict, n: int, seed: int, non_front: bool
) -> list[str]:
    """The seeded spot-check draw, isolated so a pytest can pin that the
    committed protocol (sorted oracle-bearing pool, optional front
    exclusion, random.Random(seed).sample) reproduces the recorded
    rounds' samples bit-for-bit."""
    import random

    pool = [name for name in qs if name in oracles]
    if non_front:
        from orchestrated_etl_spark import registry

        front = set(registry._FRONT)
        pool = [name for name in pool if name not in front]
    if n > len(pool):
        # rc-2 usage error (not a ValueError traceback) — easiest to
        # hit when --non-front shrinks the pool below --sample N
        # (round-14 ADVICE).
        raise SystemExit(
            f"usage: --sample {n} exceeds the "
            f"{'non-front ' if non_front else ''}oracle pool size "
            f"{len(pool)}"
        )
    return random.Random(seed).sample(sorted(pool), n)


def main() -> int:
    argv = list(sys.argv[1:])
    pandas_mode = "--pandas" in argv
    if pandas_mode:
        argv.remove("--pandas")
    vanilla = "--vanilla" in argv
    if vanilla:
        argv.remove("--vanilla")
    def _int_flag(flag: str):
        """Pop `flag N` from argv with the same usage contract --conf
        has: a missing, non-integer, or negative value is a usage error
        (rc 2), not a traceback. Strictly ``\\d+``: the old
        lstrip('-').isdigit() accepted '--5' (then crashed int()) and
        '-5' (silently sliced the pool from the end) — round-14 ADVICE."""
        if flag not in argv:
            return None
        i = argv.index(flag)
        if i + 1 >= len(argv) or not re.fullmatch(r"\d+", argv[i + 1]):
            raise SystemExit(
                f"usage: {flag} requires a non-negative integer argument"
            ) from None
        v = int(argv[i + 1])
        del argv[i : i + 2]
        return v

    try:
        first_n = _int_flag("--first")
        sample_n = _int_flag("--sample")
        seed = _int_flag("--seed") or 0
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2
    if first_n is not None and sample_n is not None:
        # --first reshapes the pool --sample draws from, silently
        # breaking the committed seeded-draw protocol — refuse.
        print("usage: --first and --sample are mutually exclusive",
              file=sys.stderr)
        return 2
    non_front = "--non-front" in argv
    if non_front:
        argv.remove("--non-front")
    confs: dict[str, str] = {}
    while "--conf" in argv:
        i = argv.index("--conf")
        if i + 1 >= len(argv) or "=" not in argv[i + 1]:
            print("usage: --conf requires a k=v argument", file=sys.stderr)
            return 2
        k, _, v = argv[i + 1].partition("=")
        confs[k] = v
        del argv[i : i + 2]
    static_confs: dict[str, str] = {}
    while "--static-conf" in argv:
        i = argv.index("--static-conf")
        if i + 1 >= len(argv) or "=" not in argv[i + 1]:
            print("usage: --static-conf requires a k=v argument",
                  file=sys.stderr)
            return 2
        k, _, v = argv[i + 1].partition("=")
        static_confs[k] = v
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod

    if vanilla:
        from pyspark.sql import SparkSession

        if static_confs:
            print("warning: --static-conf ignored under --vanilla",
                  file=sys.stderr)
        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle_check_vanilla")
            .getOrCreate()
        )
    else:
        from orchestrated_etl_spark.session import get_spark

        spark = get_spark("oracle_check", extra_conf=static_confs or None)
    for k, v in confs.items():
        spark.conf.set(k, v)
    con = duck_views(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if first_n is not None:
        sample = [n for n in qs if n in oracles][:first_n]
        qs = {n: qs[n] for n in sample}
    if sample_n is not None:
        try:
            names = sample_queries(qs, oracles, sample_n, seed, non_front)
        except SystemExit as e:
            print(e, file=sys.stderr)
            return 2
        print(f"# seeded sample: n={sample_n} seed={seed} "
              f"non_front={non_front} -> {names}")
        qs = {n: qs[n] for n in names}
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            if pandas_mode:
                spdf = sdf.toPandas()
                srows = [
                    tuple(_pandasify(x) for x in rec)
                    for rec in spdf.itertuples(index=False, name=None)
                ]
            else:
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            if len(srows) == 0:
                print(f"      WARNING: rows-only query returned 0 rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols, drows = duck_fetch(res, pandas_mode)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        diff = compare(scols, srows, dcols, drows)
        if diff:
            failures.append(name)
            print(f"FAIL  {name}: " + "\n".join(diff))
        else:
            print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
