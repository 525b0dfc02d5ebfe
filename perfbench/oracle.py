"""Output checks against DuckDB.

Every item's result is compared with an independent DuckDB evaluation over
the same parquet inputs: the row count on every pass and the full value
multiset once per run. Rows are canonicalised the way the repository's
oracle gate compares them (columns sorted by lower-cased name, floats by
``repr``, NaN and -0.0 collapsed), then reduced to an order-insensitive
SHA-256 digest, so a cached oracle result is a count and a digest.

Oracle results depend only on the SQL text and the input files, so they
are cached under ``perfbench/.cache/``: the first run of a checkout
evaluates them, later runs reuse them. Either way the work runs after the
run's measurements have ended.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
from pathlib import Path

import duckdb

def canon(v):
    """A JSON-stable value with the equality the oracle gate uses."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(0.0 if v == 0.0 else v)
    if isinstance(v, decimal.Decimal):
        # Decimal compares equal to int by value and ignores its scale
        if v == v.to_integral_value():
            return int(v)
        return "D" + format(v.normalize(), "f")
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return sorted((canon(k), canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return repr(v)


def digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a result."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted(
        json.dumps([canon(r[i]) for i in order], separators=(",", ":"))
        for r in rows
    )
    h = hashlib.sha256(json.dumps([names[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def connect(sf_dir: Path, temp_dir: Path) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per fixture table, as the oracle SQL expects."""
    from orchestrated_etl_spark.schemas import TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def query_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    return digest([d[0] for d in res.description], res.fetchall())


class OracleCache:
    """Count and digest of each oracle query, computed by DuckDB on first
    use and kept in a JSON file keyed by the SQL and the input files."""

    def __init__(self, cache_dir: Path, sf_dir: Path, temp_dir: Path) -> None:
        self.cache_dir = cache_dir
        self.sf_dir = sf_dir
        self.temp_dir = temp_dir
        files = sorted(
            (p.name, p.stat().st_size) for p in sf_dir.glob("*.parquet")
        )
        self._inputs = json.dumps(files)
        self._con: duckdb.DuckDBPyConnection | None = None

    def _path(self, sql: str) -> Path:
        key = hashlib.sha256((self._inputs + "\0" + sql).encode()).hexdigest()
        return self.cache_dir / f"{key[:32]}.json"

    def connection(self) -> duckdb.DuckDBPyConnection:
        if self._con is None:
            self._con = connect(self.sf_dir, self.temp_dir)
        return self._con

    def expected(self, sql: str) -> tuple[int, str]:
        path = self._path(sql)
        if path.is_file():
            got = json.loads(path.read_text())
            return got["rows"], got["digest"]
        rows, dig = query_digest(self.connection(), sql)
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps({"rows": rows, "digest": dig}))
        tmp.replace(path)
        return rows, dig

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
