"""One session index for staged relations.

``staged`` builds an expensive, reusable value once (the co-purchase edges
and their traversal layout, the BM25 index) and hands it back while the
application id, ``sf_dir`` and a fingerprint of the input tables' files
(path, size, ``mtime_ns``; ``os.stat``, no Spark job) stay the same. The
reference re-reads its inputs every tick, so a long-lived session sees
files rewritten under the same path; the fingerprint makes reuse across
such a rewrite sound. On a cluster these values are the tables a nightly
job writes once and every query reads.

The index holds one value per name: a mismatch drops the held value and
builds its successor. Each name builds under its own lock, so threads
asking for the same name concurrently build it once and share it, while
different names build in parallel. Dropping the reference is the
release; nothing is unpersisted on the JVM side, which a Connect session
could not do (see compat.py).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Iterable
from typing import TypeVar

from pyspark.sql import SparkSession

from orchestrated_etl_spark.compat import application_id
from orchestrated_etl_spark.sources.catalog import table_path

V = TypeVar("V")

# name -> (key the value was built under, value)
_INDEX: dict[str, tuple[tuple, object]] = {}
# name -> the lock its builds run under; _LOCKS_GUARD guards the dict
_LOCKS: dict[str, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def fingerprint(sf_dir: str, tables: Iterable[str]) -> tuple:
    """(path, size, mtime_ns) of every file of the named tables. A table
    path (``catalog.table_path``) may be one parquet file or a directory
    of part files. A path the driver cannot stat (a missing table, a
    remote URI) fingerprints as absent, so the build reports it the way
    the read would."""
    out = []
    for table in tables:
        root = table_path(sf_dir, table)
        if os.path.isdir(root):
            paths = sorted(
                os.path.join(d, f) for d, _, files in os.walk(root) for f in files
            )
        else:
            paths = [root]
        for path in paths:
            try:
                st = os.stat(path)
            except OSError:
                out.append((path, None, None))
            else:
                out.append((path, st.st_size, st.st_mtime_ns))
    return tuple(out)


def staged(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    tables: Iterable[str],
    build: Callable[[], V],
) -> V:
    """``build()``'s value, reused while the application, ``sf_dir`` and
    the fingerprint of ``tables`` under ``sf_dir`` stay the same. The
    fingerprint is taken before the build, so a file rewritten during
    the build makes the next call rebuild."""
    with _LOCKS_GUARD:
        lock = _LOCKS.setdefault(name, threading.Lock())
    with lock:
        key = (application_id(spark), sf_dir, fingerprint(sf_dir, tables))
        held = _INDEX.get(name)
        if held is not None and held[0] == key:
            return held[1]
        _INDEX.pop(name, None)  # release the stale value before building anew
        value = build()
        _INDEX[name] = (key, value)
        return value
