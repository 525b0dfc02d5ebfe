"""Shared scaffolding for tools/measure_scaling.py: the method-neutral
machinery every scaling family uses.

- ``steady``: the SCALING.md steady-state protocol — each reported
  timing is the SECOND consecutive run; the first absorbs staging,
  codegen, and cache warmup.
- disjoint growth by KEY SHIFT (``grow_shifted``): union ``mult`` copies
  of a frame with the listed key columns shifted by ``i * (max(key)+1)``
  per copy — disjoint id spaces, so per-entity structure is constant and
  the measured growth term is pure data volume. Pass explicit ``shifts``
  when two tables must share one shift (a foreign key and its parent).
- disjoint growth by CONTENT PERMUTATION (``rot26``/``dihedral52`` +
  ``grow_permuted_docs``): text copies under distinct alphabet
  permutations, so token/chunk/shingle domains genuinely grow. Plain
  rotations give 26 distinct transforms; the dihedral family (reflection
  composed with rotation) gives 52 — required past 26 copies.
- temp-sf_dir staging (``stage_parquet`` + ``staged_tmpdir``): grown
  inputs are written to a temporary sf_dir so operators run through
  their normal ``(spark, sf_dir)`` contract, 32 files to match the
  local[32] layout.

Runs need ``SPARK_GRAFT_DRIVER_MEM=16g`` past ~mult 5 on the sf0.1
fixtures (the default 1 g driver heap dies during checkpoint-heavy
staging).
"""

from __future__ import annotations

import shutil
import string
import tempfile
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F

_LOWER = string.ascii_lowercase


def steady(fn: Callable[[], object]) -> float:
    """Second-consecutive-run timing (the SCALING.md protocol)."""
    fn()
    t0 = time.time()
    fn()
    return time.time() - t0


def union_parts(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def max_shift(df: DataFrame, col: str) -> int:
    """Disjoint-copy shift for an integer key: max(col)+1 — never
    count(), which collides when ids are sparse (max >= count)."""
    return (df.agg(F.max(col)).collect()[0][0] or 0) + 1


def grow_shifted(
    df: DataFrame,
    mult: int,
    cols: list[str],
    shifts: dict[str, int] | None = None,
) -> DataFrame:
    """Union ``mult`` copies of ``df`` with each key in ``cols`` shifted
    by ``i * shift`` per copy i — disjoint id spaces, constant per-entity
    structure. Default shift is ``max(col)+1``; pass ``shifts`` to share
    one shift across tables."""
    if shifts is None:
        shifts = {c: max_shift(df, c) for c in cols}
    parts = [df]
    for i in range(1, mult):
        out = df
        for c in cols:
            out = out.withColumn(c, F.col(c) + i * shifts[c])
        parts.append(out)
    return union_parts(parts)


def rot26(i: int) -> str:
    """Alphabet rotation i (26 distinct transforms — the r3/r4b/r6
    content-growth family)."""
    k = i % 26
    return _LOWER[k:] + _LOWER[:k]


def dihedral52(i: int) -> str:
    """Dihedral alphabet permutation i: rotations for i<26, reflection
    (z<->a) composed with rotation for 26<=i<52 — 52 distinct transforms,
    enough for 50x content growth (r9 CDC)."""
    base = _LOWER[::-1] if i >= 26 else _LOWER
    k = i % 26
    return base[k:] + base[:k]


def grow_permuted_docs(
    docs: DataFrame,
    mult: int,
    perm: Callable[[int], str],
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Union ``mult`` document copies, each under a DISTINCT alphabet
    permutation of ``text_col`` (content domains genuinely grow) with
    ``id_col`` shifted disjoint by max(id)+1."""
    id_shift = max_shift(docs, id_col)
    parts = [docs]
    for i in range(1, mult):
        parts.append(
            docs.select(
                (F.col(id_col) + i * id_shift).alias(id_col),
                F.translate(text_col, _LOWER, perm(i)).alias(text_col),
                *keep,
            )
        )
    return union_parts(parts)


def stage_parquet(df: DataFrame, path: str, partitions: int = 32) -> None:
    """Write a grown input as a staged fixture table (32 files to match
    the local[32] scan layout the headline queries see)."""
    df.repartition(partitions).write.mode("overwrite").parquet(path)


@contextmanager
def staged_tmpdir(prefix: str) -> Iterator[str]:
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
