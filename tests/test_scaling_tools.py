"""Contracts for tools/measure_scaling.py (one driver, one entry per
scaling family) and its shared scaffolding tools/scaling_common.py.

The machinery — steady-state timing, disjoint key-shift growth,
alphabet-permutation content growth, temp-sf_dir staging — lives in one
module. These tests pin the properties the published SCALING.md curves
depend on, and that SCALING.md and the driver name the same families."""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

import scaling_common as SC  # noqa: E402


def test_scaling_md_cites_exactly_the_driver_families():
    """Every `measure_scaling.py <family> ...` citation in SCALING.md
    names a FAMILIES key, and every family is cited at least once — so
    a published curve always has a runnable method and the driver keeps
    no family that no curve reports. Importing the driver starts no
    Spark session."""
    import measure_scaling

    cited: set[str] = set()
    spans = re.findall(
        r"`(?:tools/)?measure_scaling\.py([^`]*)`",
        (REPO / "SCALING.md").read_text(),
    )
    for span in spans:
        cited.update(span.split())
    assert spans and cited, "SCALING.md cites no measure_scaling.py family"
    families = set(measure_scaling.FAMILIES)
    assert cited <= families, f"cited but not defined: {cited - families}"
    assert families <= cited, f"defined but never cited: {families - cited}"


def test_alphabet_permutations_distinct_and_bijective():
    """rot26 gives 26 distinct transforms; dihedral52 gives 52 — the
    property that lets r9's CDC measurement grow content 50x without
    duplicate copies (rotations alone cap at 26)."""
    rots = {SC.rot26(i) for i in range(26)}
    assert len(rots) == 26
    dih = {SC.dihedral52(i) for i in range(52)}
    assert len(dih) == 52
    assert all(sorted(p) == sorted("abcdefghijklmnopqrstuvwxyz")
               for p in dih), "each permutation must be a bijection"
    assert SC.dihedral52(3) == SC.rot26(3)  # rotations embed in dihedral


def test_grow_shifted_disjoint_on_sparse_ids(spark):
    """The r9 advice item: shifts must be max(key)+1, never count() —
    with SPARSE ids (max >= count), count-shifted copies collide. Pin
    that the default produces fully disjoint id spaces on sparse input."""
    df = spark.createDataFrame(
        [(0, "a"), (7, "b"), (9, "c")], ["doc_id", "text"]
    )
    grown = SC.grow_shifted(df, 3, ["doc_id"])
    rows = grown.count()
    distinct = grown.select("doc_id").distinct().count()
    assert rows == 9 and distinct == 9, "count-based shift would collide"
    assert SC.max_shift(df, "doc_id") == 10


def test_grow_permuted_docs_disjoint_ids_and_content(spark):
    df = spark.createDataFrame(
        [(0, "abc", "en"), (1, "xyz", "en")], ["doc_id", "text", "lang"]
    )
    grown = SC.grow_permuted_docs(df, 3, SC.rot26, keep=("lang",))
    assert grown.columns == ["doc_id", "text", "lang"]
    assert grown.count() == 6
    assert grown.select("doc_id").distinct().count() == 6
    # each copy is under a DIFFERENT permutation -> content grows too
    assert grown.select("text").distinct().count() == 6


def test_staged_tmpdir_and_stage_parquet_roundtrip(spark):
    df = spark.range(10).withColumnRenamed("id", "k")
    with SC.staged_tmpdir("sc_smoke_") as tmp:
        SC.stage_parquet(df, f"{tmp}/t.parquet", partitions=2)
        assert spark.read.parquet(f"{tmp}/t.parquet").count() == 10
        kept = tmp
    assert not Path(kept).exists(), "tmpdir must be removed on exit"


def test_steady_times_second_run():
    calls = []
    t = SC.steady(lambda: calls.append(1))
    assert len(calls) == 2 and t >= 0.0
