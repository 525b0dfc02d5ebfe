"""Pin tools/plan_audit.py's unpartitioned-window detector.

The audit's job is to make the single-executor global-window class
unrepresentable in the registry (round-4/5 verdict item); these tests
assert the detector (a) flags a deliberately unpartitioned ordered
window, (b) does NOT flag partitioned or partition-only windows (a
partition-only window prints only two bracket groups, which round-6
discovery showed misclassifies under a naive group count), and (c) the
two-phase global-rank operator's plan carries exactly ONE global window
— the bounded P-row offset scan — so a regression that reintroduces a
data-sized global rank inside it fails here before the registry audit.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "orchestrated_etl_spark"
sys.path.insert(0, str(REPO / "tools"))

from plan_audit import count_global_windows, count_low_card_windows  # noqa: E402

from orchestrated_etl_spark.operators.relational import (  # noqa: E402
    global_rank_two_phase,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _base(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("g")
    )


def test_flags_unpartitioned_ordered_window(spark):
    df = _base(spark).select(
        F.row_number().over(Window.orderBy("id")).alias("r")
    )
    assert count_global_windows(_plan(df)) == 1


def test_passes_partitioned_window(spark):
    df = _base(spark).select(
        F.row_number().over(Window.partitionBy("g").orderBy("id")).alias("r")
    )
    assert count_global_windows(_plan(df)) == 0


def test_passes_partition_only_window(spark):
    df = _base(spark).select(
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n")
    )
    assert count_global_windows(_plan(df)) == 0


def test_mixed_plan_counts_only_global(spark):
    df = _base(spark).select(
        "id",
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
        F.row_number().over(Window.orderBy("id")).alias("r"),
    )
    assert count_global_windows(_plan(df)) == 1


def _status_base(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("o_orderstatus")
    )


def test_flags_bounded_domain_window_partition(spark):
    """The round-16 rule: a window partitioned ONLY by a bounded-domain
    column (here the 3-value o_orderstatus) pins parallelism at the
    domain size — the r15 verdict's 'weak at 100 TB' class (it flagged
    8 registered queries on the r15 tree before their rework)."""
    df = _status_base(spark).select(
        F.row_number()
        .over(Window.partitionBy("o_orderstatus").orderBy("id"))
        .alias("r")
    )
    assert count_low_card_windows(_plan(df)) == 1


def test_flags_bounded_domain_partition_only_window(spark):
    df = _status_base(spark).select(
        F.count(F.lit(1))
        .over(Window.partitionBy("o_orderstatus"))
        .alias("n")
    )
    assert count_low_card_windows(_plan(df)) == 1


def test_salted_bounded_partition_not_flagged(spark):
    """A salt (or any unrecognised co-key) in the partition spec lifts
    the parallelism cap — the sanctioned two-phase fix — so mixed
    specs must not flag."""
    df = (
        _status_base(spark)
        .withColumn("_salt", F.col("id") % 32)
        .select(
            F.row_number()
            .over(Window.partitionBy("o_orderstatus", "_salt").orderBy("id"))
            .alias("r")
        )
    )
    assert count_low_card_windows(_plan(df)) == 0


def test_high_card_partition_not_flagged(spark):
    df = _base(spark).select(
        F.row_number().over(Window.partitionBy("g").orderBy("id")).alias("r")
    )
    assert count_low_card_windows(_plan(df)) == 0


def test_unpartitioned_window_not_counted_as_low_card(spark):
    """An empty partition spec is count_global_windows' finding; the
    low-card counter must not double-report it."""
    df = _base(spark).select(
        F.row_number().over(Window.orderBy("id")).alias("r")
    )
    assert count_low_card_windows(_plan(df)) == 0
    assert count_global_windows(_plan(df)) == 1


def test_expression_partition_is_a_documented_blind_spot(spark):
    """KNOWN LIMIT of the PLAN-level rule, pinned so a behaviour change
    is noticed: Catalyst projects an EXPRESSION partition key into a
    generated ``_w0#N`` column before the Window node, erasing the base
    column name — the plan detector only sees direct column references.
    Round 17 closed the hole at the SOURCE level
    (source_window_expr_findings, tested below); this pin stays so the
    two detectors' division of labour is explicit. If Spark ever starts
    printing the original expression here, this pin flips and the plan
    detector docstring should drop the caveat."""
    df = _status_base(spark).select(
        F.row_number()
        .over(Window.partitionBy(F.upper("o_orderstatus")).orderBy("id"))
        .alias("r")
    )
    plan = _plan(df)
    assert "_w0" in plan  # the projection that hides the base name
    assert count_low_card_windows(plan) == 0


# ---------------------------------------------------------------------------
# round-17 rules: bounded-key repartition Exchanges (plan + source) and
# expression window partition keys (source) — the Exchange-side sibling
# of the bounded-domain-window class plus the _w0#N detector hole.
# ---------------------------------------------------------------------------


def test_plan_flags_bounded_key_repartition_exchange(spark):
    """df.repartition(<bounded key>) hash-clusters the full relation
    into ≤|domain| non-empty partitions whatever N is requested — the
    r16 verdict's src_file_lineage class, now machine-flagged. Both the
    key-only and the explicit-N forms must flag."""
    from plan_audit import count_low_card_repartition_exchanges

    base = _status_base(spark)
    assert (
        count_low_card_repartition_exchanges(
            _plan(base.repartition("o_orderstatus"))
        )
        == 1
    )
    assert (
        count_low_card_repartition_exchanges(
            _plan(base.repartition(200, "o_orderstatus"))
        )
        == 1
    )
    assert (
        count_low_card_repartition_exchanges(
            _plan(base.repartitionByRange(8, "o_orderstatus"))
        )
        == 1
    )


def test_plan_passes_legitimate_exchanges(spark):
    """NOT the class: a salt/high-card co-key lifts the cap; a groupBy
    on a bounded key exchanges per-task PARTIAL rows (bounded by
    #tasks×domain), not the relation — ENSURE_REQUIREMENTS origins
    never flag; round-robin repartition(N) has no key at all."""
    from plan_audit import count_low_card_repartition_exchanges

    base = _status_base(spark)
    salted = base.withColumn("_salt", F.col("id") % 32)
    assert (
        count_low_card_repartition_exchanges(
            _plan(salted.repartition("o_orderstatus", "_salt"))
        )
        == 0
    )
    assert (
        count_low_card_repartition_exchanges(
            _plan(
                base.groupBy("o_orderstatus").agg(
                    F.count(F.lit(1)).alias("n")
                )
            )
        )
        == 0
    )
    assert (
        count_low_card_repartition_exchanges(_plan(base.repartition(8)))
        == 0
    )
    assert (
        count_low_card_repartition_exchanges(
            _plan(base.repartition(8, "id"))
        )
        == 0
    )


def test_source_rule_flags_bounded_key_repartition():
    """The source scan exists for EAGER staging writes the plan audit
    structurally cannot see (the write executes at build time; the
    returned plan shows only the read-back scan). The historical
    src_file_lineage form is the red fixture."""
    from plan_audit import source_repartition_findings

    # the exact shape the r16 verdict flagged (ops_wave11.py:456)
    red = '(\n    orders.repartition("order_year")\n' \
          '    .write.mode("overwrite")\n)\n'
    got = source_repartition_findings(red, "f.py")
    assert got == [("f.py", 2, ("order_year",))]

    # explicit N does not lift the flag: ≤7 non-empty partitions anyway
    got = source_repartition_findings(
        'df.repartition(200, "o_orderstatus")', "f.py"
    )
    assert len(got) == 1 and got[0][2] == ("o_orderstatus",)

    # multi-line call with a parallelism expression + F.col form
    got = source_repartition_findings(
        'df.repartition(\n    default_parallelism(spark), F.col("source")\n)',
        "f.py",
    )
    assert len(got) == 1 and got[0][2] == ("source",)

    # clean shapes: round-robin, high-card key, variable key (unresolvable),
    # star-args, range-partition on a date, docstring prose
    for src in [
        "df.repartition(64)",
        'df.repartition(default_parallelism(spark), F.col("doc_id"))',
        "df.repartition(par, F.col(id_col))",
        "df.repartitionByRange(num_range_partitions, *order_cols)",
        'df.repartitionByRange(8, "o_orderdate")',
        '"""docstring: use df.repartition("order_year") instead"""',
        '# comment: df.repartition("order_year")',
    ]:
        assert source_repartition_findings(src, "f.py") == [], src


def test_expression_repartition_key_is_a_documented_limit():
    """KNOWN LIMIT, pinned (the honesty pattern of the r16 _w0 pin): a
    repartition keyed by an expression whose BOUNDEDNESS comes from the
    function, not the column — repartition(F.year("o_orderdate")) has a
    ~7-value key over an unbounded column — escapes BOTH layers: the
    plan extracts only the base attr `o_orderdate` (not in
    LOW_CARD_COLS), and the source scan treats a leading non-plain arg
    as numPartitions. Static boundedness of arbitrary expressions is
    not decidable; the repo convention (materialize the derived key as
    a NAMED column first, e.g. order_year) keeps such keys in
    LOW_CARD_COLS reach — zero registered queries use the inline form
    (grepped at pin time)."""
    from plan_audit import (
        count_low_card_repartition_exchanges,
        source_repartition_findings,
    )

    assert source_repartition_findings(
        'df.repartition(F.year("o_orderdate"))', "f.py"
    ) == []
    # plan side: demonstrated structurally in
    # test_plan_flags_bounded_key_repartition_exchange's inverse — here
    # just pin the extraction logic on a synthetic plan line.
    line = (
        "Exchange hashpartitioning(year(o_orderdate#7), 32), "
        "REPARTITION_BY_COL, [plan_id=5]"
    )
    assert count_low_card_repartition_exchanges(line) == 0


def test_source_rule_flags_expression_window_partition_key():
    """Closes the _w0#N hole: an EXPRESSION partition key over a
    bounded-domain column erases the base name from the plan, so only
    source inspection can see it."""
    from plan_audit import source_window_expr_findings

    got = source_window_expr_findings(
        'w = Window.partitionBy(F.upper(F.col("o_orderstatus")))'
        '.orderBy("id")',
        "f.py",
    )
    assert got == [("f.py", 1, ("o_orderstatus",))]

    got = source_window_expr_findings(
        'Window.partitionBy(F.substring("n_name", 1, 2)).orderBy("x")',
        "f.py",
    )
    assert len(got) == 1 and got[0][2] == ("n_name",)

    # plain refs are the plan-level rule's jurisdiction; splats and
    # variables are unresolvable; high-card expressions are fine
    for src in [
        'Window.partitionBy("o_orderstatus").orderBy("id")',
        'Window.partitionBy(F.col("o_orderstatus"))',
        "Window.partitionBy(*partition_cols)",
        "Window.partitionBy(keycol)",
        'Window.partitionBy(F.year("o_orderdate"))',
        '"""prose: Window.partitionBy(F.upper("o_orderstatus"))"""',
    ]:
        assert source_window_expr_findings(src, "f.py") == [], src


def test_capture_eager_plans_sees_checkpoints_and_writes(spark, tmp_path):
    """The round-17 hidden-plan layer: plans that EXECUTE during query
    construction (eager localCheckpoint inputs, batch writes) must be
    captured for the structural rules — the returned frame's plan shows
    only a checkpoint/file scan (the r16-documented blind spot, now
    closed). Lazy checkpoints must NOT be captured (their subtree still
    prints inside consumer plans — capturing would double-count), and
    the patches must restore on exit. Patches the CONCRETE classic
    DataFrame class — a base-class patch captures nothing (pinned by
    the count below)."""
    from plan_audit import capture_eager_plans, count_global_windows

    base = _base(spark)
    with capture_eager_plans() as hidden:
        base.select(
            F.row_number().over(Window.orderBy("id")).alias("r")
        ).localCheckpoint(eager=True)
        n_after_ckpt = len(hidden)
        base.localCheckpoint(eager=False)
        n_after_lazy = len(hidden)
        base.write.mode("overwrite").parquet(str(tmp_path / "w"))
    assert n_after_ckpt == 1, "eager checkpoint input plan not captured"
    assert count_global_windows(hidden[0]) == 1, "captured plan lost nodes"
    assert n_after_lazy == 1, "lazy checkpoint must not be captured"
    assert len(hidden) == 2, "write plan not captured"
    # patches restored: nothing further lands in the list
    base.localCheckpoint(eager=True)
    base.write.mode("overwrite").parquet(str(tmp_path / "w2"))
    assert len(hidden) == 2


def test_capture_eager_plans_sees_reliable_checkpoint_and_writer_v2(
    spark, tmp_path
):
    """Round-18 advice closure: the r17 capture layer patched only
    localCheckpoint and the V1 DataFrameWriter — an eager
    ``DataFrame.checkpoint()`` (the reliable spelling) or a
    ``writeTo(...).append()/createOrReplace()`` V2 write would have
    re-opened the hidden-plan blind spot unguarded (zero current uses
    of either; this pins the CLASS). Lazy reliable checkpoints stay
    uncaptured, same as lazy local ones."""
    from plan_audit import capture_eager_plans

    import shutil

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    base = _base(spark)

    def _drop():
        # DROP on the session-scoped in-memory catalog does not remove
        # a managed location left by a PRIOR session — clear both, or
        # create() dies on LOCATION_ALREADY_EXISTS.
        spark.sql("DROP TABLE IF EXISTS hidden_v2_probe")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(Path(wh) / "hidden_v2_probe", ignore_errors=True)

    _drop()
    try:
        with capture_eager_plans() as hidden:
            base.checkpoint(eager=True)
            n_after_reliable = len(hidden)
            base.checkpoint(eager=False)
            n_after_lazy = len(hidden)
            # .create() is the one V2 terminal the default v1 session
            # catalog executes (CTAS); append/replace raise on v1
            # tables, and the capture still fires BEFORE orig runs —
            # create() keeps the test on the supported path.
            base.writeTo("hidden_v2_probe").using("parquet").create()
        assert n_after_reliable == 1, "eager reliable ckpt not captured"
        assert n_after_lazy == 1, "lazy reliable ckpt must not capture"
        assert len(hidden) == 2, "V2 writeTo terminal plan not captured"
        # patches restored
        base.checkpoint(eager=True)
        _drop()
        base.writeTo("hidden_v2_probe").using("parquet").create()
        assert len(hidden) == 2
    finally:
        _drop()


def test_hidden_plan_smells_flags_and_upper_bounds():
    """Hidden-plan rules share the query-level pairwise/scalar/python
    allowlists and use UPPER-bound count allowlists (module-level
    caches make hidden counts audit-order-dependent)."""
    from plan_audit import hidden_plan_smells

    win = "Window [row_number() windowspecdefinition(id#1L ASC NULLS FIRST)], [id#1L ASC NULLS FIRST]"
    ex = (
        "Exchange hashpartitioning(o_orderstatus#3, 32), "
        "REPARTITION_BY_COL, [plan_id=9]"
    )
    assert hidden_plan_smells("some_query", [win]) == [
        "hidden unpartitioned window x1 (allowed 0)"
    ]
    assert hidden_plan_smells("some_query", [ex]) == [
        "hidden bounded-key repartition exchange x1 (allowed 0)"
    ]
    # the allowlisted lineage staging write: exactly one bounded-key
    # exchange tolerated, a second one still flags
    lineage_ex = (
        "Exchange hashpartitioning(order_year#5, lineage_shard#6L, 32), "
        "REPARTITION_BY_COL, [plan_id=2]"
    )
    assert hidden_plan_smells("src_file_lineage", [lineage_ex]) == []
    assert hidden_plan_smells(
        "src_file_lineage", [lineage_ex, lineage_ex]
    ) == ["hidden bounded-key repartition exchange x2 (allowed 1)"]
    # scalar-broadcast queries keep their pairwise exemption hidden too
    bnlj = "BroadcastNestedLoopJoin BuildRight, Cross"
    assert hidden_plan_smells("sink_zorder_write", [bnlj]) == []
    assert hidden_plan_smells("some_query", [bnlj]) == [
        "hidden cartesian/nested-loop join x1"
    ]


def test_source_rule_finds_sql_broadcast_hints():
    """SQL-text /*+ BROADCAST(x) */ hints escaped the r15/r16
    F.broadcast() sweeps for two rounds — the round-17 review found the
    unigram-LM raw-vocabulary hint alive in SQL text (the historical
    red fixture below). Every SQL hint is now collected and must carry
    an exact-count allowlist entry with a construction bound."""
    from plan_audit import SOURCE_SQL_HINT_OK, source_sql_hint_findings

    # the exact pre-fix surface_wave9.py form
    red = 'spark.sql("""\n    SELECT /*+ BROADCAST(lm) */ doc_id\n""")'
    assert source_sql_hint_findings(red, "f.py") == [("f.py", 2, "lm")]
    assert source_sql_hint_findings(
        "SELECT /*+ BROADCASTJOIN(t) */ 1", "f.py"
    ) == [("f.py", 1, "t")]
    assert source_sql_hint_findings("SELECT 1 FROM t", "f.py") == []
    # third spelling: df.hint("broadcast") flags; shuffle-forcing
    # hints (merge / shuffle_hash) are the scale-SAFE direction
    assert source_sql_hint_findings(
        'small.hint("broadcast").join(big, "k")', "f.py"
    ) == [("f.py", 1, "<df.hint>")]
    assert source_sql_hint_findings(
        'dist.hint("shuffle_hash").join(edges, "src")', "f.py"
    ) == []
    assert source_sql_hint_findings('da.hint("merge")', "f.py") == []
    # round-18 advice: a comma-separated alias list is valid hint syntax
    # forcing MULTIPLE broadcasts — one finding per alias, so each needs
    # its own allowlist bound (the single-alias regex passed it whole)
    assert source_sql_hint_findings(
        "SELECT /*+ BROADCAST(a, b) */ 1", "f.py"
    ) == [("f.py", 1, "a"), ("f.py", 1, "b")]
    assert source_sql_hint_findings(
        "SELECT /*+ MAPJOIN(x ,y, z) */ 1", "f.py"
    ) == [("f.py", 1, "x"), ("f.py", 1, "y"), ("f.py", 1, "z")]
    # the two allowlisted BM25 sites are bounded by construction
    assert SOURCE_SQL_HINT_OK[
        ("orchestrated_etl_spark/queries/llm_search_quality.py", "d")
    ][0] == 2


def test_source_rule_flags_small_literal_coalesce():
    """DataFrame.coalesce(1) has no shuffle barrier — it caps the WHOLE
    upstream stage, not just the write (the write_jdbc round-14
    lesson). Zero instances exist in the tree; the rule guards the
    class. F.coalesce (the NULL function) must never match."""
    from plan_audit import source_coalesce_findings

    assert source_coalesce_findings("df.coalesce(1).write.parquet(p)", "f.py") \
        == [("f.py", 1, 1)]
    # round-18 advice: CHAINED receivers must flag too — the old
    # bare-name regex required `<word>.coalesce`, so the common
    # `df.filter(...).coalesce(1)` spelling escaped the guard
    assert source_coalesce_findings(
        "df.filter(F.col('x') > 0).coalesce(1).write.parquet(p)", "f.py"
    ) == [("f.py", 1, 1)]
    assert source_coalesce_findings(
        "df.join(dim, 'k')\\\n    .coalesce(2)", "f.py"
    ) == [("f.py", 2, 2)]
    for src in [
        'sel = F.coalesce("day_value", F.lit(0.0))',
        "functions.coalesce(a, b)",  # full-name functions alias
        "df.coalesce(64)",          # >= cap: deliberate wide fan-in
        "df.coalesce(n)",           # variable: unresolvable
        '"""prose about df.coalesce(1)"""',
    ]:
        assert source_coalesce_findings(src, "f.py") == [], src


def test_comment_stripper_is_quote_aware():
    """Round-18 advice: the old comment pass removed '#...' even inside
    single-line string literals, truncating e.g. a regex/SQL string
    containing '#' BEFORE the source scans ran — so a flaggable call
    later on the same physical line was invisible (red baseline: the
    chained case below returns [] under `re.sub(r"#[^\\n]*", ...)`)."""
    from plan_audit import (
        _strip_docstrings_and_comments,
        source_coalesce_findings,
    )

    src = 'pat = "a#b"; staged = df.coalesce(1)'
    clean = _strip_docstrings_and_comments(src)
    assert '"a#b"' in clean, "string-literal '#' must survive"
    assert source_coalesce_findings(src, "f.py") == [("f.py", 1, 1)]
    # a REAL comment after a '#'-bearing literal still strips, and
    # prose inside it cannot flag
    src2 = 'pat = "a#b"  # note: df.coalesce(1) would be bad\nx = 1'
    clean2 = _strip_docstrings_and_comments(src2)
    assert "would be bad" not in clean2 and '"a#b"' in clean2
    assert source_coalesce_findings(src2, "f.py") == []
    # escaped quotes inside literals don't desync the scanner
    src3 = 's = "a\\"#b"; y = df.coalesce(1)  # trailing'
    assert source_coalesce_findings(src3, "f.py") == [("f.py", 1, 1)]
    # line numbers stay intact through multi-line input
    src4 = '"""doc\n# prose\n"""\npat = "x#y"\nstaged = df.coalesce(3)'
    assert source_coalesce_findings(src4, "f.py") == [("f.py", 5, 3)]


def test_source_audit_clean_on_shipped_tree():
    """The shipped engine package carries ZERO un-allowlisted bounded-
    key repartitions and ZERO expression window keys over bounded
    columns. Red-baseline provenance: at the rule's introduction this
    audit flagged exactly ops_wave11.py:456 (repartition("order_year")
    — the r16 verdict's finding) before the lineage_shard rework."""
    from plan_audit import run_source_audit

    assert run_source_audit(REPO) == []


def test_two_phase_rank_has_single_bounded_global_window(spark):
    ranked = global_rank_two_phase(
        _base(spark),
        [F.desc("id")],
        num_range_partitions=4,
        running_sum_expr=F.col("id"),
    )
    plan = _plan(ranked)
    # exactly the P-row _pid offset window, nothing data-sized
    assert count_global_windows(plan) == 1
    assert "_pid" in plan


def test_two_phase_rank_matches_global_window_semantics(spark):
    df = _base(spark).withColumn("v", (F.col("id") * 7 % 13))
    order = [F.desc("v"), F.asc("id")]
    expected = df.select(
        "id",
        F.row_number().over(Window.orderBy(*order)).alias("rnk"),
        F.sum("v")
        .over(
            Window.orderBy(*order).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
    )
    got = global_rank_two_phase(
        df, order, num_range_partitions=4, running_sum_expr=F.col("v")
    ).select("id", "rnk", "cum")
    exp = {(r.id, r.rnk, r.cum) for r in expected.collect()}
    act = {(r.id, r.rnk, r.cum) for r in got.collect()}
    assert act == exp


def test_grouped_rank_two_phase_matches_partitioned_window_semantics(spark):
    """The round-16 operator behind the bounded-domain-window reworks:
    per-group row_number, group size, and inclusive running sum must be
    bit-identical to the Window.partitionBy(group) form it replaces."""
    from orchestrated_etl_spark.operators.relational import (
        grouped_rank_two_phase,
    )

    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 7 % 13).alias("v"),
    )
    order = [F.desc("v"), F.asc("id")]
    w = Window.partitionBy("g").orderBy(*order)
    expected = df.select(
        "id",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
        F.sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    got = grouped_rank_two_phase(
        df,
        ["g"],
        order,
        rank_col="rnk",
        n_col="n",
        running_sum_expr=F.col("v"),
        running_sum_col="cum",
        num_range_partitions=4,
    ).select("id", "rnk", "n", "cum")
    exp = {(r.id, r.rnk, r.n, r.cum) for r in expected.collect()}
    act = {(r.id, r.rnk, r.n, r.cum) for r in got.collect()}
    assert act == exp


def test_grouped_rank_two_phase_keeps_null_keyed_groups(spark):
    """Round-16 advice (medium): the re-base join used a name-list
    equi-join, so rows whose group key is NULL vanished (4 in, 2 out) —
    diverging from Window.partitionBy, which gives nulls their own
    partition. Callers group by schema-nullable columns
    (documents.source, orders.o_orderstatus); the fixtures happen to
    contain zero null keys, so only this pin catches a regression.
    Exercises single AND multi-column keys, with the running sum."""
    from orchestrated_etl_spark.operators.relational import (
        grouped_rank_two_phase,
    )

    df = spark.createDataFrame(
        [(0, None, 3), (1, "a", 1), (2, None, 2), (3, "a", 5)],
        "id long, g string, v long",
    )
    order = [F.asc("id")]
    w = Window.partitionBy("g").orderBy(*order)
    expected = df.select(
        "id",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
        F.sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    got = grouped_rank_two_phase(
        df,
        ["g"],
        order,
        rank_col="rnk",
        n_col="n",
        running_sum_expr=F.col("v"),
        running_sum_col="cum",
        num_range_partitions=4,
    ).select("id", "rnk", "n", "cum")
    exp = {(r.id, r.rnk, r.n, r.cum) for r in expected.collect()}
    act = {(r.id, r.rnk, r.n, r.cum) for r in got.collect()}
    assert len(act) == 4, "null-keyed rows dropped by the re-base join"
    assert act == exp

    # multi-column key with NULLs in either component
    df2 = spark.createDataFrame(
        [(0, None, "x"), (1, "a", None), (2, None, "x"), (3, "a", None),
         (4, None, None), (5, "a", "x")],
        "id long, g1 string, g2 string",
    )
    w2 = Window.partitionBy("g1", "g2").orderBy("id")
    exp2 = {
        (r.id, r.rnk)
        for r in df2.select(
            "id", F.row_number().over(w2).alias("rnk")
        ).collect()
    }
    act2 = {
        (r.id, r.rnk)
        for r in grouped_rank_two_phase(
            df2, ["g1", "g2"], [F.asc("id")], rank_col="rnk",
            num_range_partitions=4,
        ).select("id", "rnk").collect()
    }
    assert len(act2) == 6 and act2 == exp2


def test_round16_reworked_queries_have_no_bounded_domain_windows(spark, sf_dir):
    """The r15 verdict's weak class, pinned closed: the seven reworked
    queries' physical plans carry ZERO bounded-domain-partitioned
    windows and at most the two-phase operator's 2x-printed ≤32-row
    _pid offset window (counts mirror plan_audit's allowlists, so a
    regression fails here before the registry audit)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    expect_global = {
        "window_ntile_deciles": 2,
        "window_distribution_ranks": 2,
        "train_cap_per_source": 0,
        "train_token_packing": 2,
        "train_epoch_shuffle": 2,
        "sql_lateral_correlated_topk": 0,
    }
    for name, n_glob in expect_global.items():
        plan = _plan(qs[name](spark, sf_dir))
        # salted final/rewrite windows stay allowlisted LOW-CARD cases
        allowed_lc = {"train_cap_per_source": 1,
                      "sql_lateral_correlated_topk": 1}.get(name, 0)
        assert count_low_card_windows(plan) <= allowed_lc, name
        assert count_global_windows(plan) == n_glob, name


def test_full_scan_detector(spark, sf_dir):
    from plan_audit import full_scan_smells

    full_cols = {"events": 6}
    # unpruned + unfiltered: a select-* pipeline — every column read,
    # nothing pushed. (Aggregates don't qualify: Catalyst prunes their
    # scans to the grouped/aggregated columns automatically.)
    bad = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert full_scan_smells(_plan(bad), full_cols) == ["events"]
    # pruned: projection reaches the scan -> ReadSchema is narrow
    pruned = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type"
    )
    assert full_scan_smells(_plan(pruned.groupBy("event_type").count()),
                            full_cols) == []
    # pushed: a scan-level predicate populates PushedFilters
    filtered = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("user_id") == 7
    )
    assert full_scan_smells(_plan(filtered.groupBy("event_type").count()),
                            full_cols) == []


def test_full_scan_detector_treats_truncated_schema_as_full():
    """A ReadSchema elided at spark.sql.maxMetadataStringLength (the
    "..." suffix) undercounts fields — the round-6 blind spot where a
    wide-table select-* passed the detector. An elided schema with no
    pushed filters must flag."""
    from plan_audit import full_scan_smells

    line = (
        "FileScan parquet [l_orderkey#0L] Batched: true, "
        "Location: InMemoryFileIndex(1 paths)[file:/x/lineitem.parquet], "
        "PushedFilters: [], "
        "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_sup..."
    )
    assert full_scan_smells("Scan parquet\n" + line, {"lineitem": 16}) == [
        "lineitem"
    ]
    # same elided schema WITH a pushed filter is fine
    line_pushed = line.replace(
        "PushedFilters: []", "PushedFilters: [IsNotNull(l_orderkey)]"
    )
    assert (
        full_scan_smells("Scan parquet\n" + line_pushed, {"lineitem": 16})
        == []
    )


def test_stream_audit_covers_every_streaming_query():
    """Every stream_* registry entry must carry a STREAM_AUDIT note, each
    twin:-note must name a registered NON-streaming query, and the map
    must hold no stale names — so the audit's streaming coverage can't
    silently rot as queries are added or renamed."""
    from plan_audit import STREAM_AUDIT

    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    streaming = {n for n in qs if n.startswith("stream_")}
    assert streaming <= set(STREAM_AUDIT), (
        f"unmapped streaming queries: {sorted(streaming - set(STREAM_AUDIT))}"
    )
    assert set(STREAM_AUDIT) <= streaming, (
        f"stale STREAM_AUDIT entries: {sorted(set(STREAM_AUDIT) - streaming)}"
    )
    for name, note in STREAM_AUDIT.items():
        assert note.startswith(("twin:", "exempt")), (name, note)
        if note.startswith("twin:"):
            twin = note[5:].split(" ", 1)[0].strip()
            assert twin in qs and not twin.startswith("stream_"), (name, twin)


def test_allowlists_reference_registered_queries():
    """Allowlist names must all exist in the registry — a renamed query
    would otherwise leave a stale allowlist entry that silently grants
    its smell budget to nothing (or worse, to a future query reusing
    the name with different semantics)."""
    import plan_audit as pa

    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    for listname in (
        "PAIRWISE_OK",
        "PYTHON_OK",
        "SCALAR_BROADCAST_OK",
        "FULL_SCAN_OK",
    ):
        names = set(getattr(pa, listname))
        assert names <= qs, (listname, sorted(names - qs))
    assert set(pa.GLOBAL_WINDOW_OK) <= qs, sorted(
        set(pa.GLOBAL_WINDOW_OK) - qs
    )
    assert set(pa.LOW_CARD_WINDOW_OK) <= qs, sorted(
        set(pa.LOW_CARD_WINDOW_OK) - qs
    )


def test_bench_headline_names_registered():
    """bench.py filters HEADLINE through `if n in qs` — a typo or a
    renamed query would silently SHRINK the benchmark suite instead of
    failing. Pin every headline name (and the warmup queries main()
    calls directly) to the registry."""
    import bench

    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, f"HEADLINE names not in registry: {missing}"
    for warmup in (
        "datetime_daily_rollup",
        "q1_pricing_summary",
        "sim_normalize_embeddings",
        "sim_vector_norms",
    ):
        assert warmup in qs, warmup


def test_front_rotation_names_registered():
    """registry._ordered() filters _FRONT through `if n in d` — a typo
    or a future rename would silently DROP the name and an
    already-verified query would fill the driver's 50-slot sample,
    defeating the rotation's staleness-refresh goal. Pin every _FRONT
    name to BOTH queries() and oracle_sql() (the driver samples the
    first 50 oracle-BEARING entries, so a _FRONT name without an oracle
    also wastes a slot), the list length to the driver's window size,
    and no duplicates (a duplicate shrinks the effective window)."""
    from orchestrated_etl_spark import registry

    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    front = registry._FRONT
    assert len(front) == 50, len(front)
    assert len(set(front)) == len(front), "duplicate names in _FRONT"
    not_queries = [n for n in front if n not in qs]
    assert not not_queries, f"_FRONT names not in queries(): {not_queries}"
    no_oracle = [n for n in front if n not in oracles]
    assert not no_oracle, f"_FRONT names without an oracle: {no_oracle}"


def test_rotate_front_green_rule():
    """The staleness rotation counts only GREEN driver rows as
    freshness (round-8 advice): a failed sample must re-front the
    query, not deprioritize it. Pin the `_green` classifier on every
    row shape the CORRECTNESS files have carried."""
    from rotate_front import _green

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 1, "oracle_rows": 1, "err": None}
    assert _green(ok)
    # rows-only rows may omit (or null) hash_match
    assert _green({"rows_match": True, "schema_match": True, "err": None})
    assert _green({**ok, "hash_match": None})
    assert not _green({**ok, "hash_match": False})  # r1 window_running_sum
    assert not _green({**ok, "rows_match": False})
    assert not _green({**ok, "schema_match": False})
    assert not _green({**ok, "err": "boom"})
    assert not _green("not-a-dict")
    # DEFAULT-DENY (r9 advice): partial/truncated row shapes are not
    # freshness — {"hash_match": true} alone used to count as green.
    assert not _green({"hash_match": True})
    assert not _green({"rows_match": True, "schema_match": True})  # no err
    assert not _green({"rows_match": True, "err": None})  # no schema_match
    assert not _green({})


def test_rotate_front_never_green_fronts_unconditionally():
    """A query with NO green sample must sort ahead of every sampled
    query (last=0), regardless of registration position — the `last.get
    (n, 0)` path in rotate_front (round-9 advice: the r8-reproduction
    test restricts its pool to sampled names, so it pins the sort rule
    but not this branch). Exercised on a synthetic fixture so it cannot
    rot with the committed history."""
    last = {"a": 2, "b": 1, "c": 3}  # "d" never sampled green
    reg_order = {"a": 0, "b": 1, "c": 2, "d": 3}
    stale = sorted(reg_order, key=lambda n: (last.get(n, 0), reg_order[n]))
    assert stale == ["d", "b", "a", "c"]
    # and a red-only history is the same as never sampled: _green
    # rejects the rows, so the name never enters `last` at all.
    from rotate_front import _green

    red = {"rows_match": True, "schema_match": True, "hash_match": False,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    assert not _green(red)


def test_rotate_front_reproduces_shipped_r18_front():
    """The SHIPPED round-18 `_FRONT` must equal the stalest-50
    recomputation from the committed CORRECTNESS_r01–r17 files — the
    exact check each round's judge performs by hand, made a gate. Uses
    the frozen REGISTRATION_ORDER.txt for the tie-break (what
    rotate_front.py reads), so this runs correctly even under pytest's
    permuted import order — no subprocess needed.

    ROUND COUPLING (deliberate forcing function): after each round's
    rotation, bump the round cap below and this docstring together with
    pasting the new `_FRONT` — the test fails immediately if either is
    forgotten."""
    import json

    from rotate_front import _green

    from orchestrated_etl_spark import registry

    last: dict[str, int] = {}
    paths = sorted(REPO.glob("CORRECTNESS_r*.json"))
    assert len(paths) >= 12, "committed correctness history missing"
    for path in paths:
        rnd = int(path.name.rsplit("_r", 1)[1].split(".")[0])
        if rnd > 17:
            continue  # pin to the inputs the r18 rotation was computed from
        for name, row in json.load(open(path)).items():
            if _green(row):
                last[name] = max(last.get(name, 0), rnd)
    frozen = registry.frozen_registration_order()
    assert frozen is not None
    reg_order = {n: i for i, n in enumerate(frozen)}
    oracles = set(registry.oracle_sql())
    oracle_names = [n for n in reg_order if n in oracles]
    stale = sorted(
        oracle_names, key=lambda n: (last.get(n, 0), reg_order[n])
    )[:50]
    assert stale == registry._FRONT, (
        "shipped _FRONT is not the stalest-50 from committed history"
    )


def test_rotate_front_reproduces_r8_front():
    """Recomputing the stalest-50 from the committed CORRECTNESS_r01–r07
    files must reproduce the round-8 shipped `_FRONT` bit-for-bit (the
    judge verified that list against its own staleness recomputation).
    Pins the whole rotation rule — green-only freshness, raw
    registration-order tie-break, window size — against regressions.
    The candidate pool is restricted to queries sampled by r7 so later
    registrations (which can't retroactively have r1–r7 samples) don't
    perturb the historical computation.

    Runs in a SUBPROCESS because registration order is canonical only
    from a fresh interpreter (registry.registration_order() docstring):
    pytest imports query modules directly in other test files, which
    permutes the raw dict order — the tool itself is always invoked
    standalone, and this reproduces exactly that invocation."""
    import subprocess

    script = """
import hashlib, json, sys
from pathlib import Path
REPO = Path(sys.argv[1])
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))
from rotate_front import _green
from orchestrated_etl_spark import registry
last = {}
paths = sorted(REPO.glob("CORRECTNESS_r*.json"))
assert len(paths) >= 7, "committed correctness history missing"
for path in paths:
    rnd = int(path.name.rsplit("_r", 1)[1].split(".")[0])
    if rnd > 7:
        continue
    for name, row in json.load(open(path)).items():
        if _green(row):
            last[name] = max(last.get(name, 0), rnd)
reg_order = {n: i for i, n in enumerate(registry.registration_order())}
oracle_names = [
    n for n in reg_order if n in registry.oracle_sql() and n in last
]
stale = sorted(oracle_names, key=lambda n: (last[n], reg_order[n]))[:50]
print(hashlib.sha256(chr(10).join(stale).encode()).hexdigest())
"""
    proc = subprocess.run(
        [sys.executable, "-c", script, str(REPO)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    digest = proc.stdout.strip().splitlines()[-1]
    assert digest == (
        "c0997a84c984ad3ad715121fd24739dac775e08997e74eefb3c72690289f1c80"
    ), f"r8 _FRONT recomputation drifted (digest {digest})"


def test_driver_side_materialization_allowlist():
    """Pin the package's driver-side materialization call sites. The
    scale contract ("no collect() in any operator path") has been
    verified by hand each round — this makes it a gate. The three
    allowed `.collect()` sites are each a bounded driver fetch, never
    corpus data:

    - queries/graph.py ×2: 1-scalar BFS / shortest-path seed fetches
      (an iterative algorithm's hyperparameter, not data).
    - sources/scratch.py ×1: 25-row fixture-prep loop for the binaryFile
      source (dimension-sized, test-data setup).

    `toPandas`/`toLocalIterator` are banned outright. Tokenized scan,
    so docstrings/comments mentioning collect() don't count. Keys are
    package-relative paths (not basenames) so a same-named file in
    another subpackage can't share a sibling's budget."""
    import tokenize

    allowed = {
        "queries/graph.py": 2,
        "sources/scratch.py": 1,
    }
    found: dict[str, int] = {}
    banned: list[tuple[str, int, str]] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        prev = None
        with open(path, "rb") as f:
            toks = list(tokenize.tokenize(f.readline))
        for t in toks:
            if (
                t.type == tokenize.NAME
                and prev is not None
                and prev.type == tokenize.OP
                and prev.string == "."
            ):
                if t.string == "collect":
                    found[rel] = found.get(rel, 0) + 1
                elif t.string in ("toPandas", "toLocalIterator"):
                    banned.append((rel, t.start[0], t.string))
            if t.type not in (
                tokenize.NL,
                tokenize.NEWLINE,
                tokenize.INDENT,
                tokenize.DEDENT,
                tokenize.COMMENT,
            ):
                prev = t
    assert not banned, f"banned driver-side materializations: {banned}"
    assert found == allowed, (
        "collect() call sites changed — a new one needs a written "
        f"bounded-fetch reason here: found={found} allowed={allowed}"
    )


def test_stub_site_allowlist():
    """Pin the package's stub surface to the one site the repo
    legitimately needs (previously a hand check each round):

    - functions/multimodal.py: the env-gated media DECODER raise — the
      container has no image/audio libs, the stub is the documented
      honest boundary and its deterministic fake path IS oracle-checked.

    No `pass` statement is allowed anywhere: a new one, or a new
    NotImplementedError, is either padding (unfinished surface presented
    as done) or a new env gate that needs a written reason here.
    Tokenized NAME scan (comments and docstrings mentioning either word
    don't count — a `pass` NAME token can only be the statement keyword)
    compared as a per-file multiset, so neither glob order nor prose can
    flip the gate."""
    import tokenize
    from collections import Counter

    nie: Counter[str] = Counter()
    bare: Counter[str] = Counter()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        with open(path, "rb") as f:
            for t in tokenize.tokenize(f.readline):
                if t.type != tokenize.NAME:
                    continue
                if t.string == "NotImplementedError":
                    nie[rel] += 1
                elif t.string == "pass":
                    bare[rel] += 1
    assert nie == Counter({"functions/multimodal.py": 1}), dict(nie)
    assert bare == Counter(), dict(bare)


def test_spark_connect_portability_exemptions_are_pinned():
    """Round-12 verdict item 3: a Spark Connect client has no
    ``SparkSession.sparkContext``, so any operator touching it breaks on
    the deployment shape a shared 1000-executor cluster actually serves.
    All classic-only reads are funneled through compat.py's documented
    try/fallback accessors; this tokenizer-based grep pins the EXACT
    remaining ``sparkContext`` attribute sites (comments/docstrings
    don't count, so prose can't satisfy or trip the gate):

    - compat.py: 2 — the guarded reads inside default_parallelism /
      application_id, each with a Connect-safe fallback;
    - session.py: 1 — setLogLevel in our own classic-only builder (a
      Connect user never calls it; the driver builds its own session).

    Everything else the engine calls is Connect-clean in Spark 4
    (DataFrame.localCheckpoint included, added to Connect in 4.0). A new
    classic-only touch anywhere else fails here with its location."""
    import tokenize
    from collections import Counter

    sites: Counter[str] = Counter()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        with open(path, "rb") as f:
            for t in tokenize.tokenize(f.readline):
                if t.type == tokenize.NAME and t.string == "sparkContext":
                    sites[rel] += 1
    assert sites == Counter({"compat.py": 2, "session.py": 1}), dict(sites)


def test_streams_drain_in_one_module():
    """Every stream the engine runs starts in streaming/events_stream.py
    (``drain``, which runs each stream to completion and raises on
    failure) or in plans/pipeline.py (``run_streaming``, the long-lived
    trigger), and no query module makes a system temp dir: a query's
    files live under its ``scratch_path``. An AST scan, so comments and
    docstrings cannot trip or satisfy it."""
    import ast

    writers, temp_users = set(), set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                writers.add(rel)
            imported = (
                [a.name for a in node.names] if isinstance(node, ast.Import)
                else [node.module] if isinstance(node, ast.ImportFrom)
                else []
            )
            if rel.startswith("queries/") and "tempfile" in imported:
                temp_users.add(rel)
    assert writers == {"streaming/events_stream.py", "plans/pipeline.py"}
    assert not temp_users, sorted(temp_users)


def test_staging_has_one_primitive():
    """Every relation the engine stages goes through ``compat.stage``:
    no engine module but compat.py calls ``.localCheckpoint(...)`` or
    ``staged_checkpoint(...)``. A hand-rolled call would skip the
    primitive's concurrency-safe AQE flip and the one place its
    eager/lazy and partitioning choices are written down. An AST scan,
    so comments and docstrings cannot trip or satisfy it."""
    import ast

    callers = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in ("localCheckpoint", "staged_checkpoint"):
                callers.add(rel)
    assert callers == {"compat.py"}, sorted(callers - {"compat.py"})


def test_sql_inputs_are_bound_not_registered():
    """No engine module registers a temp view: a SQL-text query takes its
    input frames as ``spark.sql`` keyword arguments, which bind them
    under fresh names for the one call. A session-wide view name is
    shared state — the last registration anywhere in the session wins,
    so a query reading it by name can read another query's input. An AST
    scan, so comments and docstrings cannot trip or satisfy it. (A
    streaming memory sink names its table by ``queryName``; that is not
    a registration call.)"""
    import ast

    registers = {
        "createOrReplaceTempView",
        "createTempView",
        "createGlobalTempView",
        "createOrReplaceGlobalTempView",
        "registerTempTable",
    }
    callers = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in registers
            ):
                callers.add(rel)
    assert not callers, sorted(callers)


def test_fixture_tables_have_one_reader():
    """Every fixture-table read goes through sources/catalog.load_table,
    which reads with the declared schema: an undeclared
    ``spark.read.parquet`` runs a footer-inference job per table read,
    and a hand-rolled read elsewhere would bring it back unseen. An AST
    scan (comments and docstrings cannot trip or satisfy it) flags, in
    every engine module except catalog.py:

    - a batch parquet read (``<x>.read[.<opt>(...)].parquet(...)``) whose
      arguments mention ``sf_dir``;
    - an f-string building a fixture path ``{sf_dir}/<table>.parquet``.

    Read-backs of paths the engine wrote itself (``path``, ``target``,
    ``base``) stay allowed, and so does the events file stream, which
    has its own declared reader."""
    import ast

    def mentions_sf_dir(node) -> bool:
        return any(
            isinstance(n, ast.Name) and n.id == "sf_dir" for n in ast.walk(node)
        )

    def reads_batch(call: ast.Call) -> bool:
        node = call.func.value
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                return True
            node = node.func if isinstance(node, ast.Call) else node.value
        return False

    def fixture_path(node: ast.JoinedStr) -> bool:
        tail = node.values[-1]
        return (
            mentions_sf_dir(node)
            and isinstance(tail, ast.Constant)
            and str(tail.value).endswith(".parquet")
        )

    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "sources/catalog.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and reads_batch(node)
                and any(mentions_sf_dir(a) for a in node.args)
            ) or (isinstance(node, ast.JoinedStr) and fixture_path(node)):
                sites.add(f"{rel}:{node.lineno}")
    assert not sites, sorted(sites)


def test_compat_accessors_classic_and_connect_fallback(spark):
    """compat.default_parallelism / application_id must (a) match the
    classic sparkContext reads on a classic session, (b) degrade to the
    documented conf-based fallbacks ONLY on the literal Connect error
    type, and (c) propagate every classic-session failure — including a
    STOPPED SparkContext, whose signature is a plain AttributeError
    (SparkContext.stop() sets _jsc=None; round-14 review verified
    against the pyspark 4.1.2 source that the r13 bare-AttributeError
    guard silently swallowed exactly the case its comment promised to
    propagate)."""
    from pyspark.errors import PySparkAttributeError

    from orchestrated_etl_spark.compat import (
        application_id,
        default_parallelism,
    )

    assert default_parallelism(spark) == \
        spark.sparkContext.defaultParallelism
    assert application_id(spark) == spark.sparkContext.applicationId

    class _Conf:
        def __init__(self, values):
            self._values = values

        def get(self, key, default=None):
            return self._values.get(key, default)

    class _ConnectLike:
        """The REAL Connect client shape: sparkContext exists as a
        property that raises PySparkAttributeError — not a missing
        attribute (pyspark.sql.connect.session defines it to raise
        JVM_ATTRIBUTE_NOT_SUPPORTED)."""

        def __init__(self, values):
            self.conf = _Conf(values)

        @property
        def sparkContext(self):
            raise PySparkAttributeError(
                errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
                messageParameters={"attr_name": "sparkContext"},
            )

    c = _ConnectLike({"spark.sql.shuffle.partitions": "17",
                      "spark.app.id": "app-42"})
    assert default_parallelism(c) == 17
    assert application_id(c) == "app-42"
    bare = _ConnectLike({})
    assert default_parallelism(bare) == 200
    assert application_id(bare) == f"session-{id(bare)}"

    # Classic-session failures of EVERY other type must propagate, not
    # silently switch the repartition width to the fallback:
    class _BrokenClassic:
        conf = _Conf({"spark.sql.shuffle.partitions": "17"})

        @property
        def sparkContext(self):
            raise RuntimeError("SparkContext was shut down")

    broken = _BrokenClassic()
    with pytest.raises(RuntimeError, match="shut down"):
        default_parallelism(broken)
    with pytest.raises(RuntimeError, match="shut down"):
        application_id(broken)

    class _StoppedClassic:
        """The stopped-classic signature: a PLAIN AttributeError from
        dereferencing the None _jsc — must NOT take the Connect
        fallback."""

        conf = _Conf({"spark.sql.shuffle.partitions": "17"})

        class _DeadContext:
            @property
            def defaultParallelism(self):
                raise AttributeError(
                    "'NoneType' object has no attribute 'sc'"
                )

            @property
            def applicationId(self):
                raise AttributeError(
                    "'NoneType' object has no attribute 'sc'"
                )

        sparkContext = _DeadContext()

    stopped = _StoppedClassic()
    with pytest.raises(AttributeError, match="NoneType"):
        default_parallelism(stopped)
    with pytest.raises(AttributeError, match="NoneType"):
        application_id(stopped)


def test_seeded_spot_check_sample_reproduces_r18_draw():
    """check_oracle --sample/--seed/--non-front pins the judges'
    spot-check protocol mechanically (it was hand-rolled r12-r14). The
    r18 round record (COVERAGE.md round-18 delta) draws seed 2322
    (sequence 1312/1514/1716/1918/2120/2322), n 24, non-front over the
    r18 front — this asserts the tool reproduces that committed draw
    bit-for-bit, so a pool/ordering change that would silently re-map
    historical seeds fails here instead. Re-pinned each rotation round:
    the non-front pool is defined against the CURRENT front."""
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from check_oracle import sample_queries

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    got = sample_queries(qs, oracles, 24, 2322, non_front=True)
    assert got == [
        "src_python_datasource", "asof_join_salted",
        "train_profile_documents", "setop_except", "sim_groupmap_zscore",
        "setop_union", "src_text_logparse", "window_topk_per_group",
        "agg_filtered_conditional", "graph_label_propagation",
        "agg_median_percentiles", "search_bm25_topk",
        "sample_hash_deterministic", "text_lang_profile", "mm_scene_cut",
        "s3_completeness_filter", "sql_q18_large_orders",
        "stream_session_windows", "json_map_entries", "text_word_topk",
        "mm_vad_segments", "sql_group_by_all", "dedup_minhash_lsh",
        "t2_dedup_by_key",
    ]
    # no query may appear in both the draw and the driver's front
    from orchestrated_etl_spark import registry

    assert not set(got) & set(registry._FRONT)


def test_read_schema_field_count_handles_parenthesized_types():
    """Round-14 review: commas inside decimal(p,s)/varchar(n) type
    parameters must not count as field separators, or a pruned scan
    over a decimal-bearing table reads as a full scan."""
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from plan_audit import _read_schema_field_count

    assert _read_schema_field_count("a:double,b:int>") == 2
    assert _read_schema_field_count("a:decimal(12,2),b:decimal(10,0)>") == 2
    assert _read_schema_field_count(
        "a:struct<x:int,y:decimal(10,2)>,b:int>"
    ) == 2
    assert _read_schema_field_count("") == 0


def test_check_oracle_int_flag_rejects_malformed_values():
    """Round-14 ADVICE: `--first --5` crashed int() with a traceback
    (the exact failure mode the guard was added to prevent) and
    `--first -5` silently sliced the pool from the END. Both, plus any
    non-numeric value and a missing value, must be the rc-2 usage
    error — returned by argv parsing BEFORE any Spark/DuckDB work
    starts, so the subprocess exits in well under a second."""
    import subprocess

    for bad in (["--first", "--5"], ["--first", "-5"], ["--first", "x"],
                ["--sample", "-3"], ["--first"]):
        proc = subprocess.run(
            [sys.executable, str(REPO / "tools" / "check_oracle.py"), *bad],
            capture_output=True, text=True, timeout=120,
        )
        assert proc.returncode == 2, (bad, proc.stdout, proc.stderr)
        assert "integer" in proc.stderr, (bad, proc.stderr)


def test_sample_queries_oversized_draw_is_usage_error():
    """Round-14 ADVICE: --sample N exceeding the (possibly non-front-
    shrunk) oracle pool must follow the tool's rc-2 usage convention —
    a SystemExit naming the pool size — not an unhandled
    random.Random.sample ValueError traceback."""
    from check_oracle import sample_queries

    qs = {"a": None, "b": None, "c": None}
    oracles = {"a": "", "b": ""}
    with pytest.raises(SystemExit, match=r"exceeds the oracle pool size 2"):
        sample_queries(qs, oracles, 3, 0, non_front=False)
    # boundary: n == pool size is a valid draw of the whole pool
    assert set(sample_queries(qs, oracles, 2, 0, non_front=False)) == {
        "a", "b",
    }


def test_growing_dim_joins_not_force_broadcast_repo_wide(spark, sf_dir):
    """Round-15 repo-wide sweep of the forced-broadcast class (after
    the wave15 pass found nine sites, every remaining F.broadcast in
    the engine was classified): TPC-H supplier/customer/part hints,
    the star-join and A-family customer hints, the bloom-join supplier
    hint, and the MinHash verify legs (candidate-sized, which still
    grows with the corpus — the old comment claiming AQE would refuse
    an oversized hint was wrong; hints are honored unconditionally)
    are all dropped. With auto-broadcast disabled each plan must
    contain exactly its FIXED-DOMAIN hinted joins (nation 25 rows /
    region 5 rows) and nothing more."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    expected = {
        "j1_star_join_revenue": 2,   # nation + region keep their hints
        "a1_a5_enrich_family": 0,
        "join_bloom_prefilter": 0,   # bloom row is a BNLJ crossJoin
        "sql_q5_local_supplier_volume": 2,  # nation + region
        "dedup_minhash_lsh": 0,
        "train_incremental_dedup": 0,
        # round-16 bounded-domain-window reworks: every surviving hint
        # is bounded — the two-phase ≤32-row _pid offsets (whose lazy
        # localCheckpoint subtree PRINTS under both consumers, so the
        # internal hinted join counts twice) plus the re-base offsets
        # where the group domain is construction-fixed (3 statuses /
        # 2×8 epoch-shard / 3-row per-status totals). The per-source
        # re-bases carry NO hint (source count grows with the dump
        # inventory) — under disabled auto-broadcast they fall back to
        # shuffle joins, which is exactly what these counts pin.
        "window_ntile_deciles": 3,        # 2x _pid + 3-row status offsets
        "window_distribution_ranks": 4,   # 2x _pid + status offsets + totals
        "train_cap_per_source": 0,        # salted windows, no join at all
        "train_token_packing": 2,         # 2x _pid; source re-base unhinted
        "train_e2e_pipeline": 2,          # 2x _pid; source re-base unhinted
        "train_epoch_shuffle": 3,         # 2x _pid + 16-row epoch×shard
        "sql_lateral_correlated_topk": 0,  # salted SQL windows, no join
        # round-16 review: the TF-IDF doc-frequency join lost its hint
        # (the df relation is the Heaps'-law-unbounded raw vocabulary,
        # the same class as the r15-dropped PMI vocabulary hint).
        "text_tfidf_keywords": 0,
        # round-17 review: the unigram-LM join lost its SQL-text
        # /*+ BROADCAST(lm) */ hint — the same raw-vocabulary class;
        # SQL hints escaped the F.broadcast() greps of r15/r16.
        "text_unigram_logprob": 0,
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, n_bounded in expected.items():
            plan = (
                qs[name](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
            got = plan.count("BroadcastHashJoin")
            assert got == n_bounded, (name, got, plan[:4000])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_growing_relation_joins_not_force_broadcast(spark, sf_dir):
    """Round-15 review: seven wave-15 queries force-broadcast linearly
    growing relations (O(V) HITS score vectors, corpus-proportional
    shared CDC hashes, the customer dimension twice, |parts| counts,
    vocabulary tables, O(V) community labels) while their docstrings
    promised 'shuffle past the threshold' — a forced hint never falls
    back. With auto-broadcast disabled, each plan must contain exactly
    its BOUNDED-hint broadcast joins and nothing more (gini keeps
    three in the PRINTED initial plan: the 25-row nation offsets plus
    the 32-row two-phase-rank offsets join, which appears twice
    because the lazy localCheckpoint subtree prints under both of its
    consumers; scalar crossJoin broadcasts surface as
    BroadcastNestedLoopJoin, which this check deliberately ignores)."""
    from orchestrated_etl_spark.queries.aggregates import (
        _basket_lift,
        _gini_revenue,
    )
    from orchestrated_etl_spark.queries.graph import (
        _graph_modularity,
        _hits_2iter,
    )
    from orchestrated_etl_spark.queries.llm_dedup import _cdc_chunks
    from orchestrated_etl_spark.queries.llm_text import _pmi_collocations
    from orchestrated_etl_spark.queries.relational import _scd2_point_in_time

    expected = [
        (_hits_2iter, 0),
        (_cdc_chunks, 0),
        (_scd2_point_in_time, 0),
        (_basket_lift, 0),
        (_pmi_collocations, 0),
        (_graph_modularity, 0),
        (_gini_revenue, 3),
    ]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn, n_bounded in expected:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
            got = plan.count("BroadcastHashJoin")
            assert got == n_bounded, (fn.__name__, got, plan[:4000])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
