"""Deduplication operators for training-data pipelines.

Five families, all shuffle-aware and UDF-free:

- **exact**: hash-groupBy on content (or its md5) — one shuffle on the
  content hash; the representative row is chosen with min_by, so output is
  deterministic.
- **MinHash + LSH**: per-doc k-element MinHash signature over the token
  set, banded into b bands; docs sharing any band bucket become candidate
  pairs (a self-join on the band key — the ONLY pairwise step, and its
  size is governed by bucket sizes, not n²); candidates are then verified
  with exact Jaccard. At 100 TB the band join is the scalable core: no
  crossJoin anywhere.
- **SimHash**: per-doc locality-sensitive bit signature from token hashes;
  near-dup candidates share (or nearly share) signatures.
- **n-gram Jaccard**: shingle-inverted-index self-join (docs sharing ≥1
  shingle) → exact Jaccard per pair — the non-approximate baseline; at
  scale, stop-shingle removal (drop shingles with huge document frequency)
  bounds the join fan-out.
- **embedding cosine**: blocked near-dup join (block = cheap partition key
  such as a cluster/label id) with an exact cosine threshold inside each
  block — the embedding analogue of LSH banding.

Portability note: signatures are built from md5 (not Spark's xxhash64) so
independent engines (the DuckDB oracle) can reproduce them bit-for-bit.
md5-as-hex compares lexicographically == numerically, so ``min(md5)`` is a
valid MinHash permutation minimum. For pure-Spark production use,
xxhash64(shingle, seed) is ~4× cheaper; the structure is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orchestrated_etl_spark.compat import default_parallelism, stage
from orchestrated_etl_spark.functions.text import tokens


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Keep one deterministic representative (min id) per exact content
    value; adds ``dup_count``. Single hash aggregate — one shuffle keyed on
    the (hashed) content."""
    others = [c for c in df.columns if c not in (content_col, id_col)]
    return df.groupBy(content_col).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("dup_count"),
        *[F.min_by(c, id_col).alias(c) for c in others],
    )


# ---------------------------------------------------------------------------
# shingles + exact jaccard (shared building blocks)
# ---------------------------------------------------------------------------


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the text column."""
    t = tokens(col)
    cnt = F.size(t)
    idx = F.sequence(F.lit(1), F.greatest(cnt - n + 1, F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(t, i, n), " "))
    )


def _exploded_sets(df: DataFrame, id_col: str, set_col: Column) -> DataFrame:
    """(id, element) pairs of the exploded distinct set + per-id set size.
    ``array_distinct`` is ENFORCED here, not assumed (round-14 review):
    a multiset input (e.g. raw ``F.split(text, ' ')``) made the joined
    overlap counts multiplicative in duplicate multiplicity — shared
    could exceed the union and Jaccard went negative, silently. For
    already-distinct inputs (shingles()) this is an idempotent no-op."""
    base = df.select(
        F.col(id_col).alias("_id"), F.array_distinct(set_col).alias("_set")
    )
    return base.select(
        "_id", F.explode("_set").alias("_elem"), F.size("_set").alias("_n")
    )


def _cap_document_frequency(ex: DataFrame, max_df: int) -> DataFrame:
    """Drop elements whose document frequency exceeds ``max_df`` from
    the inverted index — the adversarial-corpus guard for the exact
    pairwise operators (round-18: previously documented prose, now a
    real parameter). One element shared by all D documents makes the
    element self-join genuinely quadratic (D²/2 candidate rows from a
    single hot shingle — boilerplate headers, empty-ish pages); capping
    df bounds candidates per element at max_df²/2. The hot-element
    relation itself is small by construction: at most
    |index| / max_df elements can exceed the cap, so the anti-join's
    build side shrinks as the cap grows.

    Plan shape (verified via explain at introduction): the anti-join
    plans as a shuffle-capable SortMergeJoin LeftAnti on the element
    key — AQE swaps in a broadcast when the hot list is small — and
    its element-keyed Exchange is the same partitioning the downstream
    self-join requires. Caveat for corpus scale: the pairwise callers
    self-join two ALIASES of the capped index, and Spark duplicates
    the plan subtree per alias (distinct exprIds defeat exchange
    reuse), so the df-aggregate evaluates twice; a production caller
    capping a 100 TB index should stage the capped index once
    (persist or a checkpointed write) before the self-join."""
    hot = (
        ex.groupBy("_elem")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("_elem")
    )
    return ex.join(hot, "_elem", "left_anti")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    set_col: Column,
    threshold: float,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over an inverted-index self-join: only pairs sharing
    ≥1 element are ever materialized. Returns (id_a, id_b, jaccard) with
    id_a < id_b. The per-element join is the scale knob: ``max_df``
    drops elements with document frequency above it from the index
    before the self-join (default None = exact, bit-identical to the
    uncapped form — every oracle runs uncapped). RECALL EFFECT when
    set: a pair sharing ONLY hot elements is never materialized, and a
    surviving pair's ``shared`` count excludes hot elements, so the
    reported score is a LOWER bound of true Jaccard — the standard
    trade for boilerplate-heavy corpora, where a hot shingle carries no
    near-dup signal anyway."""
    # Explicit-count repartition for the same reason as minhash_lsh_dedup:
    # parallelize per-doc set construction even from a one-file scan, and
    # keep AQE from coalescing the byte-small exchange to one partition.
    df = df.repartition(
        default_parallelism(df.sparkSession), F.col(id_col)
    )
    ex = _exploded_sets(df, id_col, set_col)
    if max_df is not None:
        ex = _cap_document_frequency(ex, max_df)
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._elem") == F.col("b._elem"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._n").alias("n_a"),
            F.col("b._n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    set_col: Column,
    threshold: float,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric containment |A∩B| / |A| over the same inverted-index
    self-join as ``jaccard_pairs``: finds documents (nearly) CONTAINED
    in another — a quoted paragraph inside a long page, a subset shard
    re-ingested inside a superset — which symmetric Jaccard misses
    because the union in its denominator is dominated by the longer
    document (A ⊂ B with |B| = 20·|A| has Jaccard ≈ 0.05 but
    containment(A→B) = 1.0; Broder's original resemblance/containment
    pairing). Returns DIRECTED (src_id, dst_id, containment) rows with
    src != dst: src is the contained side, so both directions of an
    asymmetric overlap are reported independently.

    Scale posture is jaccard_pairs': only element-sharing pairs
    materialize, and ``max_df`` is the adversarial-corpus knob (same
    semantics and recall effect — see jaccard_pairs; default None is
    bit-identical to the uncapped form). The ratio is one int/int
    division of exact counts — engine-independent up to the shared
    round(6)."""
    df = df.repartition(
        default_parallelism(df.sparkSession), F.col(id_col)
    )
    ex = _exploded_sets(df, id_col, set_col)
    if max_df is not None:
        ex = _cap_document_frequency(ex, max_df)
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a._elem") == F.col("b._elem"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("src_id"),
            F.col("b._id").alias("dst_id"),
            F.col("a._n").alias("n_src"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.withColumn(
            "containment", F.round(F.col("shared") / F.col("n_src"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("src_id", "dst_id", "containment")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

# Universal-hash family over the Mersenne-ish prime P = 2^31 - 1: one
# md5 per element gives h (60-bit, cross-engine reproducible — see module
# docstring), then sig_i = min((A_i·(h mod P) + B_i) mod P). Constants are
# arbitrary fixed odd values < P shared with the DuckDB oracle.
MINHASH_P = 2147483647
_MINHASH_A = [1_000_003 + 2_000_033 * i for i in range(16)]
_MINHASH_B = [777_777_777 + 111_111_113 * i for i in range(16)]


def minhash_hash_constants(k: int) -> list[tuple[int, int]]:
    """(A_i, B_i) pairs for oracle construction."""
    return [(_MINHASH_A[i], _MINHASH_B[i]) for i in range(k)]


def _minhash_agg(ex: DataFrame, k: int) -> DataFrame:
    """(_id, _elem) rows → k-column signature: each element is md5'd ONCE
    (the expensive part), reduced to a 60-bit integer h, and the k
    permutations are the cheap affine maps sig_i = min((A_i·(h mod P) +
    B_i) mod P). Duplicate _elem rows are harmless — min is idempotent —
    so callers may feed multiset rows and skip the distinct."""
    h = (
        F.conv(F.substring(F.md5(F.col("_elem").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % MINHASH_P
    )
    ex = ex.withColumn("_h", h)
    aggs = [
        F.min((F.lit(_MINHASH_A[i]) * F.col("_h") + F.lit(_MINHASH_B[i])) % MINHASH_P)
        .alias(f"sig{i}")
        for i in range(k)
    ]
    return ex.groupBy(F.col("_id")).agg(*aggs)


def minhash_signature(
    df: DataFrame, id_col: str, set_col: Column, k: int = 8
) -> DataFrame:
    """k-element MinHash signature of an arbitrary array column — one
    explode + one k-min hash aggregate.

    Measured note: the tempting no-shuffle formulation —
    array_min(transform(set, ...)) — is 2-3× SLOWER because higher-order
    -function lambdas evaluate interpreted; the exploded aggregate also
    spreads hash work across all cores regardless of input file count.
    For text shingles prefer ``minhash_signature_text`` (4× faster: no
    array materialization at all).
    """
    return _minhash_agg(_exploded_sets(df, id_col, set_col), k)


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(_id, _elem) word n-gram shingle rows WITHOUT building shingle
    arrays: posexplode tokens for positions, then each shingle is
    array_join(slice(tokens, pos+1, n)) — slice/array_join are ordinary
    codegen'd expressions, so the whole thing is a MAP-ONLY stage: no
    window, no shuffle, no sort before the signature aggregate (the
    earlier window-lead formulation paid a shuffle + per-doc sort here;
    measured 1.6s -> 1.1s at sf0.1, and at 100 TB it removes the only
    non-aggregate shuffle in the minhash path). The token array is
    split ONCE per doc and carried through the generate (r18, guide
    §1.2 per-task work: the earlier form re-split the full text string
    for every token row — O(tokens²) character work per doc; measured
    0.81 s → 0.68 s warm for the signature pass at sf0.1 with
    bit-identical signatures, and the win grows with document length).

    Byte-identical strings to ``shingles()`` (including the whole-text
    shingle for docs shorter than n tokens) and emits multiset rows
    (duplicate shingles survive; fine for min-hash, not for Jaccard)."""
    t = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("_id"), t.alias("_ts")).select(
        "_id",
        "_ts",
        F.posexplode("_ts").alias("_pos", "_tok"),
        F.size("_ts").alias("_cnt"),
    )
    shingle = F.array_join(
        F.slice(F.col("_ts"), F.col("_pos") + 1, n), " "
    )
    # full n-grams only, except: a doc shorter than n tokens contributes
    # its whole text as the single shingle (the short slice joins what's
    # there), exactly like shingles()'s greatest(cnt-n+1, 1) floor.
    keep = (F.col("_pos") <= F.col("_cnt") - n) | (
        (F.col("_pos") == 0) & (F.col("_cnt") < n)
    )
    return base.filter(keep).select("_id", shingle.alias("_elem"))


def minhash_signature_text(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 8
) -> DataFrame:
    """MinHash signature over word n-gram shingles of a text column via
    ``shingle_rows`` — the fast path for the standard pretraining-dedup
    formulation. Identical signature values to
    ``minhash_signature(df, id, shingles(text, n), k)``."""
    return _minhash_agg(shingle_rows(df, id_col, text_col, n), k)


def bucket_key_cols(rows_per_band: int = 2) -> list[str]:
    """The bucket key column names band_buckets emits (band + the r raw
    band-sig integers) — what callers group or join on."""
    return ["band"] + [f"k{r}" for r in range(rows_per_band)]


def _check_banding(k: int, bands: int, rows_per_band: int) -> None:
    """k must equal bands*rows_per_band or the banding silently ignores
    surplus signature columns (k too big: paying 2x signature cost while
    candidate recall is governed by fewer hashes than asked) or dies
    with an opaque unresolved-column error deep in execution (k too
    small) — round-14 review. Loud and early instead."""
    if k != bands * rows_per_band:
        raise ValueError(
            f"k={k} signature hashes cannot split into bands={bands} x "
            f"rows_per_band={rows_per_band} (= {bands * rows_per_band}); "
            "set k = bands*rows_per_band"
        )


def band_buckets(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """(_id, band, k0..k{r-1}) rows: the signature split into b bands of
    r rows, with the RAW band sig integers as the bucket key columns —
    grouping/joining on int tuples measured ~15% faster than on a
    '|'-concatenated string key (no per-row string building, cheaper
    hashing), with identical bucket contents. Shared by the self-join
    pair generator below and the cross-set incremental variant."""
    key_aliases = [f"k{r}" for r in range(rows_per_band)]
    bucket_cols = []
    for b in range(bands):
        parts = [f"sig{b * rows_per_band + r}" for r in range(rows_per_band)]
        bucket_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                *[
                    F.col(p).alias(a)
                    for p, a in zip(parts, key_aliases)
                ],
            )
        )
    return sigs.select(
        "_id", F.explode(F.array(*bucket_cols)).alias("bk")
    ).select("_id", "bk.band", *[f"bk.{a}" for a in key_aliases])


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """Band the signature (b bands × r rows), bucket by band value, and
    self-join inside buckets. Pair multiplicity from multiple matching
    bands is collapsed with distinct. Bucket keys are the raw band sig
    integers (see band_buckets)."""
    buckets = band_buckets(sigs, bands, rows_per_band)
    # Pairs are generated WITHIN each bucket from a collected id list, not
    # via a bucket self-join: the self-join's two branches would each
    # recompute the whole upstream signature pipeline (scan → shingles →
    # hash → aggregate), which dominated the runtime. collect_list is safe
    # exactly because LSH makes buckets small — a bucket that collects
    # millions of ids would mean the banding scheme has already failed.
    grouped = (
        buckets.groupBy(*bucket_key_cols(rows_per_band))
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    n = F.size("ids")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + 1, n),
                lambda j: F.struct(
                    F.element_at("ids", i).alias("id_a"),
                    F.element_at("ids", j).alias("id_b"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    set_col: Column | None = None,
    *,
    text_col: str | None = None,
    shingle_n: int = 3,
    k: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.9,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature → banded candidates →
    exact-Jaccard verification of candidates only. Output: (id_a, id_b,
    jaccard ≥ threshold) for LSH-surfaced pairs.

    Verification joins the candidate pairs (few, by LSH construction)
    back to the full element arrays and computes Jaccard with
    array_intersect — per-pair O(|set|) with no explode and no extra
    aggregate. The only shuffles in the whole pipeline are the band-bucket
    self-join and these two id-equi-joins."""
    # Repartition the COMPACT doc rows before the heavy per-row work: the
    # md5×k signature cost must spread over all cores even when the input
    # is a single small file (1-2 scan partitions locally). This shuffles
    # n doc rows — far cheaper than the explode-based formulation's
    # shuffle of n×|set| element rows, and a no-op on a well-partitioned
    # 100 TB input.
    _check_banding(k, bands, rows_per_band)
    # Spread the per-doc shingle/hash work across all cores FIRST: a
    # small corpus arrives as one file → one scan partition, and every
    # downstream expression would run single-threaded in that scan stage.
    # Shuffling the n compact doc rows is far cheaper than the compute it
    # parallelizes (and a no-op cost on a well-partitioned 100 TB input).
    # The partition count is EXPLICIT because AQE would coalesce a
    # by-column repartition of byte-small data back to one partition —
    # optimizing for bytes-per-partition when the cost here is
    # compute-per-row.
    df = df.repartition(
        default_parallelism(df.sparkSession), F.col(id_col)
    )
    if text_col is not None:
        # text fast path: signature from window-lead shingle rows (no
        # array materialization, stays in codegen); verification arrays
        # are still built, but only joined against the few candidates.
        set_col = shingles(text_col, shingle_n)
        sigs = minhash_signature_text(df, id_col, text_col, shingle_n, k)
    elif set_col is not None:
        sigs = minhash_signature(df, id_col, set_col, k)
    else:
        raise ValueError("pass set_col or text_col")
    # Materialize the signature relation ONCE. Without this, the candidate
    # branch and the verification branch each re-execute scan → shingle →
    # hash → aggregate (column pruning blocks Spark's exchange reuse), so
    # the corpus was scanned 7× per run — at 100 TB the dominant wasted
    # cost. Staging truncates the lineage: sigs is n docs × (k+1)
    # compact columns, orders of magnitude smaller than the corpus.
    # (Measured here: lazy staging — letting the sets job materialize the
    # chain in one pass — benched ~0.4 s SLOWER than eager.)
    sigs = stage(sigs)
    # cands is consumed twice (cand_ids leg + the verification join) and
    # is tiny by LSH construction — stage it too.
    cands = stage(lsh_candidate_pairs(sigs, bands, rows_per_band))
    # Build the verification shingle ARRAYS only for docs that appear in
    # some candidate pair: the array builder (sequence+transform) is an
    # interpreted higher-order function, so constructing it for the whole
    # corpus costs more than everything else in this pipeline combined
    # once candidates are sparse — which is precisely what LSH guarantees.
    # One pass over cands (explode both legs); no distinct — the semi join
    # is insensitive to duplicate build-side keys, and the dedup shuffle
    # would cost more than the duplicate probe hits it saves.
    cand_ids = cands.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("_cid")
    )
    # sets feeds both pair legs (pa, pb); staging it caps the whole
    # pipeline at TWO corpus scans total (one for sigs, one here).
    sets = stage(
        df.join(cand_ids, df[id_col] == F.col("_cid"), "left_semi")
        .select(F.col(id_col).alias("_id"), set_col.alias("_set"))
    )
    pa = sets.select(F.col("_id").alias("id_a"), F.col("_set").alias("_sa"))
    pb = sets.select(F.col("_id").alias("id_b"), F.col("_set").alias("_sb"))
    shared = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size("_sa") + F.size("_sb") - shared
    # The doc-set legs are candidate-sized (|sets| <= 2·|cands| by
    # construction), NOT corpus-sized — but candidate volume still grows
    # with the corpus, so the joins carry NO forced broadcast hint
    # (round-15 review: a hint is honored unconditionally — AQE does not
    # refuse an over-sized user hint, it OOMs; the earlier comment
    # claiming otherwise was wrong). Threshold/AQE broadcast the legs
    # while they are small and shuffle on the id past that — correctness
    # unaffected either way.
    return (
        cands.join(pa, "id_a")
        .join(pb, "id_b")
        .withColumn("jaccard", F.round(shared / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_minhash_flags(
    incoming: DataFrame,
    history: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    k: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.9,
) -> DataFrame:
    """Cross-set MinHash-LSH: flag INCOMING docs that are near-dups of
    the HISTORY corpus — the nightly-ingest fuzzy twin of the exact
    content-hash anti-join (train_incremental_dedup). Output one row per
    incoming doc: (id, is_neardup, matched = min matching history id, or
    -1).

    The asymmetry is the scale story: history signatures/buckets are the
    PERSISTED dedup index (here ``stage``; at 100 TB a staged
    parquet store keyed by bucket, appended nightly) — history text is
    never re-shingled per batch. The batch joins its bucket rows against
    the store on (band, bucket) — candidate pairs are cross-set band
    collisions only, never history x history — and only candidate docs'
    shingle arrays are built for exact-Jaccard verification. Per-night
    cost: O(|batch|) signature work + bucket-join against the store +
    O(|candidates|) verification."""
    _check_banding(k, bands, rows_per_band)
    par = default_parallelism(incoming.sparkSession)
    inc = incoming.repartition(par, F.col(id_col))
    hist = history.repartition(par, F.col(id_col))
    sigs_h = stage(minhash_signature_text(hist, id_col, text_col, shingle_n, k))
    sigs_i = stage(minhash_signature_text(inc, id_col, text_col, shingle_n, k))
    keys = bucket_key_cols(rows_per_band)
    bk_h = band_buckets(sigs_h, bands, rows_per_band).select(
        F.col("_id").alias("hist_id"), *keys
    )
    bk_i = band_buckets(sigs_i, bands, rows_per_band).select(
        F.col("_id").alias("in_id"), *keys
    )
    cands = stage(bk_i.join(bk_h, keys).select("in_id", "hist_id").distinct())
    # verification arrays only for candidate docs (semi-join both sides)
    set_col = shingles(text_col, shingle_n)
    sa = stage(
        inc.join(
            cands.select(F.col("in_id").alias("_cid")),
            inc[id_col] == F.col("_cid"),
            "left_semi",
        )
        .select(F.col(id_col).alias("in_id"), set_col.alias("_sa"))
    )
    sb = stage(
        hist.join(
            cands.select(F.col("hist_id").alias("_cid")),
            hist[id_col] == F.col("_cid"),
            "left_semi",
        )
        .select(F.col(id_col).alias("hist_id"), set_col.alias("_sb"))
    )
    shared = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    union = F.size("_sa") + F.size("_sb") - shared
    # candidate-sized legs, no forced broadcast — same reasoning as the
    # batch verifier above (round-15 review).
    verified = (
        cands.join(sa, "in_id")
        .join(sb, "hist_id")
        .withColumn("jaccard", F.round(shared / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .groupBy("in_id")
        .agg(F.min("hist_id").alias("matched"))
    )
    return (
        inc.select(F.col(id_col).alias("in_id"))
        .join(verified, "in_id", "left")
        .select(
            F.col("in_id").alias(id_col),
            F.col("matched").isNotNull().alias("is_neardup"),
            F.coalesce(F.col("matched"), F.lit(-1).cast("long")).alias(
                "matched"
            ),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over token multiset: each token votes its md5-derived
    bits (+1/-1 weighted by occurrence); signature bit = majority.

    Bits come from the first 4 hex nibbles of md5(token), decoded with a
    portable strpos('0123456789abcdef', ·) table so any engine reproduces
    the signature exactly. One explode + one aggregate — linear, no pairs."""
    tok = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_tok")
    )
    h = F.md5(F.col("_tok"))
    # nibble j (0..3) of the md5 → 4 bits each → 16 bits total
    bit_sums = []
    for j in range(4):
        nib = F.instr(F.lit("0123456789abcdef"), F.substring(h, j + 1, 1)) - 1
        for b in range(4):
            bit = F.shiftright(nib, b).bitwiseAND(F.lit(1))
            bit_sums.append(
                F.sum(bit * 2 - 1).alias(f"s{j * 4 + b}")
            )
    voted = tok.groupBy("_id").agg(*bit_sums)
    sig = None
    for i in range(16):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return voted.select(F.col("_id"), sig.cast("int").alias("simhash"))


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float-array columns (zip_with
    product + aggregate sum — a JVM expression, no Python boundary;
    higher-order functions evaluate interpreted, which is acceptable here
    because pairwise scoring is already join-bounded).

    Each element is cast to double BEFORE multiplying: float32 products
    differ from double products in the low bits, and reproducibility
    across engines (the DuckDB oracle computes on DOUBLE[]) requires
    identical arithmetic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_norm(v: Column) -> Column:
    """Double-precision L2 norm of a float-array column."""
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Exact cosine similarity between two float-array columns. For
    pairwise joins, prefer precomputing ``vec_norm`` per side BEFORE the
    join (see embedding_near_dup) — this form recomputes both norms for
    every pair."""
    return F.try_divide(dot(a, b), vec_norm(a) * vec_norm(b))


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """Blocked cosine near-dup: pairs only form inside a block (cluster id,
    LSH bucket, shard key...) so the join is |block|² not n². Exact cosine
    ≥ threshold inside each block. Norms are computed ONCE per vector
    before the join (O(n·d)), so per-pair work is the dot product alone —
    at |block|² pairs that's the difference between 1× and 3× the
    arithmetic."""
    # Explicit-count repartition: the per-pair dot products must spread
    # across cores even from a one-row-group file (see minhash_lsh_dedup).
    par = default_parallelism(df.sparkSession)
    base = (
        df.repartition(par, F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            F.col(block_col).alias("_blk"),
        )
        .withColumn("_norm", vec_norm(F.col("_vec")))
    )
    a, b = base.alias("a"), base.alias("b")
    sim = F.try_divide(
        dot(F.col("a._vec"), F.col("b._vec")),
        F.col("a._norm") * F.col("b._norm"),
    )
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(sim, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# connected components (near-dup cluster collapse)
# ---------------------------------------------------------------------------


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Collapse a near-dup pair graph into clusters: every node gets the
    MIN node id reachable from it (its component's canonical id).

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels — one join + one aggregate
    per round, all distributed, converging in graph-diameter rounds
    (near-dup clusters are shallow, so typically < 5). The loop runs to a
    FIXPOINT with a changed-row count as the stop condition;
    staging truncates the growing lineage each round.
    Production note: for adversarial graphs (long chains) switch to the
    alternating large-star/small-star algorithm (Kiveris et al.) — same
    join shape, O(log² n) rounds.

    nodes: one column ``id``; edges: columns ``src``/``dst`` (undirected —
    both orientations are generated here).
    """
    # Materialize the edge list ONCE: its lineage is typically a whole
    # near-dup pipeline (MinHash LSH etc.), and every propagation round
    # joins against it — without staging each round re-executes that
    # entire upstream pipeline.
    both = stage(edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    labels = stage(nodes.select(F.col("id"), F.col("id").alias("label")))
    for _ in range(max_iter):
        neighbor_min = (
            both.join(labels, on=F.col("src") == F.col("id"))
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        updated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["dst"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["label"], F.coalesce(F.col("nlabel"), labels["label"])
                ).alias("label"),
                (F.col("nlabel") < labels["label"]).alias("_changed"),
            )
        )
        updated = stage(updated)
        changed = updated.where(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("label").alias("component"))


# ---------------------------------------------------------------------------
# Blocked edit-distance (Levenshtein) near-dup — entity-resolution shape
# ---------------------------------------------------------------------------


def levenshtein_blocked(
    df: DataFrame,
    name_col: str,
    block_col: Column,
    max_dist: int,
) -> DataFrame:
    """Edit-distance near-dup over a string key with explicit blocking:
    distinct names → block key → in-block self-join → levenshtein ≤
    max_dist, name_a < name_b.

    Levenshtein is O(len²) PER PAIR, so the blocking key IS the scale
    contract: pairs exist only within a block, and block sizes bound the
    quadratic stage exactly like LSH bands bound minhash_lsh_dedup. The
    distinct() first collapses exact duplicates so a hot name cannot
    quadratically explode its own block (the same degeneracy noted for
    pair outputs in SCALING.md)."""
    names = df.select(
        F.col(name_col).alias("_name"), block_col.alias("_blk")
    ).distinct()
    a = names.select(F.col("_name").alias("name_a"), "_blk")
    b = names.select(F.col("_name").alias("name_b"), "_blk")
    return (
        a.join(b, "_blk")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist")
    )
