"""Dedup queries over `documents` / `embeddings` (north-star extension):
exact hash dedup, MinHash+LSH, n-gram Jaccard, SimHash, embedding-cosine
near-dup. Every signature is md5-derived so the DuckDB oracle reproduces
it bit-for-bit (see functions/dedup.py portability note)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.compat import stage
from orchestrated_etl_spark.functions import dedup as D
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy) — corpus unioned with a shifted copy of
# itself, so every text has exactly one duplicate to collapse
# ---------------------------------------------------------------------------


def _exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    doubled = docs.union(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    return D.exact_dedup(doubled, "text", "doc_id").select(
        "doc_id", "dup_count"
    )


register(
    "dedup_exact",
    _exact,
    """
    WITH doubled AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
    )
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM doubled GROUP BY text
    """,
)

# ---------------------------------------------------------------------------
# MinHash + LSH near-dup over trigram-shingle sets (k=8, b=4, r=2, j ≥ 0.9)
#
# Shingles, not unigram tokens: the distinct-unigram sets of same-domain
# documents converge on the shared vocabulary (at sf0.1 virtually every
# doc pair had unigram-Jaccard ≥ 0.9 → ~10^6 output pairs, quadratic in
# cluster size — the classic LSH degeneracy). Word 3-gram sets are
# discriminative, so buckets stay small and the pair set stays linear in
# the number of true near-dups; this is the standard pretraining-dedup
# formulation (MinHash over shingles).
# ---------------------------------------------------------------------------

_MINHASH_K, _BANDS, _ROWS = 8, 4, 2
_MINHASH_THRESHOLD = 0.9


def _minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(
        docs,
        "doc_id",
        text_col="text",
        shingle_n=3,
        k=_MINHASH_K,
        bands=_BANDS,
        rows_per_band=_ROWS,
        threshold=_MINHASH_THRESHOLD,
    )


def _minhash_ctes() -> str:
    """The MinHash pipeline as CTE bodies (shared by the pair oracle and
    the connected-components oracle, which prepends WITH RECURSIVE).
    Mirrors functions/dedup.py exactly: h = 60-bit md5 prefix, k affine
    permutations over P, '|'-joined band buckets."""
    from orchestrated_etl_spark.functions.dedup import (
        MINHASH_P,
        minhash_hash_constants,
    )

    ab = minhash_hash_constants(_MINHASH_K)
    sig_cols = ",\n               ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS sig{i}"
        for i, (a, b) in enumerate(ab)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT id, {b} AS band, concat(CAST(sig{b * _ROWS} AS VARCHAR), '|', "
        f"CAST(sig{b * _ROWS + 1} AS VARCHAR)) AS bucket FROM sigs"
        for b in range(_BANDS)
    )
    return f"""
    tok AS (
        SELECT doc_id AS id,
               unnest(list_distinct([array_to_string(ts[i:i+2], ' ')
                                     for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS w,
               len(list_distinct([array_to_string(ts[i:i+2], ' ')
                                  for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS n
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ),
    tokh AS (
        SELECT id, w, n,
               CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)
                   % {MINHASH_P} AS h
        FROM tok
    ),
    sigs AS (
        SELECT id,
               {sig_cols}
        FROM tokh GROUP BY id
    ),
    buckets AS (
        {band_selects}
    ),
    cands AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM buckets a
        JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    shared AS (
        SELECT id_a, id_b, ea.n AS n_a, eb.n AS n_b, count(*) AS shared
        FROM cands
        JOIN tok ea ON id_a = ea.id
        JOIN tok eb ON id_b = eb.id AND ea.w = eb.w
        GROUP BY 1, 2, 3, 4
    )
    """


_MINHASH_PAIR_SELECT = f"""
    SELECT id_a, id_b,
           round(shared * 1.0 / (n_a + n_b - shared), 6) AS jaccard
    FROM shared
    WHERE round(shared * 1.0 / (n_a + n_b - shared), 6) >= {_MINHASH_THRESHOLD}
    """


def _minhash_oracle() -> str:
    return f"WITH {_minhash_ctes()} {_MINHASH_PAIR_SELECT}"


register("dedup_minhash_lsh", _minhash, _minhash_oracle())


def _incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-ingest FUZZY dedup: incoming batch (doc_id % 5 == 0)
    flagged against the curated history (% 5 != 0) through the persisted
    MinHash index — the near-dup companion to train_incremental_dedup's
    exact content-hash anti-join. Candidates are cross-set band
    collisions ONLY (the batch's bucket rows join the history bucket
    store; history never self-joins), verified with exact shingle
    Jaccard. See functions/dedup.py incremental_minhash_flags for the
    staged-store scale posture."""
    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.where(F.col("doc_id") % 5 == 0)
    history = docs.where(F.col("doc_id") % 5 != 0)
    return D.incremental_minhash_flags(
        incoming,
        history,
        "doc_id",
        "text",
        shingle_n=3,
        k=_MINHASH_K,
        bands=_BANDS,
        rows_per_band=_ROWS,
        threshold=_MINHASH_THRESHOLD,
    )


def _incremental_minhash_oracle() -> str:
    # Cross-set pairs are the subset of the full candidate set with one
    # incoming (id % 5 = 0) and one history endpoint; the shared/tok CTEs
    # are byte-identical to the dedup_minhash_lsh oracle.
    return f"""
    WITH {_minhash_ctes()},
    verified AS (
        SELECT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS in_id,
               CASE WHEN id_a % 5 = 0 THEN id_b ELSE id_a END AS hist_id
        FROM shared
        WHERE round(shared * 1.0 / (n_a + n_b - shared), 6)
                  >= {_MINHASH_THRESHOLD}
          AND (id_a % 5 = 0) <> (id_b % 5 = 0)
    ),
    matches AS (
        SELECT in_id, min(hist_id) AS matched FROM verified GROUP BY in_id
    )
    SELECT d.doc_id,
           m.matched IS NOT NULL AS is_neardup,
           coalesce(m.matched, -1) AS matched
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
    LEFT JOIN matches m ON d.doc_id = m.in_id
    """


register(
    "train_incremental_minhash",
    _incremental_minhash,
    _incremental_minhash_oracle(),
)

# ---------------------------------------------------------------------------
# n-gram (trigram-shingle) exact Jaccard via inverted-index self-join
# ---------------------------------------------------------------------------

_NGRAM_THRESHOLD = 0.02  # synthetic token-soup shingles barely overlap


def _ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs(
        docs, "doc_id", D.shingles("text", 3), _NGRAM_THRESHOLD
    )


register(
    "dedup_ngram_jaccard",
    _ngram,
    f"""
    WITH sh AS (
        SELECT doc_id AS id,
               unnest(list_distinct([array_to_string(ts[i:i+2], ' ')
                                     for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS s,
               len(list_distinct([array_to_string(ts[i:i+2], ' ')
                                  for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS n
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
               count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(shared * 1.0 / (n_a + n_b - shared), 6) AS jaccard
    FROM pairs
    WHERE round(shared * 1.0 / (n_a + n_b - shared), 6) >= {_NGRAM_THRESHOLD}
    """,
)

# ---------------------------------------------------------------------------
# Asymmetric containment (doc-subsumption detection)
# ---------------------------------------------------------------------------

_CONTAINMENT_THRESHOLD = 0.10


def _containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment |A∩B|/|A| ≥ 0.10 on the same 3-gram
    shingles as `dedup_ngram_jaccard` — the subsumption detector:
    symmetric Jaccard scores a short doc quoted inside a long one near
    zero (union-dominated), containment scores it 1.0 from the short
    side. The fixture corpus contains true containments (max = 1.0),
    so the threshold filter is exercised from both ends."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(
        docs, "doc_id", D.shingles("text", 3), _CONTAINMENT_THRESHOLD
    )


register(
    "dedup_containment",
    _containment,
    f"""
    WITH sh AS (
        SELECT doc_id AS id,
               unnest(list_distinct([array_to_string(ts[i:i+2], ' ')
                                     for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS s,
               len(list_distinct([array_to_string(ts[i:i+2], ' ')
                                  for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS n
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ),
    pairs AS (
        SELECT a.id AS src_id, b.id AS dst_id, a.n AS n_src,
               count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.id != b.id
        GROUP BY 1, 2, 3
    )
    SELECT src_id, dst_id,
           round(shared * 1.0 / n_src, 6) AS containment
    FROM pairs
    WHERE round(shared * 1.0 / n_src, 6) >= {_CONTAINMENT_THRESHOLD}
    """,
)

# ---------------------------------------------------------------------------
# Blocked edit-distance near-dup on part names (entity-resolution shape)
# ---------------------------------------------------------------------------

_LEV_MAX_DIST = 4


def _levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-name near-dup: distinct part names, blocked by their last
    token (the product noun), in-block pairwise Levenshtein ≤ 4. The
    block key bounds the O(len²)-per-pair stage exactly as LSH bands
    bound minhash — the entity-resolution member of the dedup family."""
    part = load_table(spark, sf_dir, "part")
    return D.levenshtein_blocked(
        part,
        "p_name",
        F.element_at(F.split("p_name", " "), -1),
        _LEV_MAX_DIST,
    )


register(
    "dedup_levenshtein_blocked",
    _levenshtein,
    f"""
    WITH names AS (
        SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS blk
        FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_LEV_MAX_DIST}
    """,
)

# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-nibble bits)
# ---------------------------------------------------------------------------


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash16(docs, "doc_id", "text").select(
        F.col("_id").alias("doc_id"), "simhash"
    )


def _simhash_oracle() -> str:
    nib_cols = ",\n               ".join(
        f"strpos('0123456789abcdef', substr(md5(w), {j + 1}, 1)) - 1 AS n{j}"
        for j in range(4)
    )
    vote_cols = ",\n               ".join(
        f"sum(((n{j} // {1 << b}) % 2) * 2 - 1) AS s{j * 4 + b}"
        for j in range(4)
        for b in range(4)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    nib AS (
        SELECT id,
               {nib_cols}
        FROM tok
    ),
    votes AS (
        SELECT id,
               {vote_cols}
        FROM nib GROUP BY id
    )
    SELECT id AS doc_id, CAST({sig_expr} AS INTEGER) AS simhash FROM votes
    """


register("dedup_simhash", _simhash, _simhash_oracle())

# ---------------------------------------------------------------------------
# embedding-cosine near-dup, blocked by label
# ---------------------------------------------------------------------------

_COSINE_THRESHOLD = 0.4


def _emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dup(
        emb, "vec_id", "embedding", "label", _COSINE_THRESHOLD
    )


register(
    "dedup_embedding_cosine",
    _emb_neardup,
    f"""
    WITH scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(
                 list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])))),
                 6) AS cosine
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {_COSINE_THRESHOLD}
    """,
)

# ---------------------------------------------------------------------------
# near-dup cluster collapse: connected components over the MinHash pairs
# ---------------------------------------------------------------------------


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs → undirected graph → per-doc canonical id (min doc_id
    in the component). The iterative min-label propagation runs
    join+aggregate rounds to a fixpoint (functions/dedup.py
    connected_components); the oracle computes the same fixpoint with a
    recursive CTE. Docs with no near-dup are their own component."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return D.connected_components(nodes, edges).select(
        F.col("id").alias("doc_id"), "component"
    )


def _components_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_ctes()},
    pairs AS ({_MINHASH_PAIR_SELECT}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    walk(id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id
    )
    SELECT id AS doc_id, min(label) AS component FROM walk GROUP BY id
    """


register("dedup_cluster_components", _components, _components_oracle())

# ---------------------------------------------------------------------------
# MLlib MinHashLSH variant (the library path; rows-only check)
# ---------------------------------------------------------------------------


def _minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same near-dup task through MLlib's MinHashLSH — the library
    alternative to the explicit SQL-expression pipeline in
    functions/dedup.py (SURVEY §4.2). Word 3-gram shingles (the same set
    definition as dedup_minhash_lsh) → binary HashingTF → seeded
    approxSimilarityJoin as the CANDIDATE generator; candidates are then
    verified with the exact shingle-set Jaccard computed from the raw
    shingle arrays (bucket collisions in HashingTF therefore cannot
    affect emitted values, only candidate recall).

    Oracle-checkable because the emitted relation is "all pairs with
    exact Jaccard ≥ 0.9 that LSH surfaced", and at threshold 0.9 with 6
    OR'd hash tables the per-pair miss probability is (1-j)^6 ≤ 1e-6 —
    on this fixture the output equals the full brute-force ≥ 0.9 set the
    DuckDB inverted-index oracle computes (and the MLlib side is seeded,
    so the result is bit-stable run to run)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from orchestrated_etl_spark.functions.dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", shingles("text", 3).alias("sh"))
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(sh)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=6, seed=42
    )
    model = lsh.fit(feats)
    cand = model.approxSimilarityJoin(feats, feats, 0.5, distCol="_d")
    shared = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - shared
    return (
        cand.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.col("datasetA.sh").alias("_sa"),
            F.col("datasetB.sh").alias("_sb"),
        )
        .withColumn("jaccard", F.round(shared / union, 6))
        .where(F.col("jaccard") >= 0.9)
        .select("id_a", "id_b", "jaccard")
    )


register(
    "dedup_minhash_mllib",
    _minhash_mllib,
    """
    WITH sh AS (
        SELECT doc_id AS id,
               unnest(list_distinct([array_to_string(ts[i:i+2], ' ')
                                     for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS s,
               len(list_distinct([array_to_string(ts[i:i+2], ' ')
                                  for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS n
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
               count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(shared * 1.0 / (n_a + n_b - shared), 6) AS jaccard
    FROM pairs
    WHERE round(shared * 1.0 / (n_a + n_b - shared), 6) >= 0.9
    """,
)


def _fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: corpus docs flagged when they are
    MinHash near-dups (exact-verified Jaccard >= 0.9) of the benchmark
    set (doc_id < 10) — catches lightly-edited benchmark copies the
    exact 8-gram detector (train_decontaminate) would need a shared
    shingle to see, and the whole-document near-dup rate of a lightly
    paraphrased leak. Same cross-set engine as train_incremental_minhash
    with the roles recast: the benchmark side is the tiny persisted
    index, the corpus is the probe — per-run cost is one corpus
    signature pass + a bucket join against the benchmark's handful of
    bucket rows. On this fixture one real leak exists (doc 245 ~ bench
    doc 8, j = 0.988) — the output is a genuine detection, not a
    vacuous all-false column."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") >= _BENCH_N)
    bench = docs.where(F.col("doc_id") < _BENCH_N)
    out = D.incremental_minhash_flags(
        corpus,
        bench,
        "doc_id",
        "text",
        shingle_n=3,
        k=_MINHASH_K,
        bands=_BANDS,
        rows_per_band=_ROWS,
        threshold=_MINHASH_THRESHOLD,
    )
    return out.select(
        "doc_id",
        F.col("is_neardup").alias("is_contaminated"),
        F.col("matched").alias("matched_benchmark"),
    )


_BENCH_N = 10


def _fuzzy_decontaminate_oracle() -> str:
    return f"""
    WITH {_minhash_ctes()},
    verified AS (
        SELECT CASE WHEN id_a >= {_BENCH_N} THEN id_a ELSE id_b END AS cid,
               CASE WHEN id_a >= {_BENCH_N} THEN id_b ELSE id_a END AS bid
        FROM shared
        WHERE round(shared * 1.0 / (n_a + n_b - shared), 6)
                  >= {_MINHASH_THRESHOLD}
          AND (id_a < {_BENCH_N}) <> (id_b < {_BENCH_N})
    ),
    matches AS (SELECT cid, min(bid) AS matched FROM verified GROUP BY cid)
    SELECT d.doc_id,
           m.matched IS NOT NULL AS is_contaminated,
           coalesce(m.matched, -1) AS matched_benchmark
    FROM (SELECT doc_id FROM documents WHERE doc_id >= {_BENCH_N}) d
    LEFT JOIN matches m ON d.doc_id = m.cid
    """


register(
    "train_fuzzy_decontaminate",
    _fuzzy_decontaminate,
    _fuzzy_decontaminate_oracle(),
)


# ---------------------------------------------------------------------------
# content-defined chunking dedup (FastCDC-style, exact substring level)
# ---------------------------------------------------------------------------

_CDC_POWS = [31**e for e in range(7, -1, -1)]  # 31^7 .. 31^0


_CDC_MOD = 32  # expected chunk length ~= 32 chars


def _cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup via content-defined chunking — the
    rsync / dedup-storage / incremental-sync primitive, and the exact
    complement to MinHash's document-level near-dup: it finds SHARED
    PASSAGES between otherwise-different documents.

    Each document is cut where the 8-gram polynomial hash
    Σ ord(c_{i+j})·31^(7-j) satisfies H % 32 == 0 — boundaries are
    CONTENT-defined, so a shared passage chunks identically regardless
    of its offset in either document (the property fixed-size blocking
    lacks; cf. FastCDC, USENIX ATC'16). Chunks are md5'd; a chunk seen
    in >= 2 DISTINCT documents is shared content. Per doc: chunk count,
    shared-chunk count, shared chars, total chars — all exact integers.

    The hashing kernel is a vectorized-numpy ``mapInPandas`` stage, a
    DELIBERATE exception to the JVM-first rule: Spark evaluates
    higher-order-function lambdas interpreted (never whole-stage
    codegen), and the multiply-referenced cut array gets inlined by
    CollapseProject into one hash re-scan PER CHUNK — the pure-
    expression form measured 150x slower than this Arrow-batched
    kernel at sf0.01. The per-row kernel is one O(n) sliding-window
    dot product (utf-32 codepoints ⊗ the power vector), so parity with
    the DuckDB oracle's integer arithmetic is exact.

    Production variants enforce min/max chunk sizes inside the same
    kernel; the unclamped cut rule keeps the oracle expressible as
    DuckDB list comprehensions.

    Scale shape: hashing/chunking is MAP-ONLY inside the scan stage,
    and the emitted stream carries (doc_id, md5, chunk_len) — 40-ish
    bytes per chunk, never text. It is staged ONCE (two
    consumers; re-running the kernel would re-hash the corpus), then
    one groupBy(md5) + one broadcast-eligible join back + one
    groupBy(doc_id): two narrow shuffles over chunk-count rows
    regardless of corpus size."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def chunker(batches):
        import hashlib

        import numpy as np

        pows = np.array(_CDC_POWS, dtype=np.int64)
        for pdf in batches:
            recs = {"doc_id": [], "n": [], "h": [], "len": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = text or ""
                nn = len(t)
                starts = [1]
                if nn >= 9:
                    codes = np.frombuffer(
                        t.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    win = np.lib.stride_tricks.sliding_window_view(codes, 8)
                    hashes = win @ pows  # H at 0-based start index
                    cut_pos = np.nonzero(hashes % _CDC_MOD == 0)[0] + 1
                    starts += [int(i) for i in cut_pos if i >= 2]
                for ki, s in enumerate(starts):
                    e = starts[ki + 1] if ki + 1 < len(starts) else nn + 1
                    chunk = t[s - 1 : e - 1]
                    recs["doc_id"].append(doc_id)
                    recs["n"].append(nn)
                    recs["h"].append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()
                    )
                    recs["len"].append(e - s)
            yield pd.DataFrame(recs)

    chunk_stream = stage(
        docs.mapInPandas(chunker, "doc_id long, n long, h string, len long")
    )
    shared = (
        chunk_stream.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("h")
    )
    # No forced broadcast (round-15 review): `shared` is the set of
    # chunk hashes seen in >=2 docs — corpus-proportional, not bounded.
    # The threshold/AQE broadcast it while it is small; at 100 TB the
    # join correctly shuffles on the hash.
    marked = chunk_stream.join(
        shared.withColumn("_s", F.lit(1)), "h", "left"
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("_s").isNotNull(), 1).otherwise(0)).alias(
            "n_shared_chunks"
        ),
        F.sum(
            F.when(F.col("_s").isNotNull(), F.col("len")).otherwise(0)
        ).alias("shared_chars"),
        F.max("n").alias("total_chars"),
    )


register(
    "dedup_cdc_chunks",
    _cdc_chunks,
    """
    WITH d AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        FROM documents
    ),
    cutl AS (
        SELECT doc_id, text, n,
               CASE WHEN n >= 9 THEN list_filter(
                   range(2, CAST(n - 6 AS BIGINT)),
                   i ->
                     (  CAST(ord(text[CAST(i AS INTEGER)]) AS BIGINT)
                          * 27512614111
                      + CAST(ord(text[CAST(i + 1 AS INTEGER)]) AS BIGINT)
                          * 887503681
                      + CAST(ord(text[CAST(i + 2 AS INTEGER)]) AS BIGINT)
                          * 28629151
                      + CAST(ord(text[CAST(i + 3 AS INTEGER)]) AS BIGINT)
                          * 923521
                      + CAST(ord(text[CAST(i + 4 AS INTEGER)]) AS BIGINT)
                          * 29791
                      + CAST(ord(text[CAST(i + 5 AS INTEGER)]) AS BIGINT)
                          * 961
                      + CAST(ord(text[CAST(i + 6 AS INTEGER)]) AS BIGINT)
                          * 31
                      + CAST(ord(text[CAST(i + 7 AS INTEGER)]) AS BIGINT)
                     ) % 32 = 0)
               ELSE [] END AS cuts
        FROM d
    ),
    st AS (
        SELECT doc_id, text, n,
               list_prepend(CAST(1 AS BIGINT), cuts) AS starts
        FROM cutl
    ),
    chunks AS (
        SELECT doc_id, n,
               unnest(list_transform(
                   range(1, CAST(len(starts) + 1 AS BIGINT)),
                   k -> struct_pack(
                       h := md5(substr(text,
                                CAST(starts[CAST(k AS INTEGER)] AS INTEGER),
                                CAST(COALESCE(
                                      starts[CAST(k + 1 AS INTEGER)], n + 1)
                                   - starts[CAST(k AS INTEGER)]
                                   AS INTEGER))),
                       l := COALESCE(starts[CAST(k + 1 AS INTEGER)], n + 1)
                            - starts[CAST(k AS INTEGER)]))) AS c
        FROM st
    ),
    stream AS (SELECT doc_id, n, c.h AS h, c.l AS len FROM chunks),
    shared AS (
        SELECT h FROM stream GROUP BY h
        HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_chunks,
           CAST(sum(CASE WHEN sh.h IS NOT NULL THEN s.len ELSE 0 END)
                AS BIGINT) AS shared_chars,
           CAST(max(s.n) AS BIGINT) AS total_chars
    FROM stream s LEFT JOIN shared sh ON s.h = sh.h
    GROUP BY s.doc_id
    """,
)
