"""Full-text search and corpus-quality gating over the documents table —
the retrieval / filtering half of a training-data pipeline (the half the
reference's scrape-and-load DAG, dags/dag.py:76-111, never reaches).

Four components, each a scale-first Spark plan:

- BM25 ranked retrieval over an inverted index built with one explode +
  one (term) aggregate — the posting lists ARE the shuffle layout; a
  query touches only its own terms' postings (semi-join pruning), never
  the corpus.
- TF-IDF keyword extraction — two hash aggregates (term-per-doc, then
  doc-frequency) and one HINT-FREE join back (the df relation is the
  raw-token vocabulary, Heaps'-law-unbounded — threshold/AQE broadcast
  it while small, shuffle on term past that; see _tfidf_keywords);
  top-k per doc via a partitioned window, no global sort.
- Incremental ingest dedup — the "tonight's crawl vs the existing
  corpus" shape: a content-hash LEFT ANTI join. At 100 TB the history
  side is the big one, so the anti-join shuffles on the 32-byte hash
  (never the text) and AQE picks broadcast when the incoming batch is
  small — the standing pattern for append-only corpus growth.
- Gopher-style quality gate — all-JVM per-document rule booleans
  aggregated into per-language keep/drop counts; every compared output
  is an integer, so the gate is bit-exact across engines.

FLOAT POLICY (registry.py): BM25/TF-IDF scores are genuinely irrational
(ln of corpus statistics) — round(…,6) acts as the cross-engine ulp
tolerance, and every ranking tie is broken by a deterministic
(score, term/doc_id) composite so LIMIT/top-k boundaries cannot flip.
Quality-gate ratios are raw IEEE quotients of identical integers
(bit-identical across engines) and only feed boolean rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from orchestrated_etl_spark.compat import stage
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table
from orchestrated_etl_spark.staged import staged

_BM25_TERMS = ["spark", "window", "merge"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------


def bm25_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, ...]:
    """The staged BM25 retrieval index over ``sf_dir``'s documents, built
    once per session and ``documents`` version (staged.staged):

    - ``postings`` (doc_id, term, tf, dl) — the FULL inverted index,
      one explode + one (doc,term) aggregate over the corpus;
    - ``dfreq``    (term, df) — per-term document frequency;
    - ``stats``    (n_docs, avgdl) — 1-row corpus statistics.

    Each relation is staged (``compat.stage``), so queries never
    re-derive corpus statistics — recomputing df/dl/avgdl per query
    cost 6-8 corpus scans per BM25/RRF query; the corpus is scanned
    exactly once at build. On a cluster the staging becomes a parquet
    write BUCKETED BY term, giving per-term partition pruning on the
    posting lookup; ``stage`` is the single-node stand-in (same plan
    shape above the scan)."""
    return staged(
        spark, "bm25/index", sf_dir, ("documents",),
        lambda: build_bm25_index(_docs(spark, sf_dir)),
    )


def build_bm25_index(docs: DataFrame) -> tuple[DataFrame, ...]:
    """The three staged index relations (postings, dfreq, stats) of a
    documents frame (split out so scaling measurements drive the
    identical build on synthetically grown corpora)."""
    tokens = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    postings = stage(
        tokens.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    dfreq = stage(
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    stats = stage(docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.split("text", " "))).alias("avgdl"),
    ))
    return postings, dfreq, stats


def _search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for a 3-term query under BM25 (k1=1.2, b=0.75,
    the Lucene-style idf ln(1 + (N-df+.5)/(df+.5))), served from the
    STAGED index (bm25_index): the query plan is a term-filtered
    posting-list lookup joined against the broadcast 3-row df relation,
    with corpus stats injected as ScalarSubquery nodes over the 1-row
    staged stats relation — 0 corpus scans at query time. df per query
    term is identical whether derived from the full or the term-filtered
    index, so the oracle (which filters first) is unchanged. Ranking
    ties break on doc_id so the LIMIT boundary is deterministic on both
    engines."""
    return bm25_query(spark, *bm25_index(spark, sf_dir))


def bm25_query(
    spark: SparkSession, postings: DataFrame, dfreq: DataFrame, stats: DataFrame
) -> DataFrame:
    """The posting-list lookup over a BM25 index's three relations — see
    _search_bm25_topk."""
    terms_in = "('" + "','".join(_BM25_TERMS) + "')"
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(d) */ doc_id,
               round(sum(
                   ln(1.0 + ((SELECT n_docs FROM {{stats}}) - d.df + 0.5)
                            / (d.df + 0.5))
                   * (tf * ({_BM25_K1} + 1))
                   / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl /
                        (SELECT avgdl FROM {{stats}})))
               ), 6) AS score,
               count(*) AS n_matched_terms
        FROM {{postings}} p JOIN {{dfreq}} d USING (term)
        WHERE term IN {terms_in}
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 20
        """,
        postings=postings,
        dfreq=dfreq,
        stats=stats,
    )


register(
    "search_bm25_topk",
    _search_bm25_topk,
    f"""
    WITH postings AS (
        SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        FROM (
            SELECT doc_id, len(string_split(text, ' ')) AS dl,
                   unnest(string_split(text, ' ')) AS term
            FROM documents
        )
        WHERE term IN ('spark', 'window', 'merge')
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ),
    df AS (SELECT term, count(*) AS df FROM postings GROUP BY 1)
    SELECT doc_id,
           round(sum(
               ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf * ({_BM25_K1} + 1))
               / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           ), 6) AS score,
           count(*) AS n_matched_terms
    FROM postings JOIN df USING (term) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------


def _tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (stopwords excluded, idf =
    ln(N/df)). Plan: the (doc,term) aggregate reuses the posting shape,
    doc-frequency is a second aggregate on term joined back WITHOUT a
    forced broadcast hint (the df relation is the raw token VOCABULARY —
    Heaps'-law-unbounded, growing with the corpus, not the language,
    unlike a curated lexicon. Threshold/AQE broadcast it while small,
    shuffle on the term key past that). Issued as SQL text so
    the corpus size N plans as a ScalarSubquery literal rather than a
    1-row nested-loop join (plan-audit clean). Per-doc ranking is a
    window over the doc_id partitioning the first aggregate already
    established — no extra exchange. Rank ties (equal tf and df) break
    alphabetically, so both engines emit the same rank-1..3 rows."""
    from orchestrated_etl_spark.functions.text import STOPWORDS

    stop_in = "('" + "','".join(STOPWORDS) + "')"
    return spark.sql(
        f"""
        WITH terms AS (
            SELECT doc_id, term, count(*) AS tf
            FROM (
                SELECT doc_id, explode(split(text, ' ')) AS term
                FROM {{docs}}
            )
            WHERE term NOT IN {stop_in}
            GROUP BY 1, 2
        ),
        df AS (SELECT term, count(*) AS df FROM terms GROUP BY 1),
        scored AS (
            SELECT doc_id, term,
                   round(tf * ln(CAST((SELECT count(*) FROM {{docs}})
                                      AS DOUBLE) / df.df), 6) AS score
            FROM terms JOIN df USING (term)
        )
        SELECT doc_id, rank, term, score
        FROM (
            SELECT doc_id, term, score,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY score DESC, term ASC
                   ) AS rank
            FROM scored
        )
        WHERE rank <= 3
        ORDER BY doc_id, rank
        """,
        docs=_docs(spark, sf_dir),
    )


from orchestrated_etl_spark.functions.text import STOPWORDS as _STOPS

_STOP_IN = "('" + "','".join(_STOPS) + "')"
_STOP_LIST = "['" + "','".join(_STOPS) + "']"

register(
    "text_tfidf_keywords",
    _tfidf_keywords,
    f"""
    WITH terms AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        )
        WHERE term NOT IN {_STOP_IN}
        GROUP BY 1, 2
    ),
    df AS (SELECT term, count(*) AS df FROM terms GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term,
               round(tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS score
        FROM terms JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, rank, term, score
    FROM (
        SELECT doc_id, term, score,
               CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term ASC
               ) AS INT) AS rank
        FROM scored
    )
    WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)


# ---------------------------------------------------------------------------
# Incremental ingest dedup (new batch vs historical corpus)
# ---------------------------------------------------------------------------


def _incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-ingest dedup: which incoming documents (doc_id % 5 = 0
    models the new crawl batch) are NOT already in the historical corpus
    (the other 80%), by exact content hash. The reference does this with
    a driver-side Python set of seen titles (dags/dag.py:117-135); here
    it is a LEFT ANTI join on md5(text) — the join shuffles 32-byte
    hashes, never document bodies, and AQE swaps in a broadcast anti-join
    whenever the incoming batch is small relative to history (the common
    production case). Output is the surviving incoming rows plus their
    batch provenance — integers and strings only, bit-exact."""
    docs = _docs(spark, sf_dir).withColumn("h", F.md5("text"))
    history = docs.where(F.col("doc_id") % 5 != 0).select("h")
    incoming = docs.where(F.col("doc_id") % 5 == 0)
    return (
        incoming.join(history, "h", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


register(
    "train_incremental_dedup",
    _incremental_dedup,
    """
    SELECT doc_id, lang, source, n_chars
    FROM documents i
    WHERE doc_id % 5 = 0
      AND NOT EXISTS (
          SELECT 1 FROM documents h
          WHERE h.doc_id % 5 <> 0 AND md5(h.text) = md5(i.text)
      )
    ORDER BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# Gopher-style quality gate
# ---------------------------------------------------------------------------


def quality_rule_columns() -> dict[str, "F.Column"]:
    """The five Gopher-style rule booleans as named Column expressions
    over a ``text`` column — shared by the gate report and the e2e
    incremental-refresh pipeline so both apply bit-identical rules."""
    from orchestrated_etl_spark.functions.text import STOPWORDS

    toks = F.split("text", " ")
    n_tok = F.size(toks)
    mean_len = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)) / n_tok
    stop_frac = (
        F.size(F.filter(toks, lambda x: F.lower(x).isin(*STOPWORDS))) / n_tok
    )
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tok
    return {
        "r_len_lo": n_tok >= 20,
        "r_len_hi": n_tok <= 500,
        "r_mean_len": (mean_len >= 3.0) & (mean_len <= 10.0),
        "r_stopword": stop_frac >= 0.02,
        "r_distinct": uniq_ratio >= 0.2,
    }


# the same five rules in DuckDB SQL, over a relation exposing ``text``
QUALITY_RULES_SQL = f"""
    len(string_split(text, ' ')) >= 20
    AND len(string_split(text, ' ')) <= 500
    AND (CAST(list_sum(list_transform(string_split(text, ' '),
              x -> len(x))) AS DOUBLE)
         / len(string_split(text, ' '))) BETWEEN 3.0 AND 10.0
    AND CAST(len(list_filter(string_split(text, ' '),
             x -> list_contains({{stop_list}}, lower(x)))) AS DOUBLE)
        / len(string_split(text, ' ')) >= 0.02
    AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')) >= 0.2
"""


def _quality_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-rule document quality gate (the Gopher/MassiveText rule
    shape): token-count bounds, mean-token-length bounds, minimum
    stopword fraction, minimum distinct-token ratio. Each rule is a
    per-document JVM boolean on one pass over the tokens array (no
    explode — array aggregates keep it map-only), then ONE aggregate
    rolls up per-language keep and per-rule drop counts. The ratios are
    raw IEEE quotients of identical integers, so rule decisions are
    bit-identical across engines and every output is an integer.
    At 100 TB this is a map-only scan + one tiny aggregate — the
    cheapest possible shape for a corpus-wide filter report."""
    docs = _docs(spark, sf_dir)
    rule_cols = quality_rule_columns()
    rules = docs.select(
        "lang", *[c.alias(n) for n, c in rule_cols.items()]
    ).withColumn(
        "keep",
        F.col("r_len_lo")
        & F.col("r_len_hi")
        & F.col("r_mean_len")
        & F.col("r_stopword")
        & F.col("r_distinct"),
    )
    def cnt(c):
        return F.sum(F.when(~F.col(c), 1).otherwise(0))

    return (
        rules.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            cnt("r_len_lo").alias("drop_len_lo"),
            cnt("r_len_hi").alias("drop_len_hi"),
            cnt("r_mean_len").alias("drop_mean_len"),
            cnt("r_stopword").alias("drop_stopword"),
            cnt("r_distinct").alias("drop_distinct"),
        )
        .orderBy("lang")
    )


register(
    "train_quality_gopher_gate",
    _quality_gopher_gate,
    f"""
    WITH rules AS (
        SELECT lang,
               len(toks) >= 20 AS r_len_lo,
               len(toks) <= 500 AS r_len_hi,
               (CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                / len(toks)) BETWEEN 3.0 AND 10.0 AS r_mean_len,
               CAST(len(list_filter(toks,
                    x -> list_contains({_STOP_LIST}, lower(x)))) AS DOUBLE)
                 / len(toks) >= 0.02 AS r_stopword,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) >= 0.2
                   AS r_distinct
        FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN r_len_lo AND r_len_hi AND r_mean_len
                          AND r_stopword AND r_distinct
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN NOT r_len_lo THEN 1 ELSE 0 END) AS BIGINT)
               AS drop_len_lo,
           CAST(sum(CASE WHEN NOT r_len_hi THEN 1 ELSE 0 END) AS BIGINT)
               AS drop_len_hi,
           CAST(sum(CASE WHEN NOT r_mean_len THEN 1 ELSE 0 END) AS BIGINT)
               AS drop_mean_len,
           CAST(sum(CASE WHEN NOT r_stopword THEN 1 ELSE 0 END) AS BIGINT)
               AS drop_stopword,
           CAST(sum(CASE WHEN NOT r_distinct THEN 1 ELSE 0 END) AS BIGINT)
               AS drop_distinct
    FROM rules
    GROUP BY lang
    ORDER BY lang
    """,
)


# ---------------------------------------------------------------------------
# e2e nightly corpus refresh: gate -> incremental dedup -> intake summary
# ---------------------------------------------------------------------------


def _e2e_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly corpus-refresh pipeline as ONE lazy plan: the incoming
    crawl batch (doc_id % 5 == 0) passes the Gopher quality gate, then
    sheds documents whose exact content already exists in the curated
    history (content-hash LEFT ANTI join), and the survivors roll up into
    a per-language intake report (docs + token volume). Composing the
    stages lazily means Catalyst sees the whole pipeline: the quality
    rules evaluate in the SCAN stage of the incoming side (map-only array
    expressions), so gated-out documents are never hashed and never reach
    the anti-join shuffle — at 100 TB the ordering gate-then-dedup is the
    cost-dominant choice, and it falls out of predicate evaluation order,
    not an orchestration DAG (the reference needs three Airflow tasks and
    two materializations for this shape, dags/dag.py:229-247). Outputs
    are integers — bit-exact."""
    docs = _docs(spark, sf_dir)
    keep = None
    for c in quality_rule_columns().values():
        keep = c if keep is None else (keep & c)
    incoming = docs.where(F.col("doc_id") % 5 == 0).where(keep)
    history = docs.where(F.col("doc_id") % 5 != 0).select(
        F.md5("text").alias("h")
    )
    survivors = incoming.withColumn("h", F.md5("text")).join(
        history, "h", "left_anti"
    )
    return (
        survivors.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_new_docs"),
            F.sum(F.size(F.split("text", " "))).alias("new_tokens"),
        )
        .orderBy("lang")
    )


register(
    "train_e2e_incremental_refresh",
    _e2e_incremental_refresh,
    f"""
    SELECT lang, count(*) AS n_new_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS new_tokens
    FROM documents i
    WHERE doc_id % 5 = 0
      AND {QUALITY_RULES_SQL.format(stop_list=_STOP_LIST)}
      AND NOT EXISTS (
          SELECT 1 FROM documents h
          WHERE h.doc_id % 5 <> 0 AND md5(h.text) = md5(i.text)
      )
    GROUP BY lang
    ORDER BY lang
    """,
)


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 + embedding cosine, reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_K = 60


def _search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, the production RAG shape: a LEXICAL leg (BM25
    top-20 for the fixed 3-term query) and a SEMANTIC leg (exact cosine
    top-20 around query vector vec_id=0) fused by reciprocal-rank
    fusion — score = Σ_legs 1/(60 + rank), the standard k=60 RRF that
    needs no score calibration between legs. Docs appearing in only one
    leg receive that leg's contribution alone (full-outer fusion);
    final top-10 ties break on doc_id.

    Why RRF and not score interpolation: BM25 and cosine live on
    incomparable scales; rank fusion is scale-free, and 1/(60+rank) is
    an exact rational of small integers — the fused score is identical
    cross-engine up to the shared round(6). Each leg is the already-
    audited scale shape (posting-list aggregation / broadcast query
    scan); the fusion itself joins two 20-row relations — free at any
    corpus size."""
    from orchestrated_etl_spark.functions.similarity import brute_force_topk

    lex = _search_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .alias("rank_lex"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0)
    sem = brute_force_topk(q, emb, "vec_id", "embedding", 20).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("rank_sem"),
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "rank_lex",
        "rank_sem",
        F.round(
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(
                1.0 / (F.lit(_RRF_K) + F.col("rank_sem")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id")).limit(10)


register(
    "search_hybrid_rrf",
    _search_hybrid_rrf,
    f"""
    WITH postings AS (
        SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        FROM (
            SELECT doc_id, len(string_split(text, ' ')) AS dl,
                   unnest(string_split(text, ' ')) AS term
            FROM documents
        )
        WHERE term IN ('spark', 'window', 'merge')
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ),
    dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
    bm25 AS (
        SELECT doc_id,
               round(sum(
                   ln(1.0 + (n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * (tf * ({_BM25_K1} + 1))
                   / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
               ), 6) AS score
        FROM postings JOIN dfreq USING (term) CROSS JOIN stats
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 20
    ),
    lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS INTEGER) AS rank_lex
        FROM bm25
    ),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT c.vec_id AS doc_id,
               round(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                              CAST(q.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[])))),
                     6) AS cosine
        FROM embeddings c, q WHERE c.vec_id != 0
    ),
    sem AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cosine DESC, doc_id)
                    AS INTEGER) AS rank_sem
        FROM scored
        ORDER BY cosine DESC, doc_id
        LIMIT 20
    )
    SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           l.rank_lex, s.rank_sem,
           round(coalesce(1.0 / ({_RRF_K} + l.rank_lex), 0)
                 + coalesce(1.0 / ({_RRF_K} + s.rank_sem), 0), 6) AS rrf
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """,
)


# ---------------------------------------------------------------------------
# positional phrase match (exact-phrase retrieval)
# ---------------------------------------------------------------------------

_PHRASE = ("table", "hash")


def _phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE retrieval ("table hash" as adjacent tokens, in
    order) — the positional-postings operator BM25's bag-of-words
    scoring cannot express. Evaluated as a map-only array expression:
    for each document, count positions i with token[i]='table' AND
    token[i+1]='hash' (filter over sequence + element_at — all
    whole-stage codegen, no explode, no shuffle before the final
    top-k). At 100 TB the production form stores POSITIONAL posting
    lists next to the BM25 index and intersects the two terms' position
    lists (adjacent-offset join) instead of rescanning text; the
    per-document counting rule is identical. Integer counts — exact."""
    docs = _docs(spark, sf_dir)
    toks = F.split("text", " ")
    hits = F.size(
        F.filter(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: (F.element_at(toks, i) == _PHRASE[0])
            & (F.element_at(toks, i + 1) == _PHRASE[1]),
        )
    )
    return (
        docs.select("doc_id", hits.alias("n_hits"))
        .where(F.col("n_hits") > 0)
        .orderBy(F.col("n_hits").desc(), F.col("doc_id"))
        .limit(20)
    )


register(
    "search_phrase_match",
    _phrase_match,
    f"""
    SELECT doc_id, n_hits FROM (
        SELECT doc_id,
               len(list_filter(range(1, len(ts)),
                   i -> ts[i] = '{_PHRASE[0]}'
                        AND ts[i+1] = '{_PHRASE[1]}')) AS n_hits
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    )
    WHERE n_hits > 0
    ORDER BY n_hits DESC, doc_id
    LIMIT 20
    """,
)


# ---------------------------------------------------------------------------
# BM25 over a BUCKETED posting store (bucket-pruned lookups)
# ---------------------------------------------------------------------------

_BM25_BUCKETS = 16
_BM25_TABLES = ("bm25_postings_tbl", "bm25_dfreq_tbl", "bm25_stats_tbl")


def _bm25_store(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, ...]:
    """The durable form of the staged BM25 index: postings WRITTEN AS A
    BUCKETED TABLE (bucketBy term), plus df and 1-row stats tables. A
    term-filtered lookup then reads only the term's hash buckets —
    Spark's bucket pruning (`SelectedBucketsCount: k of 16` in the scan,
    plan-asserted in tests) — which is the in-session index's
    documented 100 TB posture made executable: the index survives the
    session and a q-term query touches ~q/16 of the posting files.
    Returns the written tables."""
    # The in-memory catalog starts empty each session, but the warehouse
    # directory persists — clear stale locations first (the
    # join_bucketed_colocated pattern).
    import os
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tbl in _BM25_TABLES:
        if not spark.catalog.tableExists(tbl):
            shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
    docs = _docs(spark, sf_dir)
    tokens = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    postings = tokens.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    (
        postings.write.bucketBy(_BM25_BUCKETS, "term")
        .sortBy("term")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable("bm25_postings_tbl")
    )
    dfreq = spark.table("bm25_postings_tbl").groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    dfreq.write.mode("overwrite").format("parquet").saveAsTable(
        "bm25_dfreq_tbl"
    )
    docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.split("text", " "))).alias("avgdl"),
    ).write.mode("overwrite").format("parquet").saveAsTable("bm25_stats_tbl")
    return tuple(spark.table(tbl) for tbl in _BM25_TABLES)


def _search_bm25_store_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 served from the DURABLE bucketed posting store — same
    scores as search_bm25_topk (identical index content, different
    physical layout): the term IN filter prunes to the query terms'
    hash buckets before any IO beyond those files. The store is written
    once per session and ``documents`` version (staged.staged). The
    oracle is the same BM25 SQL."""
    return bm25_query(
        spark,
        *staged(
            spark, "bm25/store", sf_dir, ("documents",),
            lambda: _bm25_store(spark, sf_dir),
        ),
    )


register(
    "search_bm25_store_bucketed",
    _search_bm25_store_bucketed,
    f"""
    WITH postings AS (
        SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
        FROM (
            SELECT doc_id, len(string_split(text, ' ')) AS dl,
                   unnest(string_split(text, ' ')) AS term
            FROM documents
        )
        WHERE term IN ('spark', 'window', 'merge')
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ),
    df AS (SELECT term, count(*) AS df FROM postings GROUP BY 1)
    SELECT doc_id,
           round(sum(
               ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf * ({_BM25_K1} + 1))
               / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
           ), 6) AS score,
           count(*) AS n_matched_terms
    FROM postings JOIN df USING (term) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)
