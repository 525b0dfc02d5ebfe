"""Text-analysis queries over `documents` (north-star extension: SURVEY
§2.7 / §7 step 5c): token stats, quality scoring, language profiling,
word counts, fingerprinting, heuristic language-ID."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.compat import default_parallelism, stage
from orchestrated_etl_spark.functions import text as X
from orchestrated_etl_spark.operators.relational import global_rank_two_phase
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table

_STOP_SQL = "['" + "','".join(X.STOPWORDS) + "']"

# ---------------------------------------------------------------------------
# token statistics
# ---------------------------------------------------------------------------


def _token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.unique_token_count("text").alias("n_unique"),
        F.round(X.avg_token_length("text"), 6).alias("avg_token_len"),
    )


register(
    "text_token_stats",
    _token_stats,
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique,
           round(CAST(list_sum(list_transform(string_split(text, ' '),
                                              x -> length(x))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS avg_token_len
    FROM documents
    """,
)

# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------


def _quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        F.round(
            F.try_divide(X.unique_token_count("text"), X.token_count("text")), 6
        ).alias("uniq_ratio"),
        F.round(X.stopword_ratio("text"), 6).alias("stopword_ratio"),
        X.quality_score("text").alias("quality"),
    )


register(
    "text_quality_score",
    _quality,
    f"""
    WITH t AS (
        SELECT doc_id,
               string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_tokens,
           round(CAST(len(list_distinct(toks)) AS DOUBLE) / n, 6) AS uniq_ratio,
           round(CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x)))) AS DOUBLE) / n, 6)
               AS stopword_ratio,
           round(0.4 * (CASE WHEN n >= 50 THEN 1.0 ELSE n / 50.0 END)
                 + 0.4 * coalesce(CAST(len(list_distinct(toks)) AS DOUBLE) / n, 0.0)
                 + 0.2 * (CASE WHEN len(list_filter(toks, x -> list_contains({_STOP_SQL}, lower(x)))) > 0
                          THEN 1.0 ELSE 0.5 END), 6) AS quality
    FROM t
    """,
)

# ---------------------------------------------------------------------------
# per-language corpus profile
# ---------------------------------------------------------------------------


def _lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars") * 1.0 / F.count(F.lit(1))).alias("avg_chars"),
        (F.sum(X.token_count("text")) * 1.0 / F.count(F.lit(1))).alias(
            "avg_tokens"
        ),
        F.countDistinct("source").alias("n_sources"),
    )


register(
    "text_lang_profile",
    _lang_profile,
    """
    SELECT lang,
           count(*) AS n_docs,
           sum(n_chars) * 1.0 / count(*) AS avg_chars,
           sum(len(string_split(text, ' '))) * 1.0 / count(*) AS avg_tokens,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)

# ---------------------------------------------------------------------------
# corpus word count (explode + aggregate + top-k)
# ---------------------------------------------------------------------------


def _word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(X.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(30)
    )


register(
    "text_word_topk",
    _word_topk,
    """
    SELECT w AS word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w ORDER BY n DESC, w LIMIT 30
    """,
)

# ---------------------------------------------------------------------------
# document fingerprinting (canonical bag-of-words md5)
# ---------------------------------------------------------------------------


def _fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", X.fingerprint("text").alias("fingerprint")
    )


register(
    "text_fingerprint",
    _fingerprint,
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint
    FROM documents
    """,
)

# ---------------------------------------------------------------------------
# heuristic language-ID vs labeled lang (confusion counts)
# ---------------------------------------------------------------------------


def _lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", X.lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


register(
    "text_lang_id_confusion",
    _lang_id_confusion,
    """
    WITH p AS (
        SELECT lang,
               CASE
                 WHEN list_has_any(string_split(text,' '), ['der','die','das','und','nicht']) THEN 'de'
                 WHEN list_has_any(string_split(text,' '), ['le','la','les','et','est']) THEN 'fr'
                 WHEN list_has_any(string_split(text,' '), ['el','los','las','es','y']) THEN 'es'
                 WHEN list_has_any(string_split(text,' '), ['的','是','了']) THEN 'zh'
                 WHEN list_has_any(string_split(text,' '), ['the','a','is','and','of']) THEN 'en'
                 ELSE 'und'
               END AS predicted
        FROM documents
    )
    SELECT lang, predicted, count(*) AS n FROM p GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# BPE-ish pre-tokenizer counts (regex word/number/symbol pieces)
# ---------------------------------------------------------------------------


def _bpe_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with the BPE-ish regex pre-tokenizer
    (functions/text.py bpe_ish_tokens) next to the whitespace count —
    the piece/word ratio is the standard fertility proxy for token-budget
    estimates. Per-lang aggregate; regexp_extract_all is JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(X.bpe_ish_tokens("text")).alias("n_pieces"),
        X.token_count("text").alias("n_words"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_pieces").cast("long").alias("total_pieces"),
        # raw quotient of exact integer sums — identical on both
        # engines, no round() tie risk
        F.try_divide(F.sum("n_pieces"), F.sum("n_words")).alias(
            "pieces_per_word"
        ),
    )


register(
    "text_bpe_token_counts",
    _bpe_counts,
    r"""
    WITH d AS (
        SELECT lang,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_pieces,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
           sum(n_pieces) * 1.0 / sum(n_words) AS pieces_per_word
    FROM d GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# PII scrubbing (email/phone redaction) + repetition scoring
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"


def _pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact email/phone patterns with
    JVM-side regexp functions (T4's regex machinery applied to the
    training-data compliance step). Returns per-doc match counts plus the
    scrubbed length; patterns are RE2-compatible so the DuckDB oracle
    evaluates them identically. The synthetic corpus contains no real
    PII — counts are legitimately zero — but the scrub plan itself is
    what's under test."""
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


register(
    "train_pii_scrub",
    _pii_scrub,
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
           CAST(length(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                      '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT) AS scrubbed_len
    FROM documents
    """,
)


def _repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal: the share of a doc's trigram occurrences
    taken by its single most-frequent trigram (NON-distinct shingles —
    repeats are the signal). High values flag boilerplate/spam for the
    quality gate. One explode + two-level aggregate, shuffled on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - 2, F.lit(1)))
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.array_join(F.slice(t, i, 3), " "))
        ).alias("g"),
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.max("c").cast("long").alias("max_gram"),
        F.round(F.try_divide(F.max("c"), F.sum("c")), 6).alias("repetition"),
    )


register(
    "text_repetition_score",
    _repetition,
    """
    WITH g AS (
        SELECT doc_id,
               unnest([array_to_string(ts[i:i+2], ' ')
                       for i in range(1, greatest(len(ts) - 2, 1) + 1)]) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    ),
    per AS (
        SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(max(c) AS BIGINT) AS max_gram,
           round(max(c) * 1.0 / sum(c), 6) AS repetition
    FROM per GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# Python UDTF (Spark 4): row → rows expansion as a lateral table function
# ---------------------------------------------------------------------------


def _udtf_chunk_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a LATERAL join: each document expands to its
    non-overlapping 32-token chunk descriptors. This is the genuinely-
    Python member of the UDF matrix (scalar pandas UDF / grouped-agg /
    grouped-map / mapInPandas / applyInPandasWithState are covered by
    sim_* and stream_*); the JVM explode/sequence form of the same
    expansion is train_chunk_documents — prefer that in hot paths, use a
    UDTF when per-row Python logic (a real tokenizer) is unavoidable."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, n_tokens int")
    class ChunkExpand:
        def eval(self, doc_id: int, text: str):
            toks = text.split(" ")
            for idx in range((len(toks) + 31) // 32):
                yield doc_id, idx, min(32, len(toks) - 32 * idx)

    spark.udtf.register("chunk_expand_udtf", ChunkExpand)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "v_documents"
    )
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.n_tokens
        FROM v_documents d, LATERAL chunk_expand_udtf(d.doc_id, d.text) c
        """
    )


register(
    "udtf_chunk_expand",
    _udtf_chunk_expand,
    """
    WITH ts AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           CAST(least(32, len(toks) - 32 * i) AS INTEGER) AS n_tokens
    FROM ts, LATERAL unnest(range(0, (len(toks) + 31) // 32)) AS u(i)
    """,
)


# ---------------------------------------------------------------------------
# corpus length histogram (log2 buckets)
# ---------------------------------------------------------------------------


def _length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram per language — the
    distribution diagnostic behind truncation/packing decisions (how
    much of the corpus is shorter than the context window? where does
    mass concentrate?). Bucket = floor(log2(n_chars)), computed as the
    integer BIT LENGTH minus one (binary-string length on both
    engines) rather than float log2, which can land a hair under an
    integer at exact powers of two and flip the bucket — the integer
    form is exact at every boundary. Map-only projection + one
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    # exact integer log2: number of bits in n_chars minus 1
    bucket = (
        F.length(F.conv(F.col("n_chars").cast("string"), 10, 2)) - 1
    ).alias("log2_bucket")
    return (
        docs.where(F.col("n_chars") > 0)
        .select("lang", bucket, "n_chars")
        .groupBy("lang", "log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


register(
    "text_length_histogram",
    _length_histogram,
    """
    SELECT lang,
           CAST(length(bin(n_chars)) - 1 AS INTEGER) AS log2_bucket,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE n_chars > 0
    GROUP BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# URL parsing / canonicalization surface
# ---------------------------------------------------------------------------


def _url_parse_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url surface over deterministic synthetic URLs (the fixture
    has no URL column, so one is derived from source/doc_id — the
    parsing is what's under test): HOST / PATH / QUERY-param extraction
    and the canonical crawl-dedup key (host + path, tracking params
    stripped). Per-host rollup counts canonical-distinct pages — the
    URL-dedup front end of a crawl pipeline; all map-side expressions,
    one host-sized aggregate. Oracle: regex equivalents (DuckDB has no
    parse_url)."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("?utm_source=feed&page="),
        (F.col("doc_id") % 3).cast("string"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    path = F.parse_url(F.col("url"), F.lit("PATH"))
    page = F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("page"))
    canon = F.concat(host, path)  # tracking params stripped
    return (
        with_url.select(
            "doc_id",
            host.alias("host"),
            path.alias("path"),
            page.alias("page_param"),
            canon.alias("canonical"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct("canonical").alias("n_canonical"),
            F.count_distinct("page_param").alias("n_page_values"),
        )
    )


register(
    "text_url_parse_profile",
    _url_parse_profile,
    """
    WITH u AS (
        SELECT doc_id,
               'https://' || source || '.example.com/docs/'
                   || CAST(doc_id % 7 AS VARCHAR)
                   || '?utm_source=feed&page='
                   || CAST(doc_id % 3 AS VARCHAR) AS url
        FROM documents
    ),
    parsed AS (
        SELECT doc_id,
               regexp_extract(url, '^https://([^/]+)/', 1) AS host,
               regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
               regexp_extract(url, '[?&]page=([^&]*)', 1) AS page_param
        FROM u
    )
    SELECT host,
           count(*) AS n_urls,
           count(DISTINCT host || path) AS n_canonical,
           count(DISTINCT page_param) AS n_page_values
    FROM parsed
    GROUP BY host
    """,
)


# ---------------------------------------------------------------------------
# character entropy (quality signal)
# ---------------------------------------------------------------------------


def _char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-entropy profile: Shannon entropy of each
    document's character distribution (gibberish scores high, repeated
    boilerplate low), averaged per lang. Explode → two hash aggregates,
    all JVM expressions; the explode fan-out (~n_chars rows) combines
    map-side immediately, so the shuffle carries only (doc, char) counts."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        "lang",
        F.explode(F.filter(F.split("text", ""), lambda c: c != "")).alias("ch"),
    )
    per_char = chars.groupBy("doc_id", "lang", "ch").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    with_total = per_char.withColumn(
        "p", F.col("cnt") / F.sum("cnt").over(Window.partitionBy("doc_id"))
    )
    per_doc = with_total.groupBy("doc_id", "lang").agg(
        (-F.sum(F.col("p") * F.log("p"))).alias("entropy"),
        F.count(F.lit(1)).alias("uniq_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.round(F.avg("entropy"), 4).alias("avg_entropy"),
        F.round(F.avg("uniq_chars"), 4).alias("avg_uniq_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


register(
    "text_char_entropy",
    _char_entropy,
    r"""
    WITH chars AS (
        -- [\s\S] (not '.') so newlines are enumerated like every other
        -- character, matching Spark's split(text, '') enumeration even on
        -- multi-line documents.
        SELECT doc_id, lang, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
        FROM documents
    ),
    per_char AS (
        SELECT doc_id, lang, ch, count(*) AS cnt
        FROM chars GROUP BY doc_id, lang, ch
    ),
    with_total AS (
        SELECT doc_id, lang, cnt,
               cnt * 1.0 / sum(cnt) OVER (PARTITION BY doc_id) AS p
        FROM per_char
    ),
    per_doc AS (
        SELECT doc_id, lang,
               -sum(p * ln(p)) AS entropy,
               count(*) AS uniq_chars
        FROM with_total GROUP BY doc_id, lang
    )
    SELECT lang,
           round(avg(entropy), 4) AS avg_entropy,
           round(avg(uniq_chars), 4) AS avg_uniq_chars,
           count(*) AS n_docs
    FROM per_doc GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# unigram LM document scoring (CCNet-style quality signal)
# ---------------------------------------------------------------------------


def _text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the cheap stand-in for CCNet's LM-perplexity
    quality filter: documents of common words score high (less negative),
    documents of rare words score low. Plan: one (term) aggregate builds
    the LM, one explode+join+aggregate scores every document; both
    aggregates partial-combine map-side.

    The LM join-back carries NO broadcast hint (round-17 review — the
    r16 text_tfidf_keywords finding's SQL-hint sibling, which the F.
    broadcast() grep missed): the RAW-token vocabulary grows by Heaps'
    law with the corpus, not the language — a forced hint never falls
    back past the threshold and OOMs executors at 100 TB. Below the
    threshold Catalyst still picks broadcast on its own (same local
    plan); past it the score pass degrades to a term-keyed shuffle
    join, which partial-combines map-side either way. Issued as SQL
    text so the corpus token total plans as a ScalarSubquery literal
    rather than a 1-row nested-loop join (plan-audit clean). The
    log-prob is genuinely irrational → round(…,6) is the cross-engine
    tolerance (registry.py float policy), and ordering ties break on
    doc_id."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "docs_ulm"
    )
    return spark.sql(
        """
        WITH toks AS (
            SELECT doc_id, explode(split(text, ' ')) AS term FROM docs_ulm
        ),
        lm AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1)
        SELECT doc_id,
               round(avg(ln(CAST(cnt AS DOUBLE)
                            / (SELECT sum(cnt) FROM lm))), 6)
                   AS mean_logprob,
               count(*) AS n_tokens
        FROM toks JOIN lm USING (term)
        GROUP BY doc_id
        ORDER BY doc_id
        """
    )


register(
    "text_unigram_logprob",
    _text_unigram_logprob,
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    lm AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
    tot AS (SELECT sum(cnt) AS total FROM lm)
    SELECT doc_id,
           round(avg(ln(CAST(cnt AS DOUBLE) / total)), 6) AS mean_logprob,
           count(*) AS n_tokens
    FROM toks JOIN lm USING (term) CROSS JOIN tot
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# PMI collocations (corpus co-occurrence statistics)
# ---------------------------------------------------------------------------


def _pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of word pairs at DOCUMENT
    co-occurrence granularity — collocation/phrase mining for
    tokenizer vocabularies and topic audits: PMI = ln(n_ab·N /
    (n_a·n_b)) corrects raw co-occurrence for word frequency (the
    text twin of orders_basket_lift's lift). Pairs are generated
    MAP-SIDE from each document's sorted distinct-word array via
    nested TRANSFORM (the copurchase_edges idiom — no self-join, no
    second corpus scan); the corpus is repartitioned by doc before
    the quadratic-per-doc expansion so the kernel parallelizes off
    the fixture's single row group. Counts are exact BIGINTs; ln is
    applied to an exact rational, so round(,6) is a pure tolerance
    (float-policy exception c, the text_unigram_logprob precedent).
    Top-50 by (n_ab DESC, pair ASC) — total order, rank-stable.

    Scale: one doc-grouped aggregate + one pair aggregate (both
    partial-aggregable); per-doc fan-out is |vocab_doc|², bounded by
    document length — the same contract as shingling. N and the
    unigram doc-frequencies are vocabulary-sized broadcasts."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    words = stage(docs.repartition(  # pair counts + unigram df, one pass
        default_parallelism(spark), "doc_id"
    ).select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.split(F.lower("text"), r"\s+"),
                    lambda w: F.length(w) >= 2,
                )
            )
        ).alias("ws"),
    ))
    n_docs = words.agg(F.count(F.lit(1)).alias("n"))
    uni = words.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("df")
    )
    pairs = words.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ws",
                    lambda x, i: F.transform(
                        F.slice(F.col("ws"), i + F.lit(2), F.size("ws")),
                        lambda y: F.struct(
                            x.alias("word_a"), y.alias("word_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.word_a", "p.word_b")
    co = pairs.groupBy("word_a", "word_b").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    da = uni.select(F.col("w").alias("word_a"), F.col("df").alias("n_a"))
    db = uni.select(F.col("w").alias("word_b"), F.col("df").alias("n_b"))
    # No forced broadcast on the unigram tables (round-15 review): the
    # vocabulary grows with the corpus. Threshold/AQE broadcast them
    # while small; the co-occurrence join shuffles on the word past it.
    scored = (
        co.join(da, "word_a")
        .join(db, "word_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word_a",
            "word_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.log(
                    (F.col("n_ab") * F.col("n")).cast("double")
                    / (F.col("n_a") * F.col("n_b")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("n_ab"), F.asc("word_a"), F.asc("word_b")
    ).limit(50)


register(
    "text_pmi_collocations",
    _pmi_collocations,
    """
    WITH words AS (
        SELECT doc_id,
               list_sort(list_distinct(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   w -> length(w) >= 2))) AS ws
        FROM documents
    ),
    n_docs AS (SELECT count(*) AS n FROM words),
    uni AS (
        SELECT unnest(ws) AS w, doc_id FROM words
    ),
    df AS (SELECT w, count(*) AS df FROM uni GROUP BY w),
    pairs AS (
        SELECT ws[CAST(i AS INTEGER)] AS word_a,
               ws[CAST(j AS INTEGER)] AS word_b
        FROM words,
             range(1, 4096) AS t1(i),
             range(1, 4096) AS t2(j)
        WHERE i < j AND j <= len(ws)
    ),
    co AS (
        SELECT word_a, word_b, count(*) AS n_ab
        FROM pairs GROUP BY 1, 2
    )
    SELECT c.word_a, c.word_b,
           CAST(c.n_ab AS BIGINT) AS n_ab,
           CAST(a.df AS BIGINT) AS n_a,
           CAST(b.df AS BIGINT) AS n_b,
           round(ln(CAST(c.n_ab * n.n AS DOUBLE)
                    / CAST(a.df * b.df AS DOUBLE)), 6) AS pmi
    FROM co c
    JOIN df a ON c.word_a = a.w
    JOIN df b ON c.word_b = b.w, n_docs n
    ORDER BY n_ab DESC, c.word_a ASC, c.word_b ASC
    LIMIT 50
    """,
)


# ---------------------------------------------------------------------------
# Zipf-law fit of the corpus word-frequency distribution
# ---------------------------------------------------------------------------


def _zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law diagnostic of the corpus vocabulary: OLS slope of
    ln(freq) against ln(rank) — natural language sits near -1;
    strong deviation flags templated/boilerplate or synthetic text
    (a corpus-quality gate cousin of text_unigram_logprob). Ranks are
    a total order (freq DESC, word), the regression runs as ONE
    regr_slope/regr_intercept/regr_r2 aggregate pass over the
    vocabulary-sized rank relation (agg_regression_funcs establishes
    cross-engine regr_* parity), and log/ratio outputs are genuinely
    irrational → round(,6) tolerance (float-policy exception c).

    Scale (re-plumbed round 6): the corpus collapses to the vocabulary
    relation in one explode+aggregate, but the vocabulary itself is
    UNBOUNDED in corpus size (Heaps' law), so ranking runs through the
    two-phase ``global_rank_two_phase`` operator — range-partition on
    (freq DESC, w), per-partition row_number, broadcast P-row count
    offsets — instead of the former unpartitioned rank window (a
    single-executor vocabulary sort at 100x). The regression is one
    distributed regr_* aggregate pass over the ranked relation."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower("text"), r"\s+"),
                    lambda w: F.length(w) >= 2,
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = global_rank_two_phase(
        freq, [F.desc("freq"), F.asc("w")], rank_col="rnk"
    ).select("freq", "rnk")
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(
            F.expr(
                "regr_slope(ln(CAST(freq AS DOUBLE)),"
                " ln(CAST(rnk AS DOUBLE)))"
            ),
            6,
        ).alias("zipf_slope"),
        F.round(
            F.expr(
                "regr_intercept(ln(CAST(freq AS DOUBLE)),"
                " ln(CAST(rnk AS DOUBLE)))"
            ),
            6,
        ).alias("zipf_intercept"),
        F.round(
            F.expr(
                "regr_r2(ln(CAST(freq AS DOUBLE)),"
                " ln(CAST(rnk AS DOUBLE)))"
            ),
            6,
        ).alias("fit_r2"),
    )


register(
    "text_zipf_slope",
    _zipf_slope,
    """
    WITH freq AS (
        SELECT w, count(*) AS freq
        FROM (
            SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '\\s+'),
                x -> length(x) >= 2)) AS w
            FROM documents
        )
        GROUP BY w
    ),
    ranked AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, w) AS rnk
        FROM freq
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           round(regr_slope(ln(CAST(freq AS DOUBLE)),
                            ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope,
           round(regr_intercept(ln(CAST(freq AS DOUBLE)),
                                ln(CAST(rnk AS DOUBLE))), 6)
               AS zipf_intercept,
           round(regr_r2(ln(CAST(freq AS DOUBLE)),
                         ln(CAST(rnk AS DOUBLE))), 6) AS fit_r2
    FROM ranked
    """,
)
