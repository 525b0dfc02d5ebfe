"""Text analysis for training-data pipelines: tokenization, quality
scoring, language-ID heuristic, document fingerprinting.

All pure JVM-side expressions over `documents.text` — at 100 TB these run
inside whole-stage codegen on the scan, with no shuffle until the final
aggregate (if any). No UDFs: `split`/`array_*`/`aggregate`/`md5` cover
everything, which keeps the hot path out of Python entirely.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small function-word list; overlaps the fixtures' vocabulary ('the','a')
# so stopword ratios are non-trivial on the synthetic corpus.
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the fixtures are single-space token soup;
    real corpora would pre-normalize whitespace upstream)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def bpe_ish_tokens(col: Column | str) -> Column:
    """A BPE-ish regex split: word pieces = runs of letters, digits, or a
    single non-space symbol — the classic pre-tokenizer shape (GPT-2 style
    contraction/word/number/symbol split, minus unicode categories)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def unique_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def avg_token_length(col: Column | str) -> Column:
    """Mean token length, as total letter count / token count (NULL for
    empty text)."""
    t = tokens(col)
    total = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.try_divide(total, F.size(t))


def stopword_ratio(col: Column | str) -> Column:
    t = tokens(col)
    sw = F.size(
        F.filter(t, lambda x: F.lower(x).isin(*STOPWORDS))
    )
    return F.try_divide(sw, F.size(t))


def quality_score(col: Column | str) -> Column:
    """A composite [0,1] quality heuristic in the Gopher/C4-rule spirit:
    penalize very short docs, high repetition (low unique-token ratio),
    and stopword-free text (word-salad signal). Deterministic, closed-form
    — tune weights per corpus."""
    n = token_count(col)
    uniq_ratio = F.try_divide(unique_token_count(col), n)
    sw = stopword_ratio(col)
    len_ok = F.when(n >= 50, F.lit(1.0)).otherwise(n / F.lit(50.0))
    has_sw = F.when(sw > 0, F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        0.4 * len_ok + 0.4 * F.coalesce(uniq_ratio, F.lit(0.0)) + 0.2 * has_sw, 6
    )


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: md5 of the sorted distinct token
    set. Two docs with the same bag-of-words (any order/multiplicity)
    collide — the classic cheap near-dup key. One expression, no shuffle;
    grouping by it is a plain hash aggregate at any scale."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(col))), " ")
    )


def lang_id(col: Column | str) -> Column:
    """Deterministic stopword-trigger language ID (n-gram-heuristic
    class). Checks language-marker function words in priority order; falls
    back to 'und'. On real corpora the marker lists carry the signal; on
    the synthetic English-ish soup everything resolves to 'en', which the
    confusion-matrix query makes visible."""
    t = tokens(col)
    has = lambda *ws: F.arrays_overlap(t, F.array(*[F.lit(w) for w in ws]))  # noqa: E731
    return (
        F.when(has("der", "die", "das", "und", "nicht"), F.lit("de"))
        .when(has("le", "la", "les", "et", "est"), F.lit("fr"))
        .when(has("el", "los", "las", "es", "y"), F.lit("es"))
        .when(has("的", "是", "了"), F.lit("zh"))
        .when(has("the", "a", "is", "and", "of"), F.lit("en"))
        .otherwise(F.lit("und"))
    )
