"""Text analysis operators for training-data pipelines.

Language ID (stopword-hit heuristic), quality scoring (length / punct /
stopword ratios — the Spark form of the reference's QualityChecker
aggregates, /root/reference/tests/test_quality.py:59-199), token counting,
and document fingerprinting. All native expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic mini stopword lists per language (heuristic lang-id)
LANG_STOPWORDS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and", "of", "to", "a", "in", "is")),
    ("de", ("der", "die", "und", "das", "ist", "nicht")),
    ("fr", ("le", "la", "et", "les", "des", "est")),
    ("es", ("el", "los", "las", "es", "y", "que")),
)
EN_STOPWORDS = LANG_STOPWORDS[0][1]


def tokens(col: F.Column) -> F.Column:
    return F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " ")


def token_count(col: F.Column) -> F.Column:
    return F.size(tokens(col))


def distinct_token_count(col: F.Column) -> F.Column:
    return F.size(F.array_distinct(tokens(col)))


# GPT-2-style pre-tokenizer, restricted to constructs with identical
# leftmost-first semantics in Java regex (Spark) and RE2 (DuckDB):
# contractions, space-prefixed letter runs, space-prefixed digit runs,
# space-prefixed punctuation runs, residual whitespace. This is the
# "BPE-ish" token estimate an LLM-training pipeline budgets with before
# a real tokenizer pass (subword merges change counts by a roughly
# constant factor; the pre-tokenization boundaries are the distributed
# part).
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_ish_tokens(col: F.Column) -> F.Column:
    return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(col: F.Column) -> F.Column:
    return F.size(bpe_ish_tokens(col))


def _hits(toks: F.Column, words: tuple[str, ...]) -> F.Column:
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lit_words, t)))


def _hits_text(col: F.Column, words: tuple[str, ...]) -> F.Column:
    """Token-hit count as ONE codegen'd regexp_count pass over the text.

    Counts exactly the tokens of ``tokens(col)`` that equal one of
    ``words`` (duplicates included): after whitespace collapse a token is
    precisely a maximal space-delimited run, so a word matches a token
    iff it appears bounded by string edge / space on both sides. The
    boundaries are zero-width lookarounds, so adjacent stopwords
    ("the and") are both counted. Replaces the interpreted
    filter(tokens, t -> array_contains(...)) lambda (`_hits`) on hot
    paths — higher-order lambdas are not codegen'd (guide §4.1); measured
    ~1.5x on the sf1.0 lang_id_confusion query with identical output
    (OPTIMIZATION_r06.md "lang_id_confusion"). Assumes words are
    literal (no regex metacharacters), which every stopword list here
    satisfies."""
    norm = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    pat = "(?:^|(?<= ))(?:" + "|".join(words) + ")(?= |$)"
    return F.regexp_count(norm, F.lit(pat))


def lang_id(col: F.Column) -> F.Column:
    """Stopword-count argmax; ties -> earlier language; zero hits -> 'und'.
    Same strict-improvement scan as the category argmax
    (post_processor.py:189-199)."""
    scored = F.array(
        *[
            F.struct(
                _hits_text(col, words).alias("score"),
                F.lit(-i).alias("neg_order"),
                F.lit(lang).alias("name"),
            )
            for i, (lang, words) in enumerate(LANG_STOPWORDS)
        ]
    )
    best = F.array_max(scored)
    return F.when(best["score"] > 0, best["name"]).otherwise(F.lit("und"))


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features + composite score in [0,1]."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    stop_ratio = F.round(
        _hits_text(F.col(text_col), EN_STOPWORDS) / F.greatest(n_tok, F.lit(1)), 4
    )
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    punct_ratio = F.round(punct / F.greatest(n_chars, F.lit(1)), 4)
    avg_tok_len = F.round(
        (n_chars - n_tok + 1) / F.greatest(n_tok, F.lit(1)), 4
    )
    length_ok = (n_tok >= 5) & (n_tok <= 1000)
    score = F.round(
        (F.when(length_ok, 0.4).otherwise(0.0))
        + F.least(stop_ratio * 2, F.lit(0.3))
        + F.when(punct_ratio <= 0.1, 0.3).otherwise(0.0),
        4,
    )
    return docs.withColumn("n_tokens", n_tok).withColumn(
        "stopword_ratio", stop_ratio
    ).withColumn("punct_ratio", punct_ratio).withColumn(
        "avg_token_len", avg_tok_len
    ).withColumn("quality_score", score)


def fingerprint(col: F.Column, prefix_tokens: int = 32) -> F.Column:
    """Deterministic document fingerprint: md5 of the first N normalized
    tokens — a cheap rolling-hash stand-in that two engines can agree on."""
    head = F.array_join(F.slice(tokens(col), 1, prefix_tokens), " ")
    return F.md5(head)
