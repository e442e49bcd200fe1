"""Redaction / normalization of PII in text columns.

Reference: /root/reference/src/anonymize/anonymizer.py:8-61 — spaCy PERSON
NER, then email regex, then phone regex, then custom terms; *order is
load-bearing* (a masked email must not be re-masked as a phone). Here the
whole chain is native `regexp_replace` — zero Python, fully codegen'd.
The NER step is replaced by a deterministic dictionary regex (the corpus
draws names from known lists); on a real corpus this one step would swap
to a batched pandas UDF running `nlp.pipe` (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import RedactionConfig
from corporate_knowledge_extractor_spark.functions import rules


def _guarded_replace(col: Column, guard: Column, pattern: str, mask: str) -> Column:
    """regexp_replace behind a cheap necessary-condition precheck.

    The guard must be implied by ANY match of `pattern` (match => guard
    true), so `when(guard, replace).otherwise(col)` is exactly
    regexp_replace: rows failing the guard cannot contain a match and
    pass through byte-identical (a no-match regexp_replace also returns
    the input, just after running the regex engine and rebuilding the
    string). On identifier-shaped columns the guard rejects ~95%+ of
    rows with a codegen'd scan instead of a Matcher run per pattern —
    measured ~2x less CPU on the extract's surface redaction at sf1.0
    (guide §1.2 per-task work; OPTIMIZATION_r06.md "Second pass" item 3)."""
    return F.when(guard, F.regexp_replace(col, pattern, mask)).otherwise(col)


def redact_expr(col: Column, cfg: RedactionConfig = RedactionConfig()) -> Column:
    """The anonymize() chain as a single column expression. Patterns are
    the functions/rules.py constants, shared with the pandas P/R oracle
    and the oracle SQL; the config chooses which masks run and adds
    custom terms.

    Each pattern has a necessary character its guard tests: the
    dictionary name pattern contains a literal space, an email match
    requires '@', and the phone pattern's first atom is a digit.
    """
    out = col
    if cfg.mask_names:
        out = _guarded_replace(
            out, out.contains(" "), rules.RE_PERSON_NAME, rules.MASK_PERSON
        )
    if cfg.mask_emails:
        out = _guarded_replace(out, out.contains("@"), rules.RE_EMAIL, rules.MASK_EMAIL)
    if cfg.mask_phones:
        out = _guarded_replace(out, out.rlike("[0-9]"), rules.RE_PHONE, rules.MASK_PHONE)
    for term in cfg.custom_terms:
        # anonymizer.py:52-59: literal, case-insensitive
        escaped = "".join("\\" + c if not c.isalnum() else c for c in term)
        out = F.regexp_replace(out, "(?i)" + escaped, "[REDACTED]")
    return out


def redact_columns(
    df: DataFrame, columns: list[str], cfg: RedactionConfig = RedactionConfig()
) -> DataFrame:
    """Apply the chain to each named column in place — the reference
    anonymizes speech / slide_text / frame text in place
    (scripts/run.py:86-91)."""
    out = df
    for c in columns:
        out = out.withColumn(c, redact_expr(F.col(c), cfg))
    return out
