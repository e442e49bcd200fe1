"""F3 + A4: change detection / dedup against the previous *kept* row.

Reference semantics: a frame is kept iff it differs enough from the
previously KEPT frame — not the previous row
(/root/reference/src/frames/extractor.py:141-149 change detection;
:302-353 adjacent dedup, keep iff pixel_sim < 0.85 OR text_sim < 0.90 vs
the last kept frame). The state ("last kept") makes this inherently
sequential per document, which is exactly the case SURVEY.md §2.2/F3
assigns to `applyInPandas`: per-doc groups are small and independent, so
the scan parallelizes across documents while staying sequential inside
one — never a global sequential pass.

A `lag()`-based relaxation (previous *row*) exists as the SQL-checkable
query `lag_change_detect`; this module is the exact-semantics form.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _text_similarity(a: str, b: str) -> float:
    """Word-set Jaccard (extractor.py:356-367)."""
    wa, wb = set(a.lower().split()), set(b.lower().split())
    if not wa or not wb:
        return 0.0
    return len(wa & wb) / len(wa | wb)


def keep_changed(
    df: DataFrame,
    doc_cols: list[str],
    order_col: str,
    value_col: str,
    threshold: float,
) -> DataFrame:
    """Numeric change detection vs previous kept: keep a row iff
    |value - last_kept_value| > threshold; the first row is always kept
    (extractor.py:141-149 with pixel-diff replaced by a numeric delta)."""
    schema = df.schema

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        kept_rows = []
        last = None
        for i, v in zip(pdf.index, pdf[value_col]):
            if last is None or abs(v - last) > threshold:
                kept_rows.append(i)
                last = v
        return pdf.loc[kept_rows]

    return df.groupBy(*doc_cols).applyInPandas(
        lambda pdf: scan(pdf), schema=schema
    )


def dedup_vs_previous_kept(
    df: DataFrame,
    doc_cols: list[str],
    order_col: str,
    text_col: str,
    text_threshold: float = 0.90,
) -> DataFrame:
    """A4 adjacent-pair dedup: keep a row iff its text similarity to the
    previously kept row is below the threshold (extractor.py:302-353,
    keep rule :346 restricted to the text signal; no pixel signal is
    computed, as the engine decodes no media)."""
    schema = df.schema

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        kept_rows = []
        last_text = None
        for i, t in zip(pdf.index, pdf[text_col]):
            t = t or ""
            if last_text is None or _text_similarity(last_text, t) < text_threshold:
                kept_rows.append(i)
                last_text = t
        return pdf.loc[kept_rows]

    return df.groupBy(*doc_cols).applyInPandas(
        lambda pdf: scan(pdf), schema=schema
    )
