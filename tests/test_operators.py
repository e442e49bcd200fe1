"""Unit tests per operator on tiny inline fixtures — mirrors the
reference's layer-2 strategy (tests/test_pipeline.py:27-98, SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from corporate_knowledge_extractor_spark.config import MentionConfig, RedactionConfig
from corporate_knowledge_extractor_spark.operators.mentions import (
    cap_mentions,
    detect_mentions,
    junk_block_filter,
)
from corporate_knowledge_extractor_spark.operators.postprocess import (
    categorize,
    dedup_triples,
    post_process,
    validate_calls,
)
from corporate_knowledge_extractor_spark.operators.redact import redact_columns
from corporate_knowledge_extractor_spark.operators.segment import (
    assign_blocks,
    block_segments,
    split_lines,
)

TOY_CONTENT = """# Module toy of org0/repo0
# Maintainer: Alice Smith <alice.smith@example.com>

import os
from pkg1.mod_2 import helper_fn

def main_fn(x):
    out = helper_fn(x)
    return out

# thank you for watching
# copyright 2024

def main_fn(x):
    out = helper_fn(x)
    return out
"""


@pytest.fixture(scope="module")
def toy_docs(spark):
    return spark.createDataFrame(
        [("org0/repo0", "src/toy.py", "c0", "python", TOY_CONTENT)],
        "repo string, path string, commit string, lang string, content string",
    )


def test_block_assignment(spark, toy_docs):
    blocks = block_segments(assign_blocks(split_lines(toy_docs))).orderBy("start")
    rows = blocks.collect()
    # 4 blocks: header comments, imports, def, junk, dup-def
    assert [r.start for r in rows] == [0, 3, 6, 10, 13]
    assert rows[0].text.startswith("# Module toy")
    assert rows[2].text.startswith("def main_fn")


def test_junk_block_filter(spark, toy_docs):
    blocked = assign_blocks(split_lines(toy_docs))
    kept = junk_block_filter(blocked)
    kept_blocks = {r.block_id for r in kept.select("block_id").distinct().collect()}
    all_blocks = {r.block_id for r in blocked.select("block_id").distinct().collect()}
    assert len(all_blocks) - len(kept_blocks) == 1  # the junk block dropped


def test_mention_detection(spark, toy_docs):
    m = detect_mentions(junk_block_filter(assign_blocks(split_lines(toy_docs))))
    got = {(r.mention_type, r.surface) for r in m.collect()}
    assert ("import", "os") in got
    assert ("import", "pkg1.mod_2") in got
    assert ("import_symbol", "helper_fn") in got
    assert ("function_def", "main_fn") in got
    assert ("call", "helper_fn") in got
    assert ("person", "Alice Smith <alice.smith@example.com>") in got


def test_caps(spark, toy_docs):
    m = detect_mentions(assign_blocks(split_lines(toy_docs)))
    capped = cap_mentions(m, MentionConfig(max_per_block=1, max_total=3))
    rows = capped.orderBy("orig_idx").collect()
    assert len(rows) == 3
    # one per block, in line order
    assert [r.orig_idx for r in rows] == [1, 2, 3]
    assert len({r.block_id for r in rows}) == 3


def test_redaction_chain_order(spark):
    df = spark.createDataFrame(
        [
            ("Alice Smith wrote this",),
            ("contact alice.smith@example.com now",),
            ("call +1 212 555 0199 today",),
            ("ProjectX is secret",),
        ],
        "text string",
    )
    out = redact_columns(df, ["text"], RedactionConfig(custom_terms=("projectx",)))
    texts = [r.text for r in out.collect()]
    assert texts[0] == "[PERSON] wrote this"
    assert texts[1] == "contact [EMAIL] now"
    assert texts[2] == "call [PHONE] today"
    assert texts[3] == "[REDACTED] is secret"


def test_guarded_redaction_equals_unguarded_chain(spark):
    """The necessary-condition guards in redact_expr must be invisible:
    the default chain equals a plain regexp_replace chain over the
    rules.py patterns in the same order, on inputs near each guard's
    edge (tab or double space in a name, '@' without a TLD, phone
    punctuation, non-ASCII digits, an email right before a name)."""
    from corporate_knowledge_extractor_spark.functions import rules

    edge = [
        "Alice\tSmith",
        "Alice  Smith",
        "Alice Smith",
        "@",
        "a@b",
        "+1 (212) 555-0199",
        "\u0661\u0662\u0663 \u0664\u0665\u0666 \u0667\u0668\u0669\u0660",
        "bob.kim@example.org Bob Kim",
        "",
        "plain_identifier",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(edge)], "i int, text string")
    ref = F.col("text")
    for pattern, mask in (
        (rules.RE_PERSON_NAME, rules.MASK_PERSON),
        (rules.RE_EMAIL, rules.MASK_EMAIL),
        (rules.RE_PHONE, rules.MASK_PHONE),
    ):
        ref = F.regexp_replace(ref, pattern, mask)
    out = redact_columns(df.withColumn("ref", ref), ["text"]).orderBy("i").collect()
    assert [r.text for r in out] == [r.ref for r in out]
    assert out[2].text == "[PERSON]"
    assert out[7].text == "[EMAIL] [PERSON]"


TRIPLES_SCHEMA = (
    "repo string, path string, commit string, subj string, pred string, "
    "obj string, frame_id string, line_no int"
)


def test_dedup_first_seen_wins(spark):
    t = spark.createDataFrame(
        [
            ("r", "p", "c", "d", "defines", "Foo", "001", 1),
            ("r", "p", "c", "d", "defines", "foo", "002", 5),  # dup after norm
            ("r", "p", "c", "d", "defines", "bar", "003", 7),
        ],
        TRIPLES_SCHEMA,
    )
    rows = dedup_triples(t).orderBy("line_no").collect()
    assert [(r.obj, r.frame_id) for r in rows] == [("Foo", "001"), ("bar", "003")]


def test_validate_calls_semi_join(spark):
    t = spark.createDataFrame(
        [
            ("r", "p", "c", "d", "defines", "known_fn", "001", 1),
            ("r", "p", "c", "d::f", "calls", "known_fn", "002", 2),
            ("r", "p", "c", "d::f", "calls", "ghost_fn", "003", 3),
        ],
        TRIPLES_SCHEMA,
    )
    rows = validate_calls(t).collect()
    preds = sorted((r.pred, r.obj) for r in rows)
    assert ("calls", "ghost_fn") not in preds
    assert ("calls", "known_fn") in preds
    assert ("defines", "known_fn") in preds


def test_categorize_argmax_and_default(spark):
    t = spark.createDataFrame(
        [
            ("r", "p", "c", "d", "defines", "load_user_data", "001", 1),  # io+auth+data
            ("r", "p", "c", "d", "defines", "zzz", "002", 2),  # no keyword
            ("r", "p", "c", "d", "defines", "parse_graph", "003", 3),  # compute x2
        ],
        TRIPLES_SCHEMA,
    )
    got = {r.obj: r.category for r in categorize(t).collect()}
    # load_user_data: data=1 (data), auth=1 (user), io=1 (load) -> tie -> first listed: data
    assert got["load_user_data"] == "data"
    assert got["zzz"] == "general"
    assert got["parse_graph"] == "compute"


def test_post_process_persist_fanout_contract(spark):
    """post_process(persist=True) must (a) emit exactly the same rows as
    the unpersisted form, (b) hand the materialized dedup frame back via
    `scratch`, and (c) leave zero storage behind once the caller
    releases it — the staged pipeline's precise-release contract."""
    from corporate_knowledge_extractor_spark.corpus import generate_corpus
    from corporate_knowledge_extractor_spark.materialize import release
    from corporate_knowledge_extractor_spark.operators.mentions import (
        mention_stage,
        junk_block_filter as jbf,
    )
    from corporate_knowledge_extractor_spark.operators.synthesize import (
        synthesize_triples,
    )

    spark.catalog.clearCache()
    baseline = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    docs = generate_corpus(spark, n_docs=80)
    mentions = mention_stage(jbf(assign_blocks(split_lines(docs))))

    plain = {tuple(r) for r in post_process(synthesize_triples(mentions)).collect()}
    scratch: list = []
    persisted_df = post_process(
        synthesize_triples(mentions), persist=True, scratch=scratch
    )
    persisted = {tuple(r) for r in persisted_df.collect()}
    assert persisted == plain and len(plain) > 100
    # the materialized dedup frame AND the validate-calls known dim
    # (cached for the broadcast size probe) are both handed back
    assert len(scratch) == 2
    release(*scratch)
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == baseline
