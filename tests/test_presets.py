"""The preset registry: each named preset must (a) change the plan
(its knobs are read, not decorative) and (b) land inside its declared
expected-output envelope on the synthetic corpus — the Spark analogue of
the reference's per-preset expected_output blocks
(/root/reference/config/presets/powerpoint.yaml:63-66, excel.yaml,
demo.yaml, hybrid.yaml) selected via --preset (scripts/run.py:108-159).
"""

from __future__ import annotations

import pytest

from corporate_knowledge_extractor_spark.config import PRESETS
from corporate_knowledge_extractor_spark.corpus import generate_corpus
from corporate_knowledge_extractor_spark.operators.mentions import (
    junk_block_filter,
    mention_stage,
)
from corporate_knowledge_extractor_spark.operators.segment import (
    assign_blocks,
    split_lines,
)
from corporate_knowledge_extractor_spark.plans.pipeline import extract_triples


@pytest.fixture(scope="module")
def corpus(spark):
    from corporate_knowledge_extractor_spark.materialize import materialize

    docs = materialize(generate_corpus(spark, sf=0.001))
    blocked = materialize(junk_block_filter(assign_blocks(split_lines(docs))))
    return docs, blocked, docs.count()


# Checkable analogue of each reference preset's expected_output block
# (presets/*.yaml, e.g. powerpoint.yaml:63-66 frames_per_hour 30-60),
# restated per preset as (mentions/doc, triples/doc) ranges on the
# synthetic corpus. prose_only has no mention stage; its segments-per-doc
# envelope is asserted in test_prose_only_preset_omits_mention_stages.
ENVELOPES = {
    "dense_code": ((12.0, 22.0), (12.0, 22.0)),
    "sparse_scan": ((2.0, 8.0), (2.0, 8.0)),
    "walkthrough": ((4.0, 12.0), (4.0, 12.0)),
    "hybrid": ((10.0, 22.0), (10.0, 22.0)),
}


@pytest.mark.parametrize(
    "name", sorted(n for n, cfg in PRESETS.items() if cfg.frames_enabled)
)
def test_preset_envelope(spark, corpus, name):
    docs, blocked, n_docs = corpus
    cfg = PRESETS[name]
    m_rate = mention_stage(blocked, cfg.mentions).count() / n_docs
    t_rate = extract_triples(docs, cfg).count() / n_docs
    (m_lo, m_hi), (t_lo, t_hi) = ENVELOPES[name]
    assert m_lo <= m_rate <= m_hi, f"{name}: mentions/doc {m_rate:.2f} not in [{m_lo},{m_hi}]"
    assert t_lo <= t_rate <= t_hi, f"{name}: triples/doc {t_rate:.2f} not in [{t_lo},{t_hi}]"


def test_presets_are_distinct(spark, corpus):
    """The four frame-scanning presets must produce four genuinely
    different extraction volumes (knobs wired end-to-end, not dead
    config); the frames-disabled preset has no mention stage at all."""
    _, blocked, _ = corpus
    counts = {
        name: mention_stage(blocked, cfg.mentions).count()
        for name, cfg in PRESETS.items()
        if cfg.frames_enabled
    }
    assert len(set(counts.values())) == len(counts), counts
    assert counts["sparse_scan"] < counts["walkthrough"] < counts["dense_code"]


def test_prose_only_preset_omits_mention_stages(spark, corpus, tmp_path):
    """The audio_only.yaml analogue (frames: enabled: false +
    run.py:52-74 early exit): the prose_only Pipeline plan must genuinely
    compile the mention/alignment/KG stages out — no stage table, no
    stage timing, nothing on disk — while still anonymizing the
    transcript (audio_only.yaml notes) and writing the transcript-only
    report."""
    import os

    from pyspark.sql import functions as F

    from corporate_knowledge_extractor_spark.plans.pipeline import Pipeline

    docs, _, n_docs = corpus
    base = str(tmp_path / "prose")
    r = Pipeline(spark, base, cfg=PRESETS["prose_only"]).run(docs=docs, resume=False)

    assert set(r.stage_seconds) == {"docs", "blocks", "transcript"}
    for absent in ("mentions", "aligned", "triples", "entities", "links",
                   "components", "nodes", "edges"):
        assert not os.path.exists(f"{base}/tables/{absent}"), absent

    transcript = r.tables["transcript"]
    n_segs = transcript.count()
    assert 4 * n_docs <= n_segs <= 9 * n_docs  # segments-per-doc envelope
    # anonymization still applied to the transcript
    assert transcript.where(F.col("text").contains("@example.com")).count() == 0
    assert transcript.where(F.col("text").contains("[EMAIL]")).count() > 0
    # transcript-only report written
    assert os.path.exists(f"{base}/report/report.md")
    assert os.path.exists(f"{base}/report/metadata.json")


def test_redaction_config_masks_on_and_off(spark, corpus, tmp_path):
    """EngineConfig.redaction is the one redaction switch: the default
    config masks the mention surfaces, and a RedactionConfig with every
    mask off compiles the pass out so raw PII survives. Checked on the
    staged Pipeline's mentions table, where the maintainer-comment
    person mentions carry the emails."""
    from pyspark.sql import functions as F

    from corporate_knowledge_extractor_spark.config import (
        DEFAULT_CONFIG,
        EngineConfig,
        RedactionConfig,
    )
    from corporate_knowledge_extractor_spark.plans.pipeline import Pipeline

    docs, _, _ = corpus
    masks_off = EngineConfig(
        redaction=RedactionConfig(
            mask_names=False, mask_emails=False, mask_phones=False
        )
    )

    def mentions_with(name, cfg, sub):
        p = Pipeline(spark, str(tmp_path / name), cfg=cfg)
        r = p.run(docs=docs, stop_after="mentions")
        m = r.tables["mentions"]
        return m.where(F.col("surface").contains(sub)).count()

    assert mentions_with("default", DEFAULT_CONFIG, "@example.com") == 0
    assert mentions_with("default", DEFAULT_CONFIG, "[EMAIL]") > 0
    assert mentions_with("masks_off", masks_off, "@example.com") > 0
    assert mentions_with("masks_off", masks_off, "[EMAIL]") == 0


def test_sampler_is_noop_at_one(spark, corpus):
    """sample_every_n_lines=1 must leave the line stream untouched (the
    default contract the kg_triples oracle depends on)."""
    from corporate_knowledge_extractor_spark.config import MentionConfig
    from corporate_knowledge_extractor_spark.operators.mentions import sample_lines

    _, blocked, _ = corpus
    assert sample_lines(blocked, MentionConfig()) is blocked
