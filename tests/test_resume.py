"""Kill/resume contract (north_rule): a restarted run reuses completed
stage checkpoints byte-for-byte and recomputes nothing."""

from __future__ import annotations

import os

import pytest

from corporate_knowledge_extractor_spark.config import PRESETS
from corporate_knowledge_extractor_spark.plans.pipeline import Pipeline


def _mtimes(base: str, stage: str) -> dict[str, float]:
    d = f"{base}/tables/{stage}"
    return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}


def test_resume_reuses_done_stages(spark, tmp_path):
    base = str(tmp_path / "ckg_resume")

    # simulate a killed run: only the first three stages completed
    partial = Pipeline(spark, base, run_id="run1")
    partial.run(sf=0.001, resume=True, stop_after="mentions")
    assert os.path.exists(f"{base}/tables/mentions/_SUCCESS")
    assert not os.path.exists(f"{base}/tables/triples")
    before = {s: _mtimes(base, s) for s in ("docs", "blocks", "mentions")}

    # restart: must reuse docs/blocks/mentions untouched and finish the rest
    resumed = Pipeline(spark, base, run_id="run2")
    result = resumed.run(sf=0.001, resume=True)
    assert result.reused_stages[:3] == ["docs", "blocks", "mentions"]
    after = {s: _mtimes(base, s) for s in ("docs", "blocks", "mentions")}
    assert before == after  # no recomputation of done partitions
    assert result.tables["edges"].count() > 0

    # and the resumed result equals a from-scratch run
    fresh = Pipeline(spark, str(tmp_path / "ckg_fresh"), run_id="run3").run(
        sf=0.001, resume=False
    )
    got = {
        tuple(r)
        for r in result.tables["triples"].select("subj", "pred", "obj").collect()
    }
    want = {
        tuple(r)
        for r in fresh.tables["triples"].select("subj", "pred", "obj").collect()
    }
    assert got == want


def test_incremental_docs_anti_join(spark, tmp_path):
    from corporate_knowledge_extractor_spark.corpus import generate_corpus

    base = str(tmp_path / "ckg_incr")
    pipe = Pipeline(spark, base, run_id="incr1")
    pipe.run(sf=0.001, resume=True, stop_after="triples")

    # same corpus again: everything already processed
    docs = generate_corpus(spark, sf=0.001)
    assert pipe.incremental_docs(docs).count() == 0

    # same corpus + 20 genuinely new docs: only those survive the anti-join
    from corporate_knowledge_extractor_spark.corpus import generate_doc

    extra = spark.createDataFrame([generate_doc(i, 500, 20) for i in range(500, 520)])
    bigger = docs.unionByName(extra.select(*docs.columns))
    remaining = pipe.incremental_docs(bigger)
    assert remaining.count() == 20


def test_unknown_stop_after_fails_before_any_stage_is_written(spark, tmp_path):
    """A stop_after name the plan does not have (a typo, or a frames-path
    stage under the frames-disabled prose_only config) is refused before
    the docs stage is checkpointed."""
    for name, kwargs, stop_after in (
        ("typo", {}, "mention"),
        ("prose", {"cfg": PRESETS["prose_only"]}, "mentions"),
    ):
        base = str(tmp_path / name)
        with pytest.raises(ValueError):
            Pipeline(spark, base, **kwargs).run(sf=0.001, stop_after=stop_after)
        assert not os.path.exists(f"{base}/tables"), name
