"""Stage checkpointing (resume semantics) and per-partition lineage."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from neuronews_spark.checkpoint import StageCheckpoint
from neuronews_spark.lineage import LineageWriter
from neuronews_spark.pipeline import (
    EntityResolutionPipeline,
    PipelineConfig,
    resolve_from_mentions,
)
from neuronews_spark.sources.synthetic import name_embeddings_df, synthetic_transcripts


def test_stage_checkpoint_memoizes_and_invalidates(spark, tmp_path):
    ck = StageCheckpoint(spark, str(tmp_path / "wd"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).withColumn("x", F.col("id") * 2)

    df1 = ck.run("stage_a", "fp1", build)
    assert df1.count() == 5 and calls["n"] == 1
    # same fingerprint → checkpoint reused, builder not called
    df2 = ck.run("stage_a", "fp1", build)
    assert df2.count() == 5 and calls["n"] == 1
    # changed fingerprint → rebuild
    ck.run("stage_a", "fp2", build)
    assert calls["n"] == 2


def test_checkpoint_corrupt_manifest_rebuilds(spark, tmp_path):
    ck = StageCheckpoint(spark, str(tmp_path / "wd"))
    ck.run("s", "fp", lambda: spark.range(3))
    manifest = os.path.join(str(tmp_path / "wd"), "s", "MANIFEST.json")
    with open(manifest, "w") as f:
        f.write("{broken")
    assert not ck.has("s", "fp")
    df = ck.run("s", "fp", lambda: spark.range(4))
    assert df.count() == 4


def test_pipeline_resume_skips_completed_stages(spark, tmp_path):
    wd = str(tmp_path / "er")
    t = synthetic_transcripts(spark, n_turns=400, turns_per_conv=10)
    cfg = PipelineConfig(workdir=wd, run_id="r1")
    pipe = EntityResolutionPipeline(spark, cfg)
    res1 = pipe.run(t, fingerprint="input-v1")
    n1 = res1.entities.count()
    assert n1 > 0
    # all stage manifests written
    for stage in ["conversations", "mentions", "vertices", "blocking", "scoring", "edges", "clustering", "entities"]:
        mpath = os.path.join(wd, stage, "MANIFEST.json")
        assert os.path.exists(mpath), stage
        with open(mpath) as f:
            assert json.load(f)["rows"] >= 0

    # resume with the same fingerprint: stages are read back, not rebuilt —
    # poison the source to prove nothing upstream re-executes
    poisoned = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    pipe2 = EntityResolutionPipeline(spark, PipelineConfig(workdir=wd, run_id="r2"))
    res2 = pipe2.run(poisoned, fingerprint="input-v1")
    assert res2.entities.count() == n1  # checkpointed results, not the empty input

    # new fingerprint → full re-run sees the poisoned (empty) input
    pipe3 = EntityResolutionPipeline(spark, PipelineConfig(workdir=str(tmp_path / "er3")))
    res3 = pipe3.run(poisoned, fingerprint="input-v2")
    assert res3.entities.count() == 0


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("embeddings", [False, True])
def test_resolve_from_mentions_matches_run(spark, embeddings):
    """Both entry points run one chain: resolving ``run``'s own mentions
    reproduces its entities and id map, with and without the embedding
    blocking path."""
    ne = name_embeddings_df(spark) if embeddings else None
    t = synthetic_transcripts(spark, n_turns=3000)
    res = EntityResolutionPipeline(spark).run(t, name_embeddings=ne)
    sub = resolve_from_mentions(spark, res.mentions, name_embeddings=ne)
    assert _rows(res.entities)
    assert _rows(sub.entities) == _rows(res.entities)
    assert _rows(sub.id_map) == _rows(res.id_map)


def test_resolve_from_mentions_writes_lineage(spark, tmp_path):
    """The mention-level entry point gets run's lineage hooks: block
    stats and per-stage partition rows for every stage of the chain."""
    t = synthetic_transcripts(spark, n_turns=3000)
    mentions = EntityResolutionPipeline(spark).run(t).mentions
    lin = str(tmp_path / "lin")
    resolve_from_mentions(
        spark, mentions, config=PipelineConfig(lineage_dir=lin, run_id="m1")
    )
    rows = LineageWriter(spark, lin).read().collect()
    assert rows and all(r["run_id"] == "m1" for r in rows)
    blocking = {r["metric"]: r["value"] for r in rows if r["stage"] == "blocking"}
    assert blocking["n_blocks"] > 0 and blocking["max_block_size_seen"] > 0
    staged = {r["stage"] for r in rows if r["metric"] == "partition_rows"}
    assert staged == {"vertices", "blocking", "scoring", "edges", "clustering", "entities"}


def test_lineage_partition_counts_and_metrics(spark, tmp_path):
    lw = LineageWriter(spark, str(tmp_path / "lin"), run_id="t1")
    df = spark.range(100).repartition(4)
    lw.partition_counts("stage_x", df)
    lw.scalar("stage_x", "rows", 100)
    rows = lw.read().collect()
    parts = [r for r in rows if r["metric"] == "partition_rows"]
    assert sum(int(r["value"]) for r in parts) == 100
    assert len(parts) >= 2  # multiple partitions reported individually
    assert any(r["metric"] == "rows" and r["value"] == 100.0 for r in rows)
    assert all(r["run_id"] == "t1" for r in rows)


def test_pipeline_writes_lineage_with_capped_blocks(spark, tmp_path):
    wd = str(tmp_path / "er_lin")
    t = synthetic_transcripts(spark, n_turns=300, turns_per_conv=10)
    # absurdly low cap so some blocks overflow and land in lineage
    cfg = PipelineConfig(workdir=wd, max_block_size=1, run_id="rl")
    pipe = EntityResolutionPipeline(spark, cfg)
    pipe.run(t, fingerprint="lin-v1")
    lin = pipe.lineage.read()
    metrics = {r["metric"] for r in lin.collect()}
    assert "partition_rows" in metrics
    assert "capped_block" in metrics  # dropped blocks are reported, not silent


def test_crash_between_scoring_and_clustering_resumes_byte_identical(
    spark, tmp_path, monkeypatch
):
    """North-rule resumability as tested behavior: the job is killed
    after scoring completes but before clustering does; re-running with
    the same workdir+fingerprint (a) never re-executes the completed
    stages, (b) produces byte-identical entities to an uninterrupted
    run, and (c) leaves lineage rows recording exactly which stages were
    resumed from checkpoint."""
    import neuronews_spark.pipeline as P

    t = synthetic_transcripts(spark, n_turns=400, turns_per_conv=10)

    # ---- uninterrupted control run in its own workdir
    control = EntityResolutionPipeline(
        spark, PipelineConfig(workdir=str(tmp_path / "control"), run_id="c")
    ).run(t, fingerprint="v1")
    control_rows = sorted(map(tuple, control.entities.collect()))
    assert control_rows

    # ---- run 1: crash inside the clustering stage
    wd = str(tmp_path / "er")
    real_cc = P.components_for_vertices

    def boom(*a, **k):
        raise RuntimeError("injected crash before clustering")

    monkeypatch.setattr(P, "components_for_vertices", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        EntityResolutionPipeline(
            spark, PipelineConfig(workdir=wd, run_id="r1")
        ).run(t, fingerprint="v1")
    monkeypatch.setattr(P, "components_for_vertices", real_cc)

    # scoring (and everything before it) is durably checkpointed;
    # clustering/entities are not
    for stage in ["conversations", "mentions", "vertices", "blocking", "scoring", "edges"]:
        assert os.path.exists(os.path.join(wd, stage, "MANIFEST.json")), stage
    for stage in ["clustering", "entities"]:
        assert not os.path.exists(os.path.join(wd, stage, "MANIFEST.json")), stage

    # ---- run 2: same workdir — completed stages must NOT re-execute
    calls = {"n": 0}
    real_score = P.score_pairs

    def counting_score(*a, **k):
        calls["n"] += 1
        return real_score(*a, **k)

    monkeypatch.setattr(P, "score_pairs", counting_score)
    pipe2 = EntityResolutionPipeline(
        spark, PipelineConfig(workdir=wd, run_id="r2")
    )
    res2 = pipe2.run(t, fingerprint="v1")
    resumed_rows = sorted(map(tuple, res2.entities.collect()))
    assert calls["n"] == 0  # scoring came from the checkpoint
    assert resumed_rows == control_rows  # byte-identical entities

    # ---- lineage records the resume per skipped stage
    lin = pipe2.lineage.read().filter(
        (F.col("metric") == "resumed_from_checkpoint") & (F.col("run_id") == "r2")
    )
    resumed_stages = {r["stage"] for r in lin.collect()}
    assert {"conversations", "mentions", "vertices", "blocking", "scoring", "edges"} <= resumed_stages
    assert "clustering" not in resumed_stages and "entities" not in resumed_stages
