"""End-to-end entity-resolution pipeline over transcript tables.

    transcripts ─ assemble ─ mentions ─ vertices ─ blocking ─ pairs
                                                      │
                 entities ◄─ clustering ◄─ scoring ◄──┘
                     │
               id_map / MENTIONS edges / provenance / lineage

Each stage is declared with the DataFrame API (Catalyst plans the physical
execution; AQE coalesces partitions and splits skewed joins at runtime) and
optionally checkpointed to parquet for resume (north rule). The two pandas
UDF stages (mention extraction, pair scoring) are Arrow-batched.

The chain from vertices to the id-map exists once, in
``EntityResolutionPipeline._resolve``. Both entry points run it, with its
stage checkpoints and lineage hooks: ``EntityResolutionPipeline.run``
(transcripts → assemble → mentions → chain → MENTIONS edges) and
``resolve_from_mentions`` (typed mentions → chain).

Shuffle inventory at 10^12-turn scale — every wide op is keyed:
  assemble    1 shuffle on conv_id (partial agg map-side)
  vertices    1 shuffle on node_id (distinct surfaces ≪ mention instances)
  blocking    explode (narrow) + 1 shuffle on block_key for the self-join
  pair dedup  1 shuffle on (id_a, id_b)
  clustering  O(log n) shuffles on vertex id (component edges only —
              matched pairs, a tiny fraction of candidates)
  entities    1 shuffle on component
Broadcasts: capped-block keys, embedding dimension table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neuronews_spark.checkpoint import StageCheckpoint
from neuronews_spark.lineage import LineageWriter
from neuronews_spark.operators.blocking import (
    block_stats,
    build_blocks,
    candidate_pairs,
    embedding_blocks,
)
from neuronews_spark.operators.canonicalize import (
    build_entities,
    build_id_map,
    build_mention_edges,
)
from neuronews_spark.operators.clustering import components_for_vertices
from neuronews_spark.operators.conversations import assemble_conversations
from neuronews_spark.operators.mentions import distinct_vertices, extract_mentions
from neuronews_spark.operators.scoring import (
    ScoringConfig,
    matched_edges,
    score_embedding_pairs,
    score_pairs,
)


@dataclass
class PipelineConfig:
    max_block_size: int = 1000
    minhash_hashes: int = 16
    minhash_bands: int = 4
    scoring: ScoringConfig = field(default_factory=ScoringConfig)
    max_cc_iterations: int = 30
    workdir: str | None = None  # enables stage checkpoints + lineage
    lineage_dir: str | None = None  # lineage/metrics only, no stage parquet
    run_id: str | None = None


@dataclass
class ResolutionResult:
    vertices: DataFrame
    pairs: DataFrame
    scored: DataFrame
    edges: DataFrame
    components: DataFrame
    entities: DataFrame
    id_map: DataFrame


@dataclass
class PipelineResult(ResolutionResult):
    conversations: DataFrame
    mentions: DataFrame
    mention_edges: DataFrame


class EntityResolutionPipeline:
    """blocking + pairwise scoring + transitive clustering (north rule)."""

    def __init__(self, spark: SparkSession, config: PipelineConfig | None = None):
        self.spark = spark
        self.config = config or PipelineConfig()
        self.ckpt: StageCheckpoint | None = None
        self.lineage: LineageWriter | None = None
        if self.config.workdir:
            self.ckpt = StageCheckpoint(spark, self.config.workdir)
            self.lineage = LineageWriter(
                spark,
                os.path.join(self.config.workdir, "lineage"),
                run_id=self.config.run_id,
            )
        elif self.config.lineage_dir:
            # observability without the stage-checkpoint IO — the mode a
            # monitored-but-not-resumable production run uses
            self.lineage = LineageWriter(
                spark, self.config.lineage_dir, run_id=self.config.run_id
            )

    # -- stage helpers ----------------------------------------------------

    def _stage(self, name: str, fingerprint: str, build, persist: bool = True) -> DataFrame:
        resumed = False
        if self.ckpt is not None:
            # recorded BEFORE run(): a crash-resumed job emits one lineage
            # row per stage it skipped, so the resume is auditable from
            # the lineage table alone (north rule: per-partition lineage +
            # metrics with checkpoint resumability)
            resumed = self.ckpt.has(name, fingerprint)
            df = self.ckpt.run(name, fingerprint, build)
        else:
            # Stages that fan out to ≥2 consumers are pinned so the
            # pandas-UDF stages (extraction, scoring) run exactly once.
            # localCheckpoint(eager=False), not persist(): persist keeps
            # the DATA but every downstream action still re-plans the
            # full logical DAG — event-log profiling of the 1M-turn leg
            # showed 102 jobs (70 AQE broadcast/subquery sub-jobs), with
            # 4-6 s of driver-serial planning gaps preceding them, i.e.
            # most of the measured 0.88 idle factor at 8 cores.  The
            # lazy local checkpoint truncates the logical plan at the
            # stage boundary once the stage first materializes: measured
            # 19.8→14.4 s and 16.7→12.2 s on back-to-back 8-core 1M
            # legs (~25%), with the constant-cost saving helping the
            # bigger-core leg relatively more (scaling efficiency ↑).
            # Cluster note: localCheckpoint blocks are executor-local
            # (lost executor ⇒ job restart); the workdir mode's parquet
            # stage checkpoints are the fault-tolerant variant.
            # ``persist=False`` marks single-consumer stages: pinning the
            # wide 10^6-row pair/score frames only to read them once cost
            # more than recomputing nothing (one extra memory copy per leg)
            df = build()
            if persist:
                df = df.localCheckpoint(eager=False)
        if self.lineage is not None:
            if resumed:
                self.lineage.scalar(name, "resumed_from_checkpoint", 1.0)
            self.lineage.partition_counts(name, df)
        return df

    def _fingerprint(self, fingerprint: str) -> str:
        cfg = self.config
        return f"{fingerprint}|mb={cfg.max_block_size}|mh={cfg.minhash_hashes}x{cfg.minhash_bands}|rt={cfg.scoring.ratio_threshold}|et={cfg.scoring.embedding_threshold}"

    def _resolve(
        self, mentions: DataFrame, name_embeddings: DataFrame | None, fp: str
    ) -> ResolutionResult:
        """vertices → blocking → scoring → edges → clustering → entities →
        id-map: the stage chain both entry points share."""
        cfg = self.config
        vertices = self._stage(
            "vertices", fp, lambda: distinct_vertices(mentions)
        )

        def _build_pairs() -> DataFrame:
            blocks = build_blocks(
                vertices,
                n_hashes=cfg.minhash_hashes,
                bands=cfg.minhash_bands,
            )
            if name_embeddings is not None:
                blocks = blocks.unionByName(
                    embedding_blocks(vertices, name_embeddings)
                )
            pairs, capped = candidate_pairs(blocks, max_block_size=cfg.max_block_size)
            if self.lineage is not None:
                self.lineage.frame(
                    "blocking", capped, "capped_block", "block_key", "block_size"
                )
                # block-population totals → cap hit-rate is computable from
                # lineage alone (this aggregate re-derives the block keys,
                # Column math over the pinned vertices stage)
                st = block_stats(blocks).agg(
                    F.count(F.lit(1)).alias("n_blocks"),
                    # coalesce: max over an EMPTY block table (empty input)
                    # is null, and lineage values are doubles
                    F.coalesce(F.max("block_size"), F.lit(0)).alias("max_size"),
                ).collect()[0]
                self.lineage.scalar("blocking", "n_blocks", st["n_blocks"])
                self.lineage.scalar(
                    "blocking", "max_block_size_seen", st["max_size"]
                )
            return pairs

        # with no embedding path and no lineage, pairs/scored each have
        # exactly one downstream consumer — let them stream through
        multi_consumer = name_embeddings is not None or self.lineage is not None
        pairs = self._stage("blocking", fp, _build_pairs, persist=multi_consumer)

        def _build_scored() -> DataFrame:
            return score_pairs(pairs, cfg.scoring)

        scored = self._stage("scoring", fp, _build_scored, persist=multi_consumer)

        def _build_edges() -> DataFrame:
            edges = matched_edges(scored)
            if name_embeddings is not None:
                emb_edges = score_embedding_pairs(
                    scored.filter(~F.col("matched")), name_embeddings, cfg.scoring
                )
                edges = edges.unionByName(emb_edges)
            return edges

        edges = self._stage("edges", fp, _build_edges)

        cc_cb = None
        if self.ckpt is not None:
            ck = self.ckpt

            def cc_cb(it: int, e: DataFrame) -> DataFrame:  # noqa: F811
                # resume-aware: a crashed clustering run restarts from the
                # last completed CC round instead of round 0
                name = f"cc_iter_{it:03d}"
                if ck.has(name, fp):
                    return ck.read(name)
                return ck.write(name, e, fp)

        components = self._stage(
            "clustering",
            fp,
            lambda: components_for_vertices(
                vertices.select("node_id"),
                edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                max_iterations=cfg.max_cc_iterations,
                checkpoint_cb=cc_cb,
            ),
        )
        entities = self._stage(
            "entities", fp, lambda: build_entities(vertices, components)
        )
        # tiny (one row per distinct surface form); eagerly pinned so the
        # MENTIONS-edge plan starts from a materialized leaf instead of
        # dragging the full upstream DAG into planning (~500 exchanges),
        # and so AQE sees its true size and broadcasts it
        id_map = build_id_map(components, entities).localCheckpoint(eager=True)

        if self.lineage is not None:
            for nm, df in (
                ("vertices", vertices),
                ("edges", edges),
                ("entities", entities),
            ):
                self.lineage.scalar(nm, "rows", df.count())

        return ResolutionResult(
            vertices=vertices,
            pairs=pairs,
            scored=scored,
            edges=edges,
            components=components,
            entities=entities,
            id_map=id_map,
        )

    # -- public API --------------------------------------------------------

    def run(
        self,
        transcripts: DataFrame,
        name_embeddings: DataFrame | None = None,
        fingerprint: str = "",
    ) -> PipelineResult:
        """Execute the full pipeline. ``fingerprint`` identifies the input
        (e.g. its path + snapshot); stages re-use checkpoints when it is
        unchanged."""
        fp = self._fingerprint(fingerprint)
        conversations = self._stage(
            "conversations", fp, lambda: assemble_conversations(transcripts)
        )
        mentions = self._stage(
            "mentions", fp, lambda: extract_mentions(conversations)
        )
        res = self._resolve(mentions, name_embeddings, fp)
        return PipelineResult(
            **vars(res),
            conversations=conversations,
            mentions=mentions,
            mention_edges=build_mention_edges(mentions, res.id_map),
        )


def resolve_from_mentions(
    spark: SparkSession,
    mentions: DataFrame,
    name_embeddings: DataFrame | None = None,
    config: PipelineConfig | None = None,
) -> ResolutionResult:
    """Resolution sub-pipeline entered at the typed-mention level —
    mentions(conv_id, mention_idx, name, entity_type) — the level the
    reference's resolver API and its labeled tests operate at
    (test_entity_resolution.py drives ``EntityResolver.resolve`` directly).

    Adds norm/node_id if missing, then runs the same stage chain as
    ``EntityResolutionPipeline.run``, with its checkpoint and lineage hooks.
    Its stage checkpoints carry no input fingerprint, so a ``workdir``
    resumes whatever mentions it last resolved: use one per input.
    """
    from neuronews_spark.functions.normalize import node_id as node_id_col
    from neuronews_spark.functions.normalize import normalize_name

    m = mentions
    if "norm" not in m.columns:
        m = m.withColumn("norm", normalize_name(F.col("name"), F.col("entity_type")))
    m = m.filter(F.col("norm") != "")
    if "node_id" not in m.columns:
        m = m.withColumn("node_id", node_id_col(F.col("entity_type"), F.col("name")))
    pipe = EntityResolutionPipeline(spark, config)
    return pipe._resolve(m, name_embeddings, pipe._fingerprint(""))
