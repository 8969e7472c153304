"""The three ER workloads.

Each workload makes its inputs from the seed once, then runs iterations
through the program's public entry points. ``iterate`` is the untraced
call a user makes; ``traced`` composes the same public layer calls that
entry point makes, one span per call, each span's output materialised
eagerly so the span holds the layer's work. Both return an output
fingerprint that ``check`` compares with the expected one.

Why each workload exists:

* ``er_turns`` — the full transcript pipeline: the ingest layers
  (assemble, Arrow mention extraction, MENTIONS edges) do most of the
  work, the ER core a small share. The traced run also times the lineage
  writes that ``lineage_dir`` would add.
* ``er_vocab`` — ``resolve_from_mentions`` over the labelled corpus: the
  ER core (blocking keys, self-join, Arrow scoring, components) does
  nearly all the work; no extraction, no MENTIONS edges, no lineage. It
  is the control for ``er_turns``.
* ``er_attach`` — day-2 ``attach_increment`` against a stored vocabulary,
  then the store upsert: the same similarity kernels probing a store
  instead of scoring pairs, plus a table write; it bypasses the pipeline,
  blocking and clustering.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neuronews_spark.evaluation import labeled_same_block_pairs, pairwise_scores
from neuronews_spark.functions.normalize import node_id as node_id_col
from neuronews_spark.functions.normalize import normalize_name
from neuronews_spark.functions.simtext import node_id_py, norm_py
from neuronews_spark.lineage import LineageWriter
from neuronews_spark.operators.blocking import (
    block_stats,
    build_blocks,
    candidate_pairs,
)
from neuronews_spark.operators.canonicalize import (
    build_entities,
    build_id_map,
    build_mention_edges,
)
from neuronews_spark.operators.clustering import components_for_vertices
from neuronews_spark.operators.conversations import assemble_conversations
from neuronews_spark.operators.incremental_er import attach_increment
from neuronews_spark.operators.mentions import distinct_vertices, extract_mentions
from neuronews_spark.operators.scoring import matched_edges, score_pairs
from neuronews_spark.pipeline import (
    EntityResolutionPipeline,
    PipelineConfig,
    resolve_from_mentions,
)
from neuronews_spark.sources.synthetic import (
    labeled_corpus,
    make_families,
    synthetic_transcripts,
)
from neuronews_spark.sources.tables import ParquetCatalog

MATCH_KINDS = ("exact", "person", "containment", "fuzzy", "new")

# pairwise F1 below this fails the output check. It catches a broken
# resolver without pinning a value: the ambiguous labels of the synthetic
# families cost a few false positives per seed, and at these sizes each
# one moves F1 by about 0.002 (see README.md)
F1_FLOOR = 0.95


def eager(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def entity_fingerprint(entities: DataFrame) -> dict:
    """Entity count plus two order-free hashes over every entity row."""
    h = F.xxhash64(
        "entity_id",
        "entity_type",
        "name",
        F.array_join("aliases", "\x1f"),
        "n_surfaces",
        "n_mentions",
        "component",
    )
    r = entities.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(2**31))).alias("s"),
    ).collect()[0]
    return {"entities": int(r["n"]), "entity_hash": f"{r['x'] or 0:x}.{r['s'] or 0:x}"}


def mention_edge_fingerprint(edges: DataFrame) -> dict:
    r = edges.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_assertions").alias("a")
    ).collect()[0]
    return {"mention_edges": int(r["n"]), "mention_assertions": int(r["a"] or 0)}


def blocking_counts(blocks: DataFrame, pairs: DataFrame, capped: DataFrame) -> dict:
    st = block_stats(blocks).agg(
        F.sum("block_size").alias("rows"),
        F.coalesce(F.max("block_size"), F.lit(0)).alias("max_size"),
    ).collect()[0]
    return {
        "blocking.block_rows": int(st["rows"] or 0),
        "blocking.candidate_pairs": pairs.count(),
        "blocking.capped_blocks": capped.count(),
        "blocking.max_block_size": int(st["max_size"]),
    }


def evaluate(spark, config: PipelineConfig, vertices: DataFrame, components: DataFrame,
             truth: list[tuple[str, str]]) -> tuple[dict, list[str]]:
    """Pairwise F1 of component equality against ``truth`` (node_id,
    family) over same-block labelled pairs, and the problem it shows."""
    truth_df = spark.createDataFrame(sorted(truth), "node_id string, group_id string")
    blocks = build_blocks(vertices, n_hashes=config.minhash_hashes, bands=config.minhash_bands)
    labeled = labeled_same_block_pairs(blocks, truth_df, config.max_block_size)
    sc = pairwise_scores(labeled, components)
    figures = {
        "pairwise_f1": sc["f1"],
        "evaluation.labeled_pairs": sc["n_pairs"],
        "evaluation.fp": sc["fp"],
        "evaluation.fn": sc["fn"],
    }
    problems = [] if sc["f1"] >= F1_FLOOR else [f"pairwise_f1 {sc['f1']:.4f} < {F1_FLOOR}"]
    return figures, problems


class Workload:
    name = ""
    # input rows per iteration: turns for er_turns, mentions otherwise
    rows = 0

    def before_iteration(self) -> None:
        """Untimed per-iteration preparation."""

    def iterate(self) -> dict:
        raise NotImplementedError

    def traced(self, tracer) -> tuple[dict, dict]:
        """(fingerprint, per-layer counts) of the layer-by-layer run."""
        raise NotImplementedError

    def quality(self) -> tuple[dict, list[str]]:
        """Once-per-run quality figures, outside the timed loop, and the
        problems they show."""
        return {}, []

    def check(self, fp: dict, expected: dict) -> list[str]:
        """Problems with ``fp``; empty when the output is correct."""
        return [
            f"{k}: got {fp.get(k)!r}, expected {v!r}"
            for k, v in expected.items()
            if fp.get(k) != v
        ]


class ErTurns(Workload):
    name = "er_turns"

    def __init__(self, spark: SparkSession, seed: int, workdir: str, n_turns: int, family_scale: int):
        self.spark = spark
        self.workdir = workdir
        self.rows = n_turns
        self.config = PipelineConfig()
        self.transcripts = eager(
            synthetic_transcripts(
                spark, n_turns=n_turns, turns_per_conv=20, seed=seed, family_scale=family_scale
            )
        )
        self.families = make_families(
            seed, n_person=24 * family_scale, n_org=16 * family_scale, n_concept=16 * family_scale
        )
        self._lineage_dir = os.path.join(workdir, "lineage")
        self._last = None

    def before_iteration(self) -> None:
        shutil.rmtree(self._lineage_dir, ignore_errors=True)

    def iterate(self) -> dict:
        res = EntityResolutionPipeline(self.spark, self.config).run(self.transcripts)
        self._last = res
        return {**entity_fingerprint(res.entities), **mention_edge_fingerprint(res.mention_edges)}

    def quality(self) -> tuple[dict, list[str]]:
        """Pairwise F1 against the planted families, over same-block
        labelled pairs. A vertex is labelled by the family one of its
        surface forms was planted from; vertices no family planted (none
        are expected) stay unlabelled and out of the pairs."""
        res = self._last
        by_typed, by_name = {}, {}
        for f in self.families:
            for v in f.variants:
                by_typed[(f.entity_type, v)] = f.family_id
                by_name.setdefault(v, set()).add(f.family_id)
        truth = []
        for r in res.vertices.select("node_id", "entity_type", "aliases").collect():
            fams = set()
            for a in r["aliases"]:
                if (r["entity_type"], a) in by_typed:
                    fams.add(by_typed[(r["entity_type"], a)])
                elif len(by_name.get(a, ())) == 1:
                    fams |= by_name[a]
            if len(fams) == 1:
                truth.append((r["node_id"], fams.pop()))
        return evaluate(self.spark, self.config, res.vertices, res.components, truth)

    def traced(self, tracer) -> tuple[dict, dict]:
        """``EntityResolutionPipeline.run`` call by call, then, as its own
        ``lineage`` span, every LineageWriter call that ``run`` adds when
        ``lineage_dir`` is set, on the same stage outputs."""
        cfg = self.config
        span = tracer.span
        stages = {}

        def staged(layer: str, stage: str, build) -> DataFrame:
            with span(layer) as s:
                df = stages[stage] = eager(build())
            s.rows_out = df.count()
            return df

        with span("pipeline"):
            conv = staged("conversations", "conversations",
                          lambda: assemble_conversations(self.transcripts))
            mentions = staged("mentions.extract", "mentions", lambda: extract_mentions(conv))
            vertices = staged("mentions.vertices", "vertices", lambda: distinct_vertices(mentions))
            with span("blocking.keys"):
                blocks = eager(build_blocks(vertices, n_hashes=cfg.minhash_hashes, bands=cfg.minhash_bands))
            with span("blocking.pairs"):
                pairs, capped = candidate_pairs(blocks, max_block_size=cfg.max_block_size)
                pairs = stages["blocking"] = eager(pairs)
            scored = staged("scoring", "scoring", lambda: score_pairs(pairs, cfg.scoring))
            edges = staged("scoring", "edges", lambda: matched_edges(scored))
            components = staged(
                "clustering", "clustering",
                lambda: components_for_vertices(
                    vertices.select("node_id"),
                    edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    max_iterations=cfg.max_cc_iterations,
                ),
            )
            entities = staged("canonicalize.entities", "entities",
                              lambda: build_entities(vertices, components))
            with span("canonicalize.mention_edges"):
                id_map = eager(build_id_map(components, entities))
                mention_edges = eager(build_mention_edges(mentions, id_map))

        run_id = uuid.uuid4().hex[:12]
        lw = LineageWriter(self.spark, self._lineage_dir, run_id=run_id)
        with span("lineage"):
            for stage in ("conversations", "mentions", "vertices"):
                lw.partition_counts(stage, stages[stage])
            lw.frame("blocking", capped, "capped_block", "block_key", "block_size")
            st = block_stats(blocks).agg(
                F.count(F.lit(1)).alias("n_blocks"),
                F.coalesce(F.max("block_size"), F.lit(0)).alias("max_size"),
            ).collect()[0]
            lw.scalar("blocking", "n_blocks", st["n_blocks"])
            lw.scalar("blocking", "max_block_size_seen", st["max_size"])
            for stage in ("blocking", "scoring", "edges", "clustering", "entities"):
                lw.partition_counts(stage, stages[stage])
            for nm, df in (("vertices", vertices), ("edges", edges), ("entities", entities)):
                lw.scalar(nm, "rows", df.count())

        fp = {**entity_fingerprint(entities), **mention_edge_fingerprint(mention_edges)}
        layer = {
            **blocking_counts(blocks, pairs, capped),
            "scoring.matched_edges": tracer.spans[tracer.by_name("scoring")[-1]].rows_out,
            "clustering.components": components.select("component").distinct().count(),
            "canonicalize.entities": fp["entities"],
            "canonicalize.mention_edges": fp["mention_edges"],
            "lineage.rows_written": lw.read().filter(F.col("run_id") == run_id).count(),
        }
        return fp, layer

    def check(self, fp: dict, expected: dict) -> list[str]:
        problems = super().check(fp, expected)
        if not 0 < fp["entities"] <= fp["mention_edges"]:
            problems.append(f"entities {fp['entities']} vs MENTIONS edges {fp['mention_edges']}")
        return problems


class ErVocab(Workload):
    name = "er_vocab"

    def __init__(self, spark: SparkSession, seed: int, workdir: str, family_scale: int):
        self.spark = spark
        self.config = PipelineConfig()
        mentions, families_df, fams = labeled_corpus(
            spark, seed=seed, copies=2,
            n_person=24 * family_scale, n_org=16 * family_scale, n_concept=16 * family_scale,
        )
        self.mentions = eager(mentions)
        self.rows = self.mentions.count()
        # ground truth: every labelled surface's vertex id → its family
        self.truth = list({node_id_py(f.entity_type, v): f.family_id
                           for f in fams for v in f.variants}.items())
        self._last = None

    def iterate(self) -> dict:
        res = resolve_from_mentions(self.spark, self.mentions, config=self.config)
        self._last = res
        return entity_fingerprint(res.entities)

    def traced(self, tracer) -> tuple[dict, dict]:
        """``resolve_from_mentions`` call by call."""
        cfg = self.config
        span = tracer.span
        with span("pipeline"):
            with span("mentions.vertices") as s:
                m = self.mentions.withColumn(
                    "norm", normalize_name(F.col("name"), F.col("entity_type"))
                ).filter(F.col("norm") != "")
                m = m.withColumn("node_id", node_id_col(F.col("entity_type"), F.col("name")))
                vertices = eager(distinct_vertices(m))
            s.rows_out = vertices.count()
            with span("blocking.keys"):
                blocks = eager(build_blocks(vertices, n_hashes=cfg.minhash_hashes, bands=cfg.minhash_bands))
            with span("blocking.pairs"):
                pairs, capped = candidate_pairs(blocks, max_block_size=cfg.max_block_size)
                pairs = eager(pairs)
            with span("scoring") as s:
                edges = eager(matched_edges(eager(score_pairs(pairs, cfg.scoring))))
            s.rows_out = edges.count()
            with span("clustering"):
                components = eager(components_for_vertices(
                    vertices.select("node_id"),
                    edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    max_iterations=cfg.max_cc_iterations,
                ))
            with span("canonicalize.entities"):
                entities = eager(build_entities(vertices, components))
                eager(build_id_map(components, entities))
        fp = entity_fingerprint(entities)
        layer = {
            **blocking_counts(blocks, pairs, capped),
            "scoring.matched_edges": s.rows_out,
            "clustering.components": components.select("component").distinct().count(),
            "canonicalize.entities": fp["entities"],
        }
        return fp, layer

    def quality(self) -> tuple[dict, list[str]]:
        """Pairwise F1 of component equality against the family labels, over
        same-block labelled pairs, for the last resolved iteration."""
        res = self._last
        return evaluate(self.spark, self.config, res.vertices, res.components, self.truth)


class ErAttach(Workload):
    name = "er_attach"

    # share of day-2 forms per planted perturbation; the rest stay untouched
    PLANT = (("n", 0.19), ("c", 0.06), ("f", 0.05), ("p", 0.02))

    def __init__(self, spark: SparkSession, seed: int, workdir: str, n_mentions: int, family_scale: int):
        self.spark = spark
        self.rows = n_mentions
        self.store_dir = os.path.join(workdir, "attach")
        self.base = os.path.join(workdir, "attach_base")
        rng = random.Random(seed + 7)
        fams = make_families(
            seed, n_person=24 * family_scale, n_org=16 * family_scale, n_concept=16 * family_scale
        )
        store: dict[tuple[str, str], str] = {}
        for fam in fams:
            eid = hashlib.md5(f"e:{fam.family_id}".encode()).hexdigest()
            for v in fam.variants:
                store.setdefault((fam.entity_type, norm_py(fam.entity_type, v)), eid)
        forms = [
            (i, *self._plant(rng, etype, norm), etype)
            for i, (etype, norm) in enumerate(sorted(store))
        ]
        ParquetCatalog(spark, self.base).overwrite(
            "store",
            spark.createDataFrame(
                [(e, t, n) for (t, n), e in sorted(store.items())],
                "entity_id string, entity_type string, norm string",
            ).withColumn("form_key", F.concat_ws(":", "entity_type", "norm")),
        )
        # mention instances over the day-2 forms: mention_id starts with the
        # planted kind, so the invariants can be checked from the output
        forms_df = spark.createDataFrame(
            forms, "pick long, kind string, norm string, entity_type string"
        )
        pick = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(len(forms)))
        self.mentions = eager(
            spark.range(0, n_mentions, 1, spark.sparkContext.defaultParallelism)
            .select(F.col("id").alias("mid"), pick.alias("pick"))
            .join(F.broadcast(forms_df), "pick")
            .select(
                F.concat("kind", F.lit("-"), F.col("mid").cast("string")).alias("mention_id"),
                "entity_type",
                "norm",
            )
        )
        used = {tuple(r) for r in self.mentions.select("entity_type", "norm").distinct().collect()}
        self.expected_store_rows = len(set(store) | used)

    @staticmethod
    def _plant(rng: random.Random, etype: str, norm: str) -> tuple[str, str]:
        u = rng.random()
        for kind, share in ErAttach.PLANT:
            if u < share:
                break
            u -= share
        else:
            return "x", norm
        toks = norm.split(" ")
        if kind == "n":
            word = "xq" + "".join(rng.choice("aeioubcdfg") for _ in range(6))
            return "n", f"{word} {word[::-1]}" if etype == "Person" else word
        if kind == "p" and etype == "Person" and len(toks) == 2:
            return "p", f"{toks[0][0]} {toks[1]}"
        if kind == "c" and etype != "Person":
            return "c", f"{norm} labs"
        if kind == "f" and etype != "Person" and len(norm) > 8:
            return "f", norm[:-1]
        return "x", norm

    def before_iteration(self) -> None:
        shutil.rmtree(self.store_dir, ignore_errors=True)
        shutil.copytree(self.base, self.store_dir)

    def _attach(self):
        catalog = ParquetCatalog(self.spark, self.store_dir)
        store = catalog.read("store").select("entity_id", "entity_type", "norm")
        res = eager(attach_increment(store, self.mentions))
        return catalog, res

    def _merge(self, catalog, res) -> DataFrame:
        forms = res.select(
            F.concat_ws(":", "entity_type", "norm").alias("form_key"),
            "entity_id",
            "entity_type",
            "norm",
        )
        return catalog.merge_upsert("store", forms, key="form_key")

    @staticmethod
    def _fingerprint(res: DataFrame, merged: DataFrame) -> dict:
        fp = {k: 0 for k in MATCH_KINDS}
        fp["untouched_not_exact"] = fp["novel_not_new"] = 0
        for r in res.groupBy(F.substring("mention_id", 1, 1).alias("plant"), "match_kind").count().collect():
            fp[r["match_kind"]] = fp.get(r["match_kind"], 0) + r["count"]
            if r["plant"] == "x" and r["match_kind"] != "exact":
                fp["untouched_not_exact"] += r["count"]
            if r["plant"] == "n" and r["match_kind"] != "new":
                fp["novel_not_new"] += r["count"]
        fp["store_rows"] = merged.count()
        return fp

    def iterate(self) -> dict:
        catalog, res = self._attach()
        return self._fingerprint(res, self._merge(catalog, res))

    def traced(self, tracer) -> tuple[dict, dict]:
        with tracer.span("pipeline"):
            with tracer.span("incremental_er") as s:
                catalog, res = self._attach()
            with tracer.span("tables.merge"):
                merged = self._merge(catalog, res)
        s.rows_out = res.count()
        fp = self._fingerprint(res, merged)
        layer = {f"incremental_er.{k}": fp[k] for k in MATCH_KINDS}
        layer["tables.store_rows"] = fp["store_rows"]
        return fp, layer

    def check(self, fp: dict, expected: dict) -> list[str]:
        problems = super().check(fp, expected)
        for k in ("untouched_not_exact", "novel_not_new"):
            if fp[k]:
                problems.append(f"{k}: {fp[k]} mentions")
        if fp["store_rows"] != self.expected_store_rows:
            problems.append(f"store_rows {fp['store_rows']} != {self.expected_store_rows}")
        if sum(fp[k] for k in MATCH_KINDS) != self.rows:
            problems.append(f"resolved {sum(fp[k] for k in MATCH_KINDS)} of {self.rows} mentions")
        return problems
