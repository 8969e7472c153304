"""Canonicalization: clusters → canonical entities, id remapping, provenance.

Distributed re-expression of the reference's backfill
(``/root/reference/src/knowledge_graph/foundation/resolution.py:229-264``):

  * every vertex gets ``entity_id`` = its cluster's canonical id
  * display name = the most complete surface form — most tokens wins
    (resolution.py:133-135, asserted by test_entity_resolution.py:37-39) —
    with a deterministic total tiebreak (token count, char length, then
    lexicographic) so election is stable across partitions
  * aliases = all surface forms of the cluster, de-duplicated
    (resolution.py:222-226 accumulates every registered surface)
  * triples are remapped to canonical ids, self-loops dropped, and
    re-asserted facts accumulate provenance with the max-confidence
    representative kept (store.py:60-87)

Canonical id = ``node_id(type, display_name)`` — the reference's
deterministic surrogate scheme (model.py:27-34) applied to the elected
display form, so ids are stable under re-runs and independent of insertion
order (unlike the reference's first-seen id, which is order-dependent; the
labeled tests assert cluster membership, not a specific id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neuronews_spark.functions.normalize import node_id
from neuronews_spark.operators.text_stats import ws_tokens


def _election_key(name_col) -> F.Column:
    """Total-order election key: (token count, char length, name)."""
    return F.struct(
        F.size(ws_tokens(name_col)).alias("n_tokens"),
        F.length(name_col).alias("n_chars"),
        name_col.alias("name"),
    )


def build_entities(vertices: DataFrame, components: DataFrame) -> DataFrame:
    """vertices(entity_type, name, norm, node_id, n_mentions [, aliases]) +
    components(node_id, component) → one row per canonical entity:

      entity_id, entity_type, name (display), aliases (sorted surface forms),
      n_surfaces, n_mentions, component (cluster root vertex id).
    """
    v = vertices.join(components, "node_id")
    alias_col = (
        F.array_distinct(F.flatten(F.collect_list("aliases")))
        if "aliases" in vertices.columns
        else F.collect_set("name")
    )
    clusters = v.groupBy("component").agg(
        F.first("entity_type").alias("entity_type"),
        F.max(_election_key(F.col("name"))).alias("_win"),
        F.array_sort(alias_col).alias("aliases"),
        F.count(F.lit(1)).alias("n_surfaces"),
        F.sum("n_mentions").alias("n_mentions"),
    )
    return clusters.select(
        node_id(F.col("entity_type"), F.col("_win.name")).alias("entity_id"),
        "entity_type",
        F.col("_win.name").alias("name"),
        "aliases",
        "n_surfaces",
        "n_mentions",
        "component",
    )


def build_id_map(components: DataFrame, entities: DataFrame) -> DataFrame:
    """(node_id → entity_id), the distributed analog of the backfill's
    ``old_id -> canonical_id`` map (resolution.py:243-248)."""
    return components.join(
        entities.select("component", "entity_id"), "component"
    ).select("node_id", "entity_id")


def remap_edges(edges: DataFrame, id_map: DataFrame) -> DataFrame:
    """Rewrite edge endpoints to canonical ids and drop self-loops
    (resolution.py:254-258). ``edges`` must have (subject, predicate,
    object); all other columns pass through."""
    sub_map = id_map.select(
        F.col("node_id").alias("subject"), F.col("entity_id").alias("_sub")
    )
    obj_map = id_map.select(
        F.col("node_id").alias("object"), F.col("entity_id").alias("_obj")
    )
    out = (
        edges.join(sub_map, "subject", "left")
        .join(obj_map, "object", "left")
        .withColumn("subject", F.coalesce("_sub", "subject"))
        .withColumn("object", F.coalesce("_obj", "object"))
        .drop("_sub", "_obj")
    )
    return out.filter(F.col("subject") != F.col("object"))


def accumulate_provenance(edges: DataFrame) -> DataFrame:
    """Collapse re-asserted facts to one row per (subject, predicate, object)
    accumulating provenance, keeping the max-confidence assertion as the
    representative (store.py:76-87). Expects provenance fields
    (source_doc, confidence, chunk_id, extractor) as flat columns."""
    prov = F.struct("source_doc", "confidence", "chunk_id", "extractor")
    return edges.groupBy("subject", "predicate", "object").agg(
        F.count(F.lit(1)).alias("n_assertions"),
        F.max_by(prov, F.col("confidence")).alias("provenance"),
        F.collect_list(prov).alias("provenances"),
    )


def mentions_to_edges(mentions: DataFrame) -> DataFrame:
    """Document→entity MENTIONS edges from mention rows
    (kg_updater.py:201-215: subject = document node, predicate=MENTIONS,
    provenance(source_doc=doc, confidence=0.8, extractor='heuristic-ner'))."""
    return mentions.select(
        node_id(F.lit("Document"), F.col("conv_id")).alias("subject"),
        F.lit("MENTIONS").alias("predicate"),
        F.col("node_id").alias("object"),
        F.col("conv_id").alias("source_doc"),
        F.col("confidence"),
        F.concat_ws("#", F.col("conv_id"), F.col("mention_idx")).alias("chunk_id"),
        F.col("extractor"),
    )


def build_mention_edges(
    mentions: DataFrame,
    id_map: DataFrame,
    confidence: float = 0.8,
    extractor: str = "heuristic-ner",
) -> DataFrame:
    """Fused ``mentions_to_edges`` → ``remap_edges`` →
    ``accumulate_provenance`` for the MENTIONS edge table (same output
    schema and semantics — valid ONLY when the mention frame's
    confidence/extractor columns are the constants passed here, as
    ``extract_mentions`` produces; callers with per-row provenance must
    use the generic three-operator path instead).

    Every provenance field is a pure function of (conv_id, mention_idx)
    plus constants, so the shuffle carries only the group keys and one int
    and the per-group struct lists are rebuilt *after* aggregation from
    the collected ints. The generic path shuffles a 4-field struct per
    mention instance and was the one pipeline stage whose list-of-struct
    aggregation did not scale with cores in a single JVM (GC/alloc-bound);
    the generic operators remain for edges with genuinely per-row
    provenance.

    The idx aggregation itself is split by group size: mentions are
    seen-set-deduped per document, so a (conv, entity) group exceeds 2
    only when ≥3 distinct surfaces of one document merge into one
    entity — measured ~0 at the 4M-turn leg and rare by construction.
    Groups of ≤2 need only (min, max), a pure codegen HashAggregate
    with two long slots; ``collect_list`` (ObjectHashAggregate: one
    heap list per group, GC-bound at millions of groups, the reason
    this stage scaled 1.18x from 2→8 cores) now runs only over rows
    semi-joined to the rare ≥3 groups. The ≤2 path reuses the groupBy
    exchange (same keys), so no extra wide shuffle is introduced."""
    obj_map = id_map.select(
        F.col("node_id").alias("_old"), F.col("entity_id").alias("_new")
    )
    slim = (
        mentions.select("conv_id", "mention_idx", F.col("node_id").alias("_old"))
        .join(obj_map, "_old", "left")
        .select(
            "conv_id",
            "mention_idx",
            F.coalesce("_new", "_old").alias("object"),
        )
    )
    base = slim.groupBy("conv_id", "object").agg(
        F.count(F.lit(1)).alias("n_assertions"),
        F.min("mention_idx").alias("_rep_idx"),
        F.max("mention_idx").alias("_max_idx"),
    )
    big_lists = (
        slim.join(
            F.broadcast(
                base.filter(F.col("n_assertions") >= 3).select(
                    "conv_id", "object"
                )
            ),
            ["conv_id", "object"],
        )
        .groupBy("conv_id", "object")
        .agg(F.sort_array(F.collect_list("mention_idx")).alias("_big_idxs"))
    )
    agg = base.join(
        F.broadcast(big_lists), ["conv_id", "object"], "left"
    ).withColumn(
        "_idxs",
        F.when(F.col("n_assertions") == 1, F.array(F.col("_rep_idx")))
        .when(
            F.col("n_assertions") == 2,
            F.array(F.col("_rep_idx"), F.col("_max_idx")),
        )
        .otherwise(F.col("_big_idxs")),
    )

    def _prov(idx):
        return F.struct(
            F.col("conv_id").alias("source_doc"),
            F.lit(confidence).alias("confidence"),
            F.concat_ws("#", F.col("conv_id"), idx.cast("string")).alias("chunk_id"),
            F.lit(extractor).alias("extractor"),
        )

    subject = node_id(F.lit("Document"), F.col("conv_id"))
    return (
        agg.filter(subject != F.col("object"))
        .select(
            subject.alias("subject"),
            F.lit("MENTIONS").alias("predicate"),
            "object",
            "n_assertions",
            _prov(F.col("_rep_idx")).alias("provenance"),
            F.transform(F.col("_idxs"), lambda i: _prov(i)).alias("provenances"),
            "conv_id",
        )
        .drop("conv_id")
    )
