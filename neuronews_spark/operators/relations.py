"""Typed relationship extraction between resolved entities.

Re-expresses the reference's pattern matcher
(``/root/reference/src/knowledge_graph/enhanced_entity_extractor.py:221-256``
RELATIONSHIP_PATTERNS — 8 relation types × regex list — applied per
document at ``:599-641``): each pattern's two capture groups name a
source/target surface form, which is then resolved against the extracted
mention set; relationship confidence = min(entity confidences) × 0.9,
kept when ≥ 0.6 (``:266-271`` min_relationship_confidence).

Spark shape: the per-document regex scan runs as an Arrow-batched pandas
UDF (same measured trade-off as mention extraction — the tight Python
regex loop beats interpreted higher-order Columns); entity resolution of
the captured surfaces is a distributed equi-join of the exploded matches
against the vertex table on the resolution-normalized form (the
"relationship-pattern entity join" of SURVEY §2.3). The reference's
substring fallback in ``_find_matching_entity`` and the catch-all second
LOCATED_IN pattern (``r"(X),?\\s+(Y)"`` — matches arbitrary adjacent word
runs; its own co-occurrence path supersedes it) are intentionally
dropped: both are unbounded-recall heuristics that would turn the join
into a cross product at scale.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neuronews_spark.functions.normalize import normalize_name
from neuronews_spark.operators.text_stats import ws_tokens

# enhanced_entity_extractor.py:221-256 (minus the LOCATED_IN catch-all)
RELATIONSHIP_PATTERNS: dict[str, list[str]] = {
    "WORKS_FOR": [
        r"(\w+(?:\s+\w+)*)\s+(?:works?\s+(?:for|at)|is\s+employed\s+by|joins|joined)\s+(\w+(?:\s+\w+)*)",
        r"(\w+(?:\s+\w+)*),?\s+(?:CEO|CTO|president|director|manager|employee)\s+(?:of|at)\s+(\w+(?:\s+\w+)*)",
        r"(\w+(?:\s+\w+)*)\s+(?:leads|headed|managing)\s+(\w+(?:\s+\w+)*)",
    ],
    "PARTNERS_WITH": [
        r"(\w+(?:\s+\w+)*)\s+(?:partners?\s+with|collaborates?\s+with|teams?\s+up\s+with)\s+(\w+(?:\s+\w+)*)",
        r"(\w+(?:\s+\w+)*)\s+(?:and|&)\s+(\w+(?:\s+\w+)*)\s+(?:partnership|collaboration|alliance)",
    ],
    "COMPETES_WITH": [
        r"(\w+(?:\s+\w+)*)\s+(?:competes?\s+with|rivals?|challenges?)\s+(\w+(?:\s+\w+)*)",
        r"(\w+(?:\s+\w+)*)\s+(?:vs\.?|versus)\s+(\w+(?:\s+\w+)*)",
    ],
    "ACQUIRED_BY": [
        r"(\w+(?:\s+\w+)*)\s+(?:acquired|bought|purchased)\s+(?:by\s+)?(\w+(?:\s+\w+)*)",
        r"(\w+(?:\s+\w+)*)\s+(?:acquisition|buyout|purchase)\s+(?:by\s+)?(\w+(?:\s+\w+)*)",
    ],
    "DEVELOPS": [
        r"(\w+(?:\s+\w+)*)\s+(?:develops?|creates?|builds?|designs?)\s+(\w+(?:\s+\w+)*)",
        r"(\w+(?:\s+\w+)*)\s+(?:is\s+developing|has\s+developed|will\s+develop)\s+(\w+(?:\s+\w+)*)",
    ],
    "USES_TECHNOLOGY": [
        r"(\w+(?:\s+\w+)*)\s+(?:uses?|utilizes?|implements?|adopts?)\s+(\w+(?:\s+\w+)*)",
        r"(\w+(?:\s+\w+)*)\s+(?:powered\s+by|based\s+on|built\s+with)\s+(\w+(?:\s+\w+)*)",
    ],
    "REGULATES": [
        r"(\w+(?:\s+\w+)*)\s+(?:regulates?|governs?|oversees?)\s+(\w+(?:\s+\w+)*)",
        r"(\w+(?:\s+\w+)*)\s+(?:is\s+regulated\s+by|under\s+the\s+jurisdiction\s+of)\s+(\w+(?:\s+\w+)*)",
    ],
    "LOCATED_IN": [
        r"(\w+(?:\s+\w+)*)\s+(?:(?:is\s+)?(?:located|based|headquartered)\s+in)\s+(\w+(?:\s+\w+)*)",
    ],
}

# Every pattern is <SURFACE>...core...<SURFACE>: a greedy word-run
# capture on each side of a literal middle. finditer on such a pattern
# is O(tokens²) on a NON-matching document (each start position greedily
# consumes to end-of-text, then backtracks word-by-word hunting for the
# middle), which makes the scan quadratic on exactly the common case.
# The middle alone is a linear-time regex and a NECESSARY condition of
# any full match, so each pattern carries its core as a prefilter: docs
# without the trigger are skipped without entering the quadratic path.
_SURFACE = r"(\w+(?:\s+\w+)*)"


def _pattern_core(p: str) -> str:
    """The literal middle between the two surface captures (a full match
    always contains a core match, so the core is a lossless prefilter).
    Asserts the table shape so an edited pattern that breaks the
    derivation fails at import, not by silently re-enabling the
    quadratic scan."""
    if p.count(_SURFACE) != 2:
        raise ValueError(f"relationship pattern without surface captures: {p}")
    start = p.index(_SURFACE) + len(_SURFACE)
    end = p.rindex(_SURFACE)
    core = p[start:end]
    if not core:
        raise ValueError(f"relationship pattern with empty core: {p}")
    return core


_COMPILED = [
    (rtype, re.compile(p, re.IGNORECASE),
     re.compile(_pattern_core(p), re.IGNORECASE))
    for rtype, patterns in RELATIONSHIP_PATTERNS.items()
    for p in patterns
]

# the greedy "\w+(\s+\w+)*" capture groups swallow whole clauses (group 1
# extends left, group 2 right); the reference recovers entities from them
# with per-pair substring matching (enhanced_entity_extractor.py:750-764),
# which a distributed join cannot afford. Join-friendly equivalent: the
# source entity is a token SUFFIX of group 1 and the target a token PREFIX
# of group 2 (entity surfaces are word-boundary-aligned), so each side
# emits its ≤_MAX_SURFACE_TOKENS candidates and the vertex join keeps the
# ones naming real entities.
_MAX_SURFACE_TOKENS = 4

_REL_SCHEMA = T.StructType(
    [
        T.StructField("rel_types", T.ArrayType(T.StringType())),
        T.StructField("sources", T.ArrayType(T.StringType())),
        T.StructField("targets", T.ArrayType(T.StringType())),
        T.StructField("contexts", T.ArrayType(T.StringType())),
    ]
)


def extract_relation_candidates_py(text: str) -> list[tuple[str, str, str, str]]:
    """(relation_type, source_surface, target_surface, context) tuples —
    the per-document kernel (enhanced_entity_extractor.py:599-625)."""
    out: list[tuple[str, str, str, str]] = []
    if not text:
        return out
    for rtype, rx, trigger in _COMPILED:
        if trigger.search(text) is None:
            continue
        for m in rx.finditer(text):
            src = m.group(1).strip()
            dst = m.group(2).strip()
            if src and dst:
                out.append((rtype, src, dst, m.group(0)))
    return out


@F.pandas_udf(_REL_SCHEMA)
def _relations_udf(texts: pd.Series) -> pd.DataFrame:
    cols: dict[str, list[list[str]]] = {k: [] for k in ("rel_types", "sources", "targets", "contexts")}
    for t in texts:
        cands = extract_relation_candidates_py(t)
        cols["rel_types"].append([c[0] for c in cands])
        cols["sources"].append([c[1] for c in cands])
        cols["targets"].append([c[2] for c in cands])
        cols["contexts"].append([c[3] for c in cands])
    return pd.DataFrame(cols)


def extract_relations(
    conversations: DataFrame,
    vertices: DataFrame,
    text_col: str = "doc_text",
    min_confidence: float = 0.6,
    mention_confidence: float = 0.8,
) -> DataFrame:
    """Typed entity-to-entity relations per conversation:
    (conv_id, relation_type, src_node_id, dst_node_id, src_name, dst_name,
    confidence, context).

    Captured surfaces resolve to entities by equi-joining their
    resolution-normalized form against the vertex ``norm`` (both sides of
    the join are broadcast-friendly: vertices is the distinct-surface
    table). Self-relations are dropped; confidence =
    min(mention confidences) × 0.9 filtered at ``min_confidence``.
    """
    raw = conversations.select(
        "conv_id", _relations_udf(F.col(text_col)).alias("r")
    )
    cand = raw.select(
        "conv_id",
        F.explode(
            F.arrays_zip(
                F.col("r.rel_types"), F.col("r.sources"),
                F.col("r.targets"), F.col("r.contexts"),
            )
        ).alias("z"),
    ).select(
        "conv_id",
        F.col("z.rel_types").alias("relation_type"),
        F.col("z.sources").alias("src_surface"),
        F.col("z.targets").alias("dst_surface"),
        F.col("z.contexts").alias("context"),
    )

    src_toks, dst_toks = ws_tokens(F.col("src_surface")), ws_tokens(F.col("dst_surface"))
    k = F.sequence(F.lit(1), F.lit(_MAX_SURFACE_TOKENS))

    def _norms(surface_arr):
        # each candidate surface joins under BOTH normal forms: the plain
        # resolution norm and the org-suffix-stripped variant. Vertex norms
        # are type-conditional (Organization names drop legal suffixes), and
        # a candidate's type is unknown before the join — emitting both
        # forms keeps 'Acme Corp' joinable to the Organization vertex whose
        # norm is 'acme' (round-1 review: suffixed-org relations were
        # silently dropped otherwise).
        plain = F.transform(surface_arr, lambda s: normalize_name(s))
        stripped = F.transform(
            surface_arr,
            lambda s: normalize_name(s, entity_type=F.lit("Organization")),
        )
        return F.array_distinct(
            F.filter(F.concat(plain, stripped), lambda s: s != F.lit(""))
        )

    src_cands = F.array_distinct(F.filter(
        F.transform(k, lambda i: F.array_join(
            F.slice(src_toks, F.greatest(F.size(src_toks) - i + 1, F.lit(1)), i), " ")),
        lambda s: s != F.lit(""),
    ))
    dst_cands = F.array_distinct(F.filter(
        F.transform(k, lambda i: F.array_join(F.slice(dst_toks, 1, i), " ")),
        lambda s: s != F.lit(""),
    ))
    cand = (
        cand.withColumn("src_norm", F.explode(_norms(src_cands)))
        .withColumn("dst_norm", F.explode(_norms(dst_cands)))
        .select("conv_id", "relation_type", "context", "src_norm", "dst_norm")
    )
    vconf = (
        F.col("confidence")
        if "confidence" in vertices.columns
        else F.lit(mention_confidence)
    )
    # one vertex per norm, elected DETERMINISTICALLY (max confidence,
    # then min node_id): suffix-stripped org norms genuinely collide
    # ('lebesis inc' / 'lebesis corp' → 'lebesis'), and a
    # dropDuplicates(norm) there picks a partition-order-dependent
    # winner — two runs of the same job could emit different edge
    # endpoints. row_number is one window over the tiny vertex table.
    _vw = Window.partitionBy("_vnorm").orderBy(
        F.col("_vconf").desc(), F.col("_vid").asc()
    )
    v = (
        vertices.select(
            F.col("norm").alias("_vnorm"),
            F.col("node_id").alias("_vid"),
            F.col("name").alias("_vname"),
            vconf.alias("_vconf"),
        )
        .withColumn("_vrn", F.row_number().over(_vw))
        .filter(F.col("_vrn") == 1)
        .drop("_vrn")
    )
    # rel confidence = min(src, dst entity confidence) × 0.9
    # (enhanced_entity_extractor.py:676-681) — the per-entity confidences
    # come through the vertex join, not a constant fold
    conf = F.round(F.least(F.col("_src_conf"), F.col("_dst_conf")) * 0.9, 6)
    out = (
        cand.join(v.withColumnRenamed("_vnorm", "src_norm"), "src_norm")
        .withColumnRenamed("_vid", "src_node_id")
        .withColumnRenamed("_vname", "src_name")
        .withColumnRenamed("_vconf", "_src_conf")
        .join(v.withColumnRenamed("_vnorm", "dst_norm"), "dst_norm")
        .withColumnRenamed("_vid", "dst_node_id")
        .withColumnRenamed("_vname", "dst_name")
        .withColumnRenamed("_vconf", "_dst_conf")
        .filter(F.col("src_node_id") != F.col("dst_node_id"))
        .select(
            "conv_id", "relation_type", "src_node_id", "dst_node_id",
            "src_name", "dst_name", conf.alias("confidence"), "context",
        )
        .dropDuplicates(
            ["conv_id", "relation_type", "src_node_id", "dst_node_id", "context"]
        )
    )
    return out.filter(F.col("confidence") >= min_confidence)
