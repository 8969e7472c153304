"""User-driven entity corrections workflow.

Re-creates the reference's correction system
(``/root/reference/src/knowledge_graph/entity_corrections.py``, behavior
specified by ``tests/knowledge_graph/test_entity_corrections.py`` — 357
lines of scenarios): submissions with per-entity monotonic versions and
payload validation, admin approve/reject with double-review errors, and
six correction types (rename, add_alias, remove_alias, add_property,
remove_property, merge) applied to the knowledge graph.

Spark-first split: the *control plane* (submit/review bookkeeping) is a
small driver-side log — corrections are a human-scale stream, thousands
at most — while *application* is fully distributed: the approved log
consolidates into four tiny broadcast artifacts (rename map, alias
add/remove lists, property upserts/removals, merge id_map) and one pass
of joins applies them to arbitrarily large ``nodes``/``edges`` tables.
Merge follows the reference's merge semantics (``entity_corrections.py:
298-353``): absorb source aliases + name into the target, target wins
property conflicts, rewrite edges dropping would-be self-loops, remove
the source node.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CORRECTION_TYPES = (
    "rename", "add_alias", "remove_alias",
    "add_property", "remove_property", "merge",
)

_REQUIRED_KEYS = {
    "rename": ["new_name"],
    "add_alias": ["alias"],
    "remove_alias": ["alias"],
    "add_property": ["key", "value"],
    "remove_property": ["key"],
    "merge": ["merge_from"],
}

PENDING, APPROVED, REJECTED = "pending", "approved", "rejected"


@dataclass
class Correction:
    correction_id: str
    entity_id: str
    correction_type: str
    payload: dict[str, str]
    reason: str
    submitted_by: str
    version: int
    status: str = PENDING
    reviewed_by: str | None = None
    review_note: str | None = None
    seq: int = 0  # global submission order — the deterministic apply order

    def to_dict(self) -> dict:
        return {
            "correction_id": self.correction_id,
            "entity_id": self.entity_id,
            "correction_type": self.correction_type,
            "payload": dict(self.payload),
            "reason": self.reason,
            "submitted_by": self.submitted_by,
            "version": self.version,
            "status": self.status,
            "reviewed_by": self.reviewed_by,
            "review_note": self.review_note,
        }


@dataclass
class CorrectionLog:
    """Driver-side submission/review log (entity_corrections.py:97-212
    semantics, minus the process singleton — callers own instances)."""

    _corrections: dict[str, Correction] = field(default_factory=dict)
    _entity_version: dict[str, int] = field(default_factory=dict)
    _seq: itertools.count = field(default_factory=itertools.count)

    def submit(
        self,
        entity_id: str,
        correction_type: str,
        payload: dict[str, str],
        reason: str = "",
        submitted_by: str = "",
    ) -> Correction:
        if correction_type not in CORRECTION_TYPES:
            raise ValueError(f"Unknown correction type {correction_type!r}")
        required = _REQUIRED_KEYS[correction_type]
        missing = [k for k in required if k not in payload]
        if missing:
            raise ValueError(
                f"Correction type {correction_type!r} requires payload keys: "
                f"{required}; missing: {missing}"
            )
        self._entity_version[entity_id] = self._entity_version.get(entity_id, 0) + 1
        seq = next(self._seq)
        c = Correction(
            correction_id=f"corr-{seq:08d}",
            entity_id=entity_id,
            correction_type=correction_type,
            payload=dict(payload),
            reason=reason,
            submitted_by=submitted_by,
            version=self._entity_version[entity_id],
            seq=seq,
        )
        self._corrections[c.correction_id] = c
        return c

    def _get_or_raise(self, correction_id: str) -> Correction:
        c = self._corrections.get(correction_id)
        if c is None:
            raise KeyError(f"Correction {correction_id!r} not found")
        return c

    def approve(
        self, correction_id: str, reviewed_by: str, review_note: str | None = None
    ) -> Correction:
        c = self._get_or_raise(correction_id)
        if c.status != PENDING:
            raise ValueError(f"Correction {correction_id!r} is already {c.status}")
        c.status, c.reviewed_by, c.review_note = APPROVED, reviewed_by, review_note
        return c

    def reject(
        self, correction_id: str, reviewed_by: str, review_note: str | None = None
    ) -> Correction:
        c = self._get_or_raise(correction_id)
        if c.status != PENDING:
            raise ValueError(f"Correction {correction_id!r} is already {c.status}")
        c.status, c.reviewed_by, c.review_note = REJECTED, reviewed_by, review_note
        return c

    def list_corrections(
        self,
        entity_id: str | None = None,
        status: str | None = None,
        limit: int = 50,
    ) -> list[Correction]:
        out = list(self._corrections.values())
        if entity_id is not None:
            out = [c for c in out if c.entity_id == entity_id]
        if status is not None:
            out = [c for c in out if c.status == status]
        out.sort(key=lambda c: c.seq, reverse=True)  # newest first
        return out[:limit]

    def get(self, correction_id: str) -> Correction | None:
        return self._corrections.get(correction_id)

    def approved(self) -> list[Correction]:
        """Approved corrections in submission order — the apply order."""
        return sorted(
            (c for c in self._corrections.values() if c.status == APPROVED),
            key=lambda c: c.seq,
        )

    def to_df(self, spark) -> DataFrame:
        """The audit-table form of the log (persistable next to lineage)."""
        rows = [
            (
                c.correction_id, c.entity_id, c.correction_type,
                c.payload, c.reason, c.submitted_by, c.version, c.status,
                c.reviewed_by, c.review_note, c.seq,
            )
            for c in sorted(self._corrections.values(), key=lambda c: c.seq)
        ]
        return spark.createDataFrame(
            rows,
            "correction_id string, entity_id string, correction_type string,"
            "payload map<string,string>, reason string, submitted_by string,"
            "version int, status string, reviewed_by string, review_note string,"
            "seq long",
        )


def _consolidate(approved: list[Correction]):
    """Fold the approved stream (in order) into its net effect: the last
    write wins per (entity, field), exactly what replaying the stream
    against a mutable store yields."""
    renames: dict[str, str] = {}
    alias_state: dict[tuple[str, str], bool] = {}  # (entity, alias) -> present
    prop_state: dict[tuple[str, str], str | None] = {}  # (entity, key) -> value|None
    merges: list[tuple[str, str]] = []  # (target, source) in order
    for c in approved:
        e, p = c.entity_id, c.payload
        if c.correction_type == "rename":
            renames[e] = p["new_name"]
        elif c.correction_type == "add_alias":
            alias_state[(e, p["alias"])] = True
        elif c.correction_type == "remove_alias":
            alias_state[(e, p["alias"])] = False
        elif c.correction_type == "add_property":
            prop_state[(e, p["key"])] = p["value"]
        elif c.correction_type == "remove_property":
            prop_state[(e, p["key"])] = None
        elif c.correction_type == "merge":
            merges.append((e, p["merge_from"]))
    return renames, alias_state, prop_state, merges


def _merge_id_map(merges: list[tuple[str, str]]) -> dict[str, str]:
    """source → final target under chained merges (A←B then C←A ⇒ B→C)."""
    final: dict[str, str] = {}
    for target, source in merges:
        target = final.get(target, target)
        # redirect anything already pointing at source
        for k, v in list(final.items()):
            if v == source:
                final[k] = target
        final[source] = target
    return final


def apply_corrections(
    nodes: DataFrame,
    log: CorrectionLog,
    edges: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Apply every APPROVED correction to ``nodes(node_id, name, aliases,
    properties)`` (aliases ``array<string>``, properties
    ``map<string,string>``) and optionally ``edges(subject, predicate,
    object, ...)``.

    Returns (nodes', edges'). The correction artifacts are broadcast; the
    node/edge tables are never collected — scale-safe for tables of any
    size.

    Ordering contract (PHASE semantics, deterministic and order-free for
    a distributed batch apply): field corrections (rename / alias /
    property) apply first in submission order with last-write-wins per
    (entity, field), each keyed to the entity id it was SUBMITTED
    against; merges apply last, chained to their final targets. This
    matches the reference's immediate-apply-on-approve for every
    scenario its behavioral suite exercises (no scenario interleaves
    field ops with merges of the same entities); for streams that DO
    interleave, the divergence is that a field op submitted against an
    already-merged-away id updates that source's state (which the merge
    then absorbs — e.g. a late rename surfaces as a target alias) rather
    than mutating the merge target directly."""
    spark = nodes.sparkSession
    renames, alias_state, prop_state, merges = _consolidate(log.approved())
    id_map = _merge_id_map(merges)

    out = nodes
    if renames:
        r = F.broadcast(
            spark.createDataFrame(
                list(renames.items()), "node_id string, _new_name string"
            )
        )
        out = (
            out.join(r, "node_id", "left")
            .withColumn("name", F.coalesce("_new_name", "name"))
            .drop("_new_name")
        )
    adds = [(e, a) for (e, a), present in alias_state.items() if present]
    removes = [(e, a) for (e, a), present in alias_state.items() if not present]
    if adds:
        a = F.broadcast(
            spark.createDataFrame(adds, "node_id string, _alias string")
            .groupBy("node_id")
            .agg(F.collect_set("_alias").alias("_adds"))
        )
        out = (
            out.join(a, "node_id", "left")
            .withColumn(
                "aliases",
                F.when(
                    F.col("_adds").isNotNull(),
                    F.array_union("aliases", "_adds"),
                ).otherwise(F.col("aliases")),
            )
            .drop("_adds")
        )
    if removes:
        rm = F.broadcast(
            spark.createDataFrame(removes, "node_id string, _alias string")
            .groupBy("node_id")
            .agg(F.collect_set("_alias").alias("_rms"))
        )
        out = (
            out.join(rm, "node_id", "left")
            .withColumn(
                "aliases",
                F.when(
                    F.col("_rms").isNotNull(),
                    F.array_except("aliases", "_rms"),
                ).otherwise(F.col("aliases")),
            )
            .drop("_rms")
        )
    upserts = [(e, k, v) for (e, k), v in prop_state.items() if v is not None]
    drops = [(e, k) for (e, k), v in prop_state.items() if v is None]
    if upserts:
        u = F.broadcast(
            spark.createDataFrame(upserts, "node_id string, _k string, _v string")
            .groupBy("node_id")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("_k"), F.col("_v")))
                ).alias("_ups")
            )
        )
        out = (
            out.join(u, "node_id", "left")
            .withColumn(
                "properties",
                F.when(
                    F.col("_ups").isNotNull(),
                    # upsert wins: existing entries not in _ups survive
                    F.map_concat(
                        F.map_filter(
                            "properties", lambda k, _: ~F.array_contains(F.map_keys("_ups"), k)
                        ),
                        "_ups",
                    ),
                ).otherwise(F.col("properties")),
            )
            .drop("_ups")
        )
    if drops:
        d = F.broadcast(
            spark.createDataFrame(drops, "node_id string, _k string")
            .groupBy("node_id")
            .agg(F.collect_set("_k").alias("_drops"))
        )
        out = (
            out.join(d, "node_id", "left")
            .withColumn(
                "properties",
                F.when(
                    F.col("_drops").isNotNull(),
                    F.map_filter(
                        "properties", lambda k, _: ~F.array_contains("_drops", k)
                    ),
                ).otherwise(F.col("properties")),
            )
            .drop("_drops")
        )

    edges_out = edges
    if id_map:
        m = F.broadcast(
            spark.createDataFrame(
                list(id_map.items()), "_src_id string, _dst_id string"
            )
        )
        # absorb each source's (post-correction) name/aliases/properties
        # into its target: one groupBy over the affected rows only
        mapped = out.join(m, out["node_id"] == m["_src_id"], "left").withColumn(
            "_final", F.coalesce("_dst_id", "node_id")
        )
        mapped = mapped.withColumn("_is_src", F.col("_src_id").isNotNull())
        base = (
            mapped.groupBy("_final")
            .agg(
                # target's own name wins (merge never renames the target)
                F.max(
                    F.when(~F.col("_is_src"), F.col("name"))
                ).alias("_tname"),
                # alias pool: everyone's aliases + source names
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.when(
                                F.col("_is_src"),
                                F.array_union("aliases", F.array("name")),
                            ).otherwise(F.col("aliases"))
                        )
                    )
                ).alias("_aliases"),
            )
        )
        # target-wins property union, per key: winner = min by
        # (is_src, node_id) — the target (is_src=0) always wins; among
        # multiple sources the smallest node_id wins (deterministic)
        props = (
            mapped.select(
                "_final", "_is_src", "node_id",
                F.explode_outer("properties").alias("_k", "_v"),
            )
            .filter(F.col("_k").isNotNull())
            .groupBy("_final", "_k")
            .agg(
                F.min_by(
                    "_v",
                    F.struct(F.col("_is_src").cast("int"), F.col("node_id")),
                ).alias("_v")
            )
            .groupBy("_final")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("_k"), F.col("_v")))
                ).alias("_properties")
            )
        )
        absorbed = base.join(props, "_final", "left").select(
            F.col("_final").alias("node_id"),
            F.col("_tname").alias("name"),
            # drop the target's own name from the alias pool
            F.array_except("_aliases", F.array(F.col("_tname"))).alias("aliases"),
            F.coalesce(
                "_properties", F.create_map().cast("map<string,string>")
            ).alias("properties"),
        )
        extra_cols = [c for c in out.columns if c not in ("node_id", "name", "aliases", "properties")]
        if extra_cols:
            keep = mapped.filter(~F.col("_is_src") | F.col("_src_id").isNull()).select(
                F.col("_final").alias("node_id"), *extra_cols
            ).dropDuplicates(["node_id"])
            absorbed = absorbed.join(keep, "node_id", "left")
        out = absorbed.select(*nodes.columns)

        if edges is not None:
            e = edges
            for side in ("subject", "object"):
                e = (
                    e.join(m, e[side] == m["_src_id"], "left")
                    .withColumn(side, F.coalesce("_dst_id", side))
                    .drop("_src_id", "_dst_id")
                )
            edges_out = e.filter(F.col("subject") != F.col("object"))
    return out, edges_out
