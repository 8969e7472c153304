"""Incremental entity resolution: attach a new mention batch to an
EXISTING canonical store.

The reference resolves mentions one at a time against its in-memory
store on every ingest (`EntityResolver.resolve` →
`_find_match`, src/knowledge_graph/foundation/resolution.py:113-196,
driven per document by kg_updater.update_from_document:193) — the
"day-2" ER problem: at 10^12-turn scale you never re-cluster the world,
you attach increments.  This operator is the batch re-expression: ONE
job resolves the whole increment.

Semantics (per `_find_match`, in priority order; steps 2-3 are
``simtext.match_rules``, the rule ladder batch scoring runs too):

1. exact — normalized surface equality against the store's registered
   forms (the ``_exact`` dict);
2. person rule — for PERSON mentions, ``person_compatible`` (same
   surname + injectively compatible given names, initials allowed);
   persons NEVER fall through to fuzzy scoring (resolution.py:176-179);
3. containment — token set of one side contained in the other
   (resolution.py:198-202), which preempts any ratio score;
4. fuzzy — best similarity ≥ threshold (reference: difflib ratio at
   0.88; the ``jaro_winkler`` scorer is the scale variant whose DuckDB
   builtin is formula-identical, making the whole attach oracleable);
5. otherwise the mention founds a NEW canonical id.

Batch determinism: the reference scans candidates in insertion order
and returns the first person/containment hit — order the sequential
code inherits from dict insertion.  A distributed batch has no
insertion order, so ties break on ``min(entity_id)`` (and fuzzy on
(round(score, 6) DESC, entity_id ASC)) — deterministic across
partitionings, retries, and engines.

Scale shape: the reference's per-mention scan is O(|store|) per call;
here candidates come from a blocking join on the batch pipeline's own
key values (``blocking.surname_key`` for persons, ``blocking.prefix_key``
otherwise: the 'p' and 'f' families), so the fuzzy work is
O(block-local pairs) with the same recall contract the batch pipeline's
blocking carries.  Plan: one broadcast-or-hash exact join, one keyed
candidate join, one Arrow scoring pass over candidates only, one
mention-keyed window for the argmax, anti-joins for the residual.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from neuronews_spark.operators.blocking import prefix_key, surname_key

__all__ = ["attach_increment"]


def _attach_kernel(scorer: str, threshold: float):
    """One Arrow pass over candidate pairs → (kind, score).

    kind ∈ person | containment | fuzzy | null (no match): the shared
    rule ladder ``match_rules``, then the fuzzy scorer on the rows it
    passes on.  Score is the similarity for fuzzy hits (rounded to 6,
    the cross-engine compare convention), 1.0 for rule hits.
    """
    from neuronews_spark.functions.simtext import (
        jaro_winkler_batch,
        match_rules,
        ratio_batch,
    )

    similarity = jaro_winkler_batch if scorer == "jaro_winkler" else ratio_batch

    @pandas_udf("struct<kind: string, score: double>")
    def kernel(
        etype: pd.Series, m_norm: pd.Series, s_norm: pd.Series
    ) -> pd.DataFrame:
        import numpy as np

        mn = m_norm.fillna("").to_numpy(dtype=object)
        sn = s_norm.fillna("").to_numpy(dtype=object)
        kind, fuzzy = match_rules(etype.to_numpy(dtype=object), mn, sn)
        score = np.where(np.equal(kind, None), np.nan, 1.0)
        todo = np.flatnonzero(fuzzy)
        if len(todo):
            s = np.round(similarity(mn[todo], sn[todo]), 6)
            hit = s >= threshold
            kind[todo[hit]] = "fuzzy"
            score[todo[hit]] = s[hit]
        return pd.DataFrame({"kind": kind, "score": score})

    return kernel


def attach_increment(
    store: DataFrame,
    mentions: DataFrame,
    threshold: float = 0.88,
    scorer: str = "difflib",
    name_embeddings: DataFrame | None = None,
    embedding_threshold: float = 0.83,
) -> DataFrame:
    """Resolve ``mentions(mention_id, entity_type, norm)`` against
    ``store(entity_id, entity_type, norm)``; returns one row per
    mention: ``(mention_id, entity_type, norm, entity_id, match_kind,
    score)`` with match_kind ∈ exact | person | containment | fuzzy |
    embedding | new.  New-entity ids are ``md5('new:' type ':' norm)``
    so repeated unseen surfaces in the same increment coalesce to one
    id, exactly as the sequential resolver's second occurrence hits the
    entry the first one registered.

    ``name_embeddings(name, vector)`` (keyed by the normalized form)
    enables the reference's embedding fallback
    (``_embedding_match``, resolution.py:204-215): mentions no rule or
    fuzzy stage matched take the best same-type cosine ≥
    ``embedding_threshold``.  Like the reference this stage scans the
    whole type (no blocking) — it runs only on the rule-unmatched
    residue, and the embedding dimension is broadcast; the scale path
    for huge types is the IVF/SRP similarity_search suite.  One
    widening vs the reference: cosine compares against every REGISTERED
    form's vector, not just the display name's (recall-up, precision
    still guarded by the threshold)."""
    if scorer not in ("difflib", "jaro_winkler"):
        raise ValueError(f"unknown scorer {scorer!r}")

    # a store may register several forms of one entity; exact equality
    # must resolve deterministically if two entities registered the
    # same form (reference: last-writer dict; here: min id)
    exact_map = store.groupBy("entity_type", "norm").agg(
        F.min("entity_id").alias("entity_id")
    )
    exact = mentions.join(exact_map, ["entity_type", "norm"]).select(
        "mention_id",
        "entity_type",
        "norm",
        "entity_id",
        F.lit("exact").alias("match_kind"),
        F.lit(1.0).alias("score"),
    )
    rest = mentions.join(
        exact_map, ["entity_type", "norm"], "left_anti"
    )

    def key(c):
        # persons block on the surname (the 'p' key family): the person
        # rule matches initialized given names, which a squashed-prefix
        # key could never co-locate ('j smith' vs 'john smith')
        return F.when(
            F.col("entity_type") == "Person", surname_key(c)
        ).otherwise(prefix_key(c))

    cand = (
        rest.select(
            "mention_id",
            "entity_type",
            "norm",
            key(F.col("norm")).alias("block_key"),
        )
        .join(
            store.select(
                "entity_id",
                "entity_type",
                F.col("norm").alias("store_norm"),
                key(F.col("norm")).alias("block_key"),
            ),
            ["entity_type", "block_key"],
        )
        .drop("block_key")
    )
    kernel = _attach_kernel(scorer, threshold)
    scored = cand.select(
        "mention_id",
        "entity_type",
        "norm",
        "entity_id",
        kernel("entity_type", "norm", "store_norm").alias("m"),
    ).select(
        "mention_id",
        "entity_type",
        "norm",
        "entity_id",
        F.col("m.kind").alias("match_kind"),
        F.col("m.score").alias("score"),
    ).filter(F.col("match_kind").isNotNull())

    pri = (
        F.when(F.col("match_kind") == "person", F.lit(0))
        .when(F.col("match_kind") == "containment", F.lit(1))
        .otherwise(F.lit(2))
    )
    w = Window.partitionBy("mention_id").orderBy(
        pri.asc(), F.desc("score"), F.asc("entity_id")
    )
    matched = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        # two consumers (the union output and the residual anti-join):
        # truncate so the candidate join + Arrow kernel run ONCE — the
        # pipeline.py lazy-localCheckpoint multi-consumer pattern
        .localCheckpoint(eager=False)
    )

    rest2 = rest.join(
        matched.select("mention_id"), "mention_id", "left_anti"
    )

    if name_embeddings is not None:
        dim_m = name_embeddings.select(
            F.col("name").alias("norm"), F.col("vector").alias("_vm")
        )
        dim_s = name_embeddings.select(
            F.col("name").alias("store_norm"), F.col("vector").alias("_vs")
        )
        ecand = (
            rest2.join(F.broadcast(dim_m), "norm")
            .join(
                store.select(
                    "entity_id",
                    "entity_type",
                    F.col("norm").alias("store_norm"),
                ),
                "entity_type",
            )
            .join(F.broadcast(dim_s), "store_norm")
        )

        @pandas_udf("double")
        def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
            import numpy as np

            from neuronews_spark.functions.simtext import cosine_batch

            if len(va) == 0:
                return pd.Series([], dtype="float64")
            return pd.Series(
                np.round(
                    cosine_batch(np.stack(va.to_numpy()), np.stack(vb.to_numpy())),
                    6,
                )
            )

        escored = ecand.select(
            "mention_id",
            "entity_type",
            "norm",
            "entity_id",
            _cos(F.col("_vm"), F.col("_vs")).alias("score"),
        ).filter(F.col("score") >= F.lit(float(embedding_threshold)))
        ew = Window.partitionBy("mention_id").orderBy(
            F.desc("score"), F.asc("entity_id")
        )
        ematched = (
            escored.withColumn("_rn", F.row_number().over(ew))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("match_kind", F.lit("embedding"))
            .select(
                "mention_id",
                "entity_type",
                "norm",
                "entity_id",
                "match_kind",
                "score",
            )
            .localCheckpoint(eager=False)
        )
        matched = matched.unionByName(ematched)
        rest2 = rest2.join(
            ematched.select("mention_id"), "mention_id", "left_anti"
        )

    new = rest2.select(
        "mention_id",
        "entity_type",
        "norm",
        F.md5(
            F.concat_ws(":", F.lit("new"), F.col("entity_type"), F.col("norm"))
        ).alias("entity_id"),
        F.lit("new").alias("match_kind"),
        F.lit(None).cast("double").alias("score"),
    )
    return exact.unionByName(matched).unionByName(new)
