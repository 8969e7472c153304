"""Pairwise scoring: Arrow-vectorized match predicates over candidate pairs.

Applies the reference resolver's decision predicates *symmetrically* to each
candidate pair (the order-free pivot of SURVEY.md §7.0 — the greedy,
insertion-order-dependent scan of ``resolution.py:162-195`` is replaced by
symmetric pair predicates + transitive closure, which is what the
reference's own global backfill ``canonicalize_store`` effects):

  1. exact        norm_a == norm_b          (alias index, resolution.py:165-167)
  2. person       _person_compatible        (PERSON only, resolution.py:176-179;
                                             persons use *no* other lexical rule)
  3. containment  token-set ⊆ either way    (non-person, resolution.py:184-185)
  4. ratio        difflib ratio ≥ 0.88      (non-person, resolution.py:186-191)
  5. embedding    cosine ≥ 0.83             (any type, resolution.py:193-215,
                                             only when vectors are supplied)

Rules 1-4 run in one Arrow-batched ``pandas_udf`` over (type, norm) pairs —
~10k pairs per Python invocation. Rules 1-3 are ``simtext.match_rules``, the
ladder day-2 attach (``incremental_er``) runs too; rule 4 is a numpy length
prefilter, then difflib only on pairs that can clear the threshold. Rule 5
is a broadcast join to the embedding table + a vectorized cosine kernel.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neuronews_spark.functions import simtext


@dataclass(frozen=True)
class ScoringConfig:
    ratio_threshold: float = 0.88  # resolution.py:96
    embedding_threshold: float = 0.83  # resolution.py:98


_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("matched", T.BooleanType()),
        T.StructField("method", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _make_scorer(config: ScoringConfig):
    ratio_t = config.ratio_threshold

    @F.pandas_udf(_SCORE_SCHEMA)
    def _score(
        etype: pd.Series, norm_a: pd.Series, norm_b: pd.Series
    ) -> pd.DataFrame:
        na = norm_a.fillna("").to_numpy(dtype=object)
        nb = norm_b.fillna("").to_numpy(dtype=object)
        # rules 1-3: the shared ladder
        method, fuzzy = simtext.match_rules(etype.to_numpy(dtype=object), na, nb)
        score = (~np.equal(method, None)).astype(np.float64)

        # 4. non-persons: difflib ratio >= threshold
        r_idx = np.flatnonzero(fuzzy)
        if len(r_idx):
            r = simtext.ratio_batch(na[r_idx], nb[r_idx], threshold=ratio_t)
            ok = r >= ratio_t
            method[r_idx[ok]] = "ratio"
            score[r_idx[ok]] = r[ok]

        matched = ~np.equal(method, None)
        return pd.DataFrame({"matched": matched, "method": method, "score": score})

    return _score


def score_pairs(pairs: DataFrame, config: ScoringConfig | None = None) -> DataFrame:
    """pairs(id_a, id_b, type, norm_a, norm_b, ...) → scored pairs with
    ``matched / method / score`` columns (all input columns preserved)."""
    config = config or ScoringConfig()
    scorer = _make_scorer(config)
    scored = pairs.withColumn(
        "_s", scorer(F.col("type"), F.col("norm_a"), F.col("norm_b"))
    )
    return scored.select("*", "_s.*").drop("_s")


def matched_edges(scored: DataFrame) -> DataFrame:
    """Keep only matching pairs → the ER graph's edge list."""
    return scored.filter(F.col("matched")).select(
        "id_a", "id_b", "type", "method", "score", "block_key"
    )


def lev_scored_pairs(
    vertices: DataFrame,
    threshold: float = 0.6,
    norm_col: str = "norm",
    type_col: str = "entity_type",
) -> DataFrame:
    """Blocked candidate self-join scored with batched Levenshtein
    similarity — the north rule's "normalized Levenshtein" scale-path
    scorer as a standalone, fully oracle-checkable surface.

    Blocking key = (entity type, first token of the normalized surface)
    — the classic prefix block; candidates within a block are scored with
    the Arrow-batched Wagner-Fischer kernel
    (:func:`simtext.levenshtein_batch`, one vectorized DP per batch, no
    per-row Python) and kept at ``lev_sim ≥ threshold``. Output:
    (entity_type, norm_a, norm_b, lev_sim), norm_a < norm_b.

    Scale shape: one shuffle on the block key; the self-join carries only
    (type, block, norm); oversized blocks are bounded upstream by the
    distinct-surface cardinality (surfaces ≪ mentions)."""

    @F.pandas_udf(T.DoubleType())
    def _lev_sim(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=np.float64)
        return pd.Series(
            simtext.levenshtein_sim_batch(
                a.fillna("").to_numpy(dtype=object),
                b.fillna("").to_numpy(dtype=object),
            )
        )

    pairs = _blocked_norm_pairs(vertices, norm_col, type_col)
    return pairs.select(
        "entity_type",
        "norm_a",
        "norm_b",
        F.round(_lev_sim(F.col("norm_a"), F.col("norm_b")), 6).alias("lev_sim"),
    ).filter(F.col("lev_sim") >= F.lit(threshold))


def _blocked_norm_pairs(
    vertices: DataFrame, norm_col: str = "norm", type_col: str = "entity_type"
) -> DataFrame:
    """Distinct normalized surfaces → prefix-blocked candidate pairs
    (entity_type, norm_a < norm_b). One shuffle on (type, first token)."""
    base = (
        vertices.select(
            F.col(type_col).alias("entity_type"), F.col(norm_col).alias("norm")
        )
        .filter(F.col("norm") != "")
        .distinct()
        .withColumn("bk", F.split(F.col("norm"), " ")[0])
    )
    a = base.select("entity_type", "bk", F.col("norm").alias("norm_a"))
    b = base.select("entity_type", "bk", F.col("norm").alias("norm_b"))
    return (
        a.join(b, ["entity_type", "bk"])
        .filter(F.col("norm_a") < F.col("norm_b"))
        .drop("bk")
    )


def scale_scored_pairs(
    vertices: DataFrame,
    lev_threshold: float = 0.6,
    jw_threshold: float = 0.75,
    norm_col: str = "norm",
    type_col: str = "entity_type",
) -> DataFrame:
    """The north rule's full scale-path scorer surface: prefix-blocked
    candidate pairs scored with BOTH batched normalized Levenshtein and
    batched Jaro-Winkler (Arrow kernels, no per-row Python); a pair
    survives if either scorer clears its threshold. Output:
    (entity_type, norm_a, norm_b, lev_sim, jaro_winkler).

    Jaro-Winkler carries Winkler's 0.7 boost gate, the convention
    DuckDB/C implementations use, so the oracled output is comparable
    against ``jaro_winkler_similarity`` for every pair."""

    @F.pandas_udf(_PAIR_SCORES_SCHEMA)
    def _scores(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        na = a.fillna("").to_numpy(dtype=object)
        nb = b.fillna("").to_numpy(dtype=object)
        return pd.DataFrame(
            {
                "lev_sim": simtext.levenshtein_sim_batch(na, nb),
                "jaro_winkler": simtext.jaro_winkler_batch(na, nb),
            }
        )

    pairs = _blocked_norm_pairs(vertices, norm_col, type_col)
    scored = pairs.withColumn(
        "_s", _scores(F.col("norm_a"), F.col("norm_b"))
    ).select(
        "entity_type",
        "norm_a",
        "norm_b",
        F.round(F.col("_s.lev_sim"), 6).alias("lev_sim"),
        F.round(F.col("_s.jaro_winkler"), 6).alias("jaro_winkler"),
    )
    return scored.filter(
        (F.col("lev_sim") >= F.lit(lev_threshold))
        | (F.col("jaro_winkler") >= F.lit(jw_threshold))
    )


_PAIR_SCORES_SCHEMA = T.StructType(
    [
        T.StructField("lev_sim", T.DoubleType()),
        T.StructField("jaro_winkler", T.DoubleType()),
    ]
)


def score_embedding_pairs(
    pairs: DataFrame,
    name_embeddings: DataFrame,
    config: ScoringConfig | None = None,
) -> DataFrame:
    """Embedding fallback (resolution.py:193-215): cosine ≥ 0.83 between the
    two surface forms' vectors → an additional edge with method 'embedding'.

    ``name_embeddings(name, vector array<float>)`` is broadcast (it is a
    dimension relative to the pair fact table); the cosine runs in one
    vectorized kernel per Arrow batch.
    """
    config = config or ScoringConfig()
    emb_t = config.embedding_threshold

    dim_a = name_embeddings.select(
        F.col("name").alias("name_a"), F.col("vector").alias("vec_a")
    )
    dim_b = name_embeddings.select(
        F.col("name").alias("name_b"), F.col("vector").alias("vec_b")
    )
    with_vecs = pairs.join(F.broadcast(dim_a), "name_a").join(
        F.broadcast(dim_b), "name_b"
    )

    @F.pandas_udf(T.DoubleType())
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype=np.float64)
        u = np.stack(va.to_numpy())
        v = np.stack(vb.to_numpy())
        return pd.Series(simtext.cosine_batch(u, v))

    return (
        with_vecs.withColumn("score", _cos(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("score") >= F.lit(emb_t))
        .select(
            "id_a",
            "id_b",
            "type",
            F.lit("embedding").alias("method"),
            "score",
            "block_key",
        )
    )
