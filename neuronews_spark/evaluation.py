"""Pairwise-F1 evaluation over labeled same-block pairs (the north metric).

The baseline metric is "pairwise F1 ≥ 0.99 on labeled transcript entity
pairs *(same blocking key)*": for every candidate pair that shares ≥1
blocking key, ground truth says whether the pair belongs to the same
entity; the pipeline's prediction is component equality. Precision /
recall / F1 are computed with DataFrame joins — no driver-side pair
materialization, so the harness itself scales with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neuronews_spark.operators.blocking import candidate_pairs


def labeled_same_block_pairs(
    blocks: DataFrame, truth: DataFrame, max_block_size: int = 1000
) -> DataFrame:
    """blocks(block_key, node_id, ...) × truth(node_id, group_id) → the
    pipeline's own candidate pairs (``blocking.candidate_pairs``, same
    cap) whose two ids both have a label, ``is_match`` by group
    equality."""
    pairs, _ = candidate_pairs(blocks, max_block_size)
    ga = truth.select(F.col("node_id").alias("id_a"), F.col("group_id").alias("group_a"))
    gb = truth.select(F.col("node_id").alias("id_b"), F.col("group_id").alias("group_b"))
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("group_a") == F.col("group_b")).alias("is_match"),
        )
        .distinct()
    )


def pairwise_scores(
    labeled_pairs: DataFrame, components: DataFrame
) -> dict[str, float]:
    """labeled_pairs(id_a, id_b, is_match) + components(node_id, component)
    → precision / recall / F1 of 'same component' as the match predictor."""
    ca = components.select(
        F.col("node_id").alias("id_a"), F.col("component").alias("comp_a")
    )
    cb = components.select(
        F.col("node_id").alias("id_b"), F.col("component").alias("comp_b")
    )
    j = (
        labeled_pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "is_match", (F.col("comp_a") == F.col("comp_b")).alias("predicted")
        )
    )
    agg = j.agg(
        F.sum(F.when(F.col("predicted") & F.col("is_match"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("predicted") & ~F.col("is_match"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("predicted") & F.col("is_match"), 1).otherwise(0)).alias("fn"),
        F.count(F.lit(1)).alias("n_pairs"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"]), int(agg["fp"]), int(agg["fn"])
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "n_pairs": int(agg["n_pairs"]),
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def classification_report(
    df: DataFrame,
    label_col: str = "label",
    pred_col: str = "pred",
    group_col: str | None = None,
    gate_f1: float = 0.70,
) -> DataFrame:
    """Per-class precision/recall/F1 (optionally per group) — the model
    benchmark gate of the reference's held-out evaluation
    (``/root/reference/docs/model_benchmarks.md:1-24``: per-source-type
    P/R/F1 with an explicit pass threshold).

    One grouped aggregation per (group, class): tp/fp/fn from the
    confusion cells, zero-denominator conventions P=R=F1=0 (sklearn
    zero_division=0).  ``passes`` applies the gate to each row's F1.
    Pure Column math over exact integer counts — mirrored by the
    ``model_benchmark`` driver oracle."""
    keys = ([group_col] if group_col else []) + ["class"]
    lbl, prd = F.col(label_col), F.col(pred_col)
    long = df.select(
        *([group_col] if group_col else []),
        F.explode(
            F.array_distinct(F.array(lbl.cast("string"), prd.cast("string")))
        ).alias("class"),
        lbl.cast("string").alias("_l"),
        prd.cast("string").alias("_p"),
    )
    cls = F.col("class")
    agg = long.groupBy(*keys).agg(
        F.sum(F.when((F.col("_l") == cls) & (F.col("_p") == cls), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("_p") == cls) & (F.col("_l") != cls), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("_l") == cls) & (F.col("_p") != cls), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(F.col("_l") == cls, 1).otherwise(0)).alias("support"),
    )
    p = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    r = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    out = agg.withColumn("precision", F.round(p, 6)).withColumn("recall", F.round(r, 6))
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        2 * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(0.0)
    return out.withColumn("f1", F.round(f1, 6)).withColumn(
        "passes", F.col("f1") >= gate_f1
    )
