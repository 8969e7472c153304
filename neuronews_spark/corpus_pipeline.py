"""End-to-end pretraining-corpus preparation: one auditable pass.

Composes the training-data operators into the standard pipeline shape
(C4/Gopher clean → exact dedup → MinHash near-dedup → benchmark
decontamination → deterministic subsample → shard shuffle), the way a
real corpus build chains them — but instead of materializing five
successively smaller tables, every stage contributes a BOOLEAN AUDIT
FLAG on the full corpus and the final ``keep`` is their conjunction.

Why flags, not five filters:

- **observability before commitment** — per-stage drop counts fall out
  of ONE aggregation over the flag frame (the `clean_corpus` /
  `semdedup` audit shape), so you see what each rule costs at 100 TB
  before committing to a config;
- **no intermediate materialization** — the column stages (quality,
  sample draw) stay in the same scan; only the genuinely relational
  stages (dup groups, near-dup clusters, decontamination) add keyed
  shuffles of id-only frames;
- **stage attribution is exact** — a doc dropped by three rules shows
  all three flags, not just the first filter it happened to hit.

Shuffle inventory (the 100 TB bill): md5-group window for exact dups
(1), MinHash candidate generation + CC for near-dups (the bounded
`dedup.py` topology), the same again against the eval set when
decontaminating, one id hash-join per loser set (losers ≪ corpus), and
one exchange on ``shard`` for the final order.  Quality + sample draw
are shuffle-free column math.

Reference parity: the reference validates-then-keeps per article
(data_validation_pipeline.py); the chain and its audit shape are the
graft's training-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["prepare_training_corpus", "summarize_audit"]


def prepare_training_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 15,
    min_quality_score: float = 0.5,
    jaccard_threshold: float = 0.8,
    sample_fraction: float = 1.0,
    n_shards: int = 8,
    seed: int = 17,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(audit, summary)`` — both LAZY; only the shingle tables
    the near-dup and decontamination operators pin run during the call.

    ``audit`` — one row per input doc:
      (id, keep_clean, dup_loser, neardup_loser, contaminated, sampled,
      keep, shard, pos): ``keep = keep_clean ∧ ¬dup_loser ∧
      ¬neardup_loser ∧ ¬contaminated ∧ sampled``; (shard, pos) is the
      deterministic training order of the kept subset (null otherwise).

    ``summary`` — one row of exact counts per stage plus ``n_kept``,
    derived from ``audit``.  Evaluating BOTH runs the pipeline twice;
    callers that want both should materialize ``audit`` first and
    aggregate the written frame (``summarize_audit``), as
    ``jobs/corpus_job.py`` does — the outlet_clustering double-eval
    lesson.
    """
    from neuronews_spark.operators.clustering import connected_components
    from neuronews_spark.operators.dedup import (
        decontaminate,
        minhash_near_duplicates,
    )
    from neuronews_spark.operators.sharding import deterministic_shuffle
    from neuronews_spark.operators.text_stats import clean_corpus

    # ---- column stages (no shuffle) ------------------------------------
    clean = clean_corpus(
        docs,
        id_col=id_col,
        text_col=text_col,
        min_tokens=min_tokens,
        min_quality_score=min_quality_score,
    ).select(id_col, F.col("keep").alias("keep_clean"))

    draw = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(str(seed)), F.col(id_col).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(2**32))
    )
    base = docs.select(
        id_col, (draw < F.lit(float(sample_fraction))).alias("sampled")
    )

    # ---- relational stages (id-only loser frames) ----------------------
    exact_w = Window.partitionBy(F.md5(F.col(text_col)))
    dup_losers = (
        docs.select(
            id_col, (F.min(id_col).over(exact_w) != F.col(id_col)).alias("_l")
        )
        .filter("_l")
        .select(id_col)
    )

    pairs = minhash_near_duplicates(
        docs,
        id_col=id_col,
        text_col=text_col,
        jaccard_threshold=jaccard_threshold,
    )
    cc = connected_components(
        pairs.select(
            F.col("id_a").cast("string").alias("src"),
            F.col("id_b").cast("string").alias("dst"),
        )
    )
    near_losers = cc.filter(F.col("node_id") != F.col("component")).select(
        F.col("node_id").alias("_nid")
    )

    cont_ids = None
    if eval_docs is not None:
        cont = decontaminate(
            docs,
            eval_docs,
            id_col=id_col,
            text_col=text_col,
            jaccard_threshold=jaccard_threshold,
        )
        cont_ids = cont.select(
            F.col("train_id").cast("string").alias("_cid")
        ).distinct()

    # ---- flag assembly --------------------------------------------------
    sid = F.col(id_col).cast("string")
    audit = (
        base.join(clean, id_col)
        .join(
            dup_losers.select(
                F.col(id_col).alias("_did"), F.lit(True).alias("_dup")
            ),
            sid == F.col("_did").cast("string"),
            "left",
        )
        .drop("_did")
        .join(
            near_losers.select("_nid", F.lit(True).alias("_near")),
            sid == F.col("_nid"),
            "left",
        )
        .drop("_nid")
    )
    if cont_ids is not None:
        audit = audit.join(
            cont_ids.select("_cid", F.lit(True).alias("_cont")),
            sid == F.col("_cid"),
            "left",
        ).drop("_cid")
    else:
        audit = audit.withColumn("_cont", F.lit(None).cast("boolean"))

    audit = audit.select(
        id_col,
        "keep_clean",
        F.coalesce("_dup", F.lit(False)).alias("dup_loser"),
        F.coalesce("_near", F.lit(False)).alias("neardup_loser"),
        F.coalesce("_cont", F.lit(False)).alias("contaminated"),
        "sampled",
    ).withColumn(
        "keep",
        F.col("keep_clean")
        & ~F.col("dup_loser")
        & ~F.col("neardup_loser")
        & ~F.col("contaminated")
        & F.col("sampled"),
    )

    kept_order = deterministic_shuffle(
        audit.filter("keep"), id_col=id_col, n_shards=n_shards, seed=seed
    ).select(id_col, "shard", "pos")
    audit = audit.join(kept_order, id_col, "left")

    return audit, summarize_audit(audit)


def summarize_audit(audit: DataFrame) -> DataFrame:
    """One-row exact stage counts over an (already materialized) audit
    frame — run it on the WRITTEN audit table to avoid re-executing the
    pipeline for the counts."""
    return audit.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(~F.col("keep_clean")).alias("n_dropped_clean"),
        F.count_if(F.col("dup_loser")).alias("n_exact_dup_losers"),
        F.count_if(F.col("neardup_loser")).alias("n_neardup_losers"),
        F.count_if(F.col("contaminated")).alias("n_contaminated"),
        F.count_if(~F.col("sampled")).alias("n_sampled_out"),
        F.count_if(F.col("keep")).alias("n_kept"),
    )
