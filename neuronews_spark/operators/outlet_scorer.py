"""Outlet transparency scoring: frame diversity × attribution rate ×
stance neutrality.

Clean-room re-expression of the reference's weekly outlet scorer
(``/root/reference/src/argument_mining/outlet_scorer.py:81-233``):

  frame_diversity   normalised Shannon entropy over the outlet's 7-frame
                    average-score distribution (outlet_scorer.py:98-124)
  attribution_rate  attributed claims / total claims (…:127-150)
  stance_neutrality entropy of the 4-class stance distribution, 0.5 when
                    the outlet has no stance data (…:153-171)
  composite_score   mean of the three, outlets with <3 docs dropped
                    (…:210-215)

The reference loops outlets on the driver, issuing 3 SQL queries per
outlet against SQLite (…:194-231).  Here each dimension is ONE grouped
aggregation over the full corpus and the three dimension frames meet in
two left joins on the (small) per-outlet key — at 100 TB that is three
shuffles on ``source`` (low cardinality → AQE coalesces) instead of
O(outlets) round-trips.  Entropy is computed with higher-order array
functions over ``collect_list`` of per-bin masses — pure Column math,
fully mirrorable in DuckDB (driver query ``outlet_transparency``).

Frame scores come from the same hermetic keyword lexicon as
``outlet_clustering.build_outlet_vectors`` (the sandbox analog of the
reference's classifier-filled ``document_frames`` table): per-doc frame
score = frame-keyword count / token count, averaged per outlet —
matching the reference's ``AVG(df.score) GROUP BY frame`` input
(outlet_scorer.py:101-116).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from neuronews_spark.operators.text_stats import ws_tokens

from neuronews_spark.operators.outlet_clustering import (
    DEFAULT_FRAME_KEYWORDS,
    FRAME_LABELS,
)

EPS = 1e-9  # outlet_scorer.py:39
STANCE_LABELS = ["supportive", "critical", "neutral", "ambiguous"]
MIN_DOCS = 3  # outlet_scorer.py:211


def _entropy(masses: Column, n_bins: int) -> Column:
    """Normalised Shannon entropy of an array of non-negative masses
    (outlet_scorer.py:81-91): 0.0 when the total mass is ~0; terms with
    p <= eps are skipped."""
    total = F.aggregate(masses, F.lit(0.0), lambda a, x: a + x)
    ent = F.aggregate(
        masses,
        F.lit(0.0),
        lambda a, x: a
        + F.when(x / total > EPS, -(x / total) * F.log(x / total)).otherwise(0.0),
    )
    return F.when(total < EPS, F.lit(0.0)).otherwise(ent / math.log(n_bins))


def frame_diversity(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    frame_keywords: dict[str, list[str]] | None = None,
) -> DataFrame:
    """(source, frame_diversity, doc_count): entropy over the 7 per-frame
    average scores (outlet_scorer.py:98-124).  One groupBy on source —
    partial aggregation map-side, no per-outlet driver loop."""
    kw = frame_keywords or DEFAULT_FRAME_KEYWORDS
    text = F.col(text_col)
    toks = F.when(text.isNotNull(), ws_tokens(F.lower(text)))  # NULL text: NULL scores

    def _in(words: list[str]):
        return lambda t: t.isin(words)

    total = F.size(toks).cast("double")
    scores = [
        (F.size(F.filter(toks, _in(words))) / total).alias(f"_s_{frame}")
        for frame, words in kw.items()
    ]
    per_doc = docs.select(F.col(source_col).alias("source"), total.alias("_n"), *scores)
    named = [F.avg(f"_s_{f}").alias(f"_a_{f}") for f in kw]
    agg = per_doc.groupBy("source").agg(F.count(F.lit(1)).alias("doc_count"), *named)
    framed = [F.col(f"_a_{f}") for f in kw]
    other = F.lit(1.0) - sum(framed[1:], framed[0])
    masses = F.array(*framed, other)
    return agg.select(
        "source",
        F.round(_entropy(masses, len(FRAME_LABELS)), 4).alias("frame_diversity"),
        "doc_count",
    )


def attribution_rate(claims: DataFrame, source_col: str = "source") -> DataFrame:
    """(source, attribution_rate, claim_count) from claims carrying a
    boolean ``attributed`` (outlet_scorer.py:127-150); rate 0.0 when the
    outlet has no claims is handled by the caller's left join."""
    return claims.groupBy(F.col(source_col).alias("source")).agg(
        F.round(
            F.sum(F.when(F.col("attributed"), 1).otherwise(0)) / F.count(F.lit(1)),
            4,
        ).alias("attribution_rate"),
        F.count(F.lit(1)).alias("claim_count"),
    )


def stance_neutrality(stanced: DataFrame, source_col: str = "source") -> DataFrame:
    """(source, stance_neutrality): entropy of the outlet's 4-bin stance
    counts (outlet_scorer.py:153-171).  Absent labels contribute mass 0,
    matching the reference's setdefault(0.0)."""
    cnts = [
        F.sum(F.when(F.col("stance") == lbl, 1).otherwise(0)).cast("double").alias(lbl)
        for lbl in STANCE_LABELS
    ]
    agg = stanced.groupBy(F.col(source_col).alias("source")).agg(*cnts)
    masses = F.array(*[F.col(lbl) for lbl in STANCE_LABELS])
    return agg.select(
        "source", F.round(_entropy(masses, 4), 4).alias("stance_neutrality")
    )


def outlet_scores(
    docs: DataFrame,
    claims: DataFrame,
    stanced: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    frame_keywords: dict[str, list[str]] | None = None,
    min_docs: int = MIN_DOCS,
) -> DataFrame:
    """Per-outlet transparency rows (outlet_scorer.py:178-233): the three
    dimension frames joined on source; missing claims → rate 0.0 with
    claim_count 0 (…:147-150), missing stance data → neutrality 0.5
    (…:162-164); composite = rounded mean; outlets with < min_docs docs
    excluded."""
    fd = frame_diversity(docs, source_col, text_col, frame_keywords)
    ar = attribution_rate(claims, source_col)
    sn = stance_neutrality(stanced, source_col)
    out = (
        fd.filter(F.col("doc_count") >= min_docs)
        .join(ar, "source", "left")
        .join(sn, "source", "left")
        .select(
            "source",
            "frame_diversity",
            F.coalesce("attribution_rate", F.lit(0.0)).alias("attribution_rate"),
            F.coalesce("stance_neutrality", F.lit(0.5)).alias("stance_neutrality"),
            "doc_count",
            F.coalesce("claim_count", F.lit(0)).alias("claim_count"),
        )
    )
    return out.withColumn(
        "composite_score",
        F.round(
            (
                F.col("frame_diversity")
                + F.col("attribution_rate")
                + F.col("stance_neutrality")
            )
            / 3.0,
            4,
        ),
    )
