"""Data-selection importance weights (DSIR-style).

DSIR (Xie et al. 2023, arXiv:2302.03169) scores every raw document by
the log-likelihood ratio of two bag-of-words models — one fit on a
small *target* corpus (the distribution you want more of), one on the
raw pool — then resamples the pool by those weights.  This module is
the distributed scoring half: the model "fit" is one vocabulary
aggregation, the "inference" is one join + one sum, all expressed as
DataFrame ops so Catalyst keeps everything JVM-side.

Scale notes (the 100 TB shape):
- the vocabulary aggregation has map-side combine, so hot tokens
  (stopwords) never concentrate on one reducer;
- per-token weights are a (token → weight) table joined back by hash
  join on the token — at web scale this is the paper's hashed-n-gram
  trick's exact counterpart (they hash to 10k buckets to make the
  model tiny; we keep exact tokens because the vocab here fits, and
  a ``pmod(xxhash64(token), B)`` bucket column is a one-line swap);
- per-document scores are sums of per-token weights QUANTIZED TO
  INTEGER MICRO-NATS before summing — integer addition is associative,
  so the score is bit-stable across partitionings, retries, and
  engines (the float-sum reassociation hazard documented in
  BASELINE.md is designed out rather than rounded away).

The reference has no data-selection stage (its ingest keeps everything
and filters by validation score, data_validation_pipeline.py); this
operator belongs to the training-data-pipeline suite the graft adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from neuronews_spark.operators.text_stats import ws_tokens

__all__ = [
    "dsir_scores",
    "importance_sample",
    "lm_cross_entropy",
    "mixture_weights",
    "vocab_kl_drift",
]


def dsir_scores(
    docs: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document DSIR importance score in integer micro-nats.

    For unigram token ``w`` with add-1 smoothing, the weight is::

        λ(w) = ln(t_c(w) + 1) − ln(a_c(w) + 1) + ln(A + V) − ln(T + V)

    where ``t_c``/``a_c`` are target/pool occurrence counts, ``T``/``A``
    the corpus token totals, and ``V`` the vocabulary size — i.e. the
    log-ratio of the two smoothed unigram models.  Each λ is quantized
    once per *distinct* token to ``round(1e6·λ)`` (bigint micro-nats);
    a document's score is the exact integer sum of its token weights,
    so documents that look like the target corpus score high.

    Plan: one explode → vocab groupBy (map-side combine) → 1-row total
    aggregate broadcast in (the ``graph.py`` dangling-mass pattern) →
    token hash-join → per-doc groupBy.  Two keyed shuffles total, both
    on high-cardinality keys.

    Returns (id, n_tokens, score_micro_nats, mean_micro_nats) — one row
    per document with ≥1 token.
    """
    toks = docs.select(
        F.col(id_col),
        is_target.alias("_is_t"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("a_c"),
        F.count_if(F.col("_is_t")).alias("t_c"),
    )
    totals = vocab.agg(
        F.sum("a_c").alias("_A"),
        F.sum("t_c").alias("_T"),
        F.count(F.lit(1)).alias("_V"),
    )
    lam = (
        F.log(F.col("t_c") + 1)
        - F.log(F.col("a_c") + 1)
        + F.log((F.col("_A") + F.col("_V")).cast("double"))
        - F.log((F.col("_T") + F.col("_V")).cast("double"))
    )
    weights = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        F.round(lam * F.lit(1e6), 0).cast("bigint").alias("w_q"),
    )
    return (
        toks.join(weights, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w_q").alias("score_micro_nats"),
        )
        .select(
            id_col,
            "n_tokens",
            "score_micro_nats",
            F.round(
                F.col("score_micro_nats") / F.col("n_tokens"), 2
            ).alias("mean_micro_nats"),
        )
    )


def mixture_weights(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-based mixture weights per domain/source (the
    Gopher / XLM-R sampling rule: p_i ∝ n_i^alpha, alpha < 1 upweights
    small domains) — the report you compute before building a sampling
    config for a multi-source corpus.

    Per group: raw count, raw share, and the temperature weight
    RELATIVE TO THE LARGEST GROUP, ``w_rel = (n_i / n_max)^alpha``.
    Deliberately NOT normalized to Σ n_i^alpha: that denominator is a
    float sum whose addition order differs across engines/partitionings
    (the reassociation hazard BASELINE.md documents), while max() and
    integer totals are order-free — so every emitted number is a pure
    function of exact integers.  Consumers normalize ``w_rel`` at use
    time (one tiny driver-side pass over G rows).

    Plan: ONE scan → groupBy(group) count → (total, max) as an
    unpartitioned window over the G-row grouped frame (G = #domains,
    bounded by the domain vocabulary, so the single-partition window is
    G rows regardless of corpus size).  A separate 1-row aggregate
    joined back would re-execute the grouped scan for its second
    consumer — the double-evaluation trap."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    total = F.sum("n_docs").over(w)
    mx = F.max("n_docs").over(w)
    return counts.select(
        group_col,
        "n_docs",
        F.round(F.col("n_docs") / total, 6).alias("share"),
        F.round(
            F.pow(F.col("n_docs") / mx, F.lit(float(alpha))), 6
        ).alias("w_rel"),
    )


def lm_cross_entropy(
    docs: DataFrame,
    is_target: Column,
    head_cutoff: float | None = None,
    tail_cutoff: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020,
    arXiv:1911.00359): score every document by its cross-entropy under
    a smoothed unigram model fit on the *target* rows, then bucket the
    corpus into head/middle/tail by fixed cutoffs — the standard
    web-corpus quality tiering that keeps "head" for training and
    audits "tail".

    For token ``w``: ``cost(w) = −ln p_t(w)`` with add-1 smoothing
    ``p_t(w) = (t_c(w)+1) / (T+V)`` over the pool vocabulary (so OOV-
    in-target tokens get the uniform floor rather than −∞).  Like
    ``dsir_scores``, each distinct token's cost is quantized ONCE to
    integer micro-nats and a document's total is the exact integer sum
    — bit-stable across partitionings, retries, and engines.  The
    bucket compares ``cost/n_tokens`` (one IEEE division of exact
    integers — deterministic, unlike a float SUM) against the cutoffs.

    CCNet derives its cutoffs per language from score terciles of a
    calibration sample and then applies them as constants; pass them as
    ``head_cutoff``/``tail_cutoff`` (micro-nats per token).  With the
    defaults (None) no bucket column is emitted.

    Plan: identical topology to ``dsir_scores`` — explode → vocab
    groupBy (map-side combine) → broadcast 1-row totals → token
    hash-join → per-doc groupBy.  Two keyed shuffles, both
    high-cardinality.
    """
    toks = docs.select(
        F.col(id_col),
        is_target.alias("_is_t"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count_if(F.col("_is_t")).alias("t_c"),
    )
    totals = vocab.agg(
        F.sum("t_c").alias("_T"),
        F.count(F.lit(1)).alias("_V"),
    )
    cost = F.log((F.col("_T") + F.col("_V")).cast("double")) - F.log(
        F.col("t_c") + 1
    )
    weights = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        F.round(cost * F.lit(1e6), 0).cast("bigint").alias("c_q"),
    )
    scored = (
        toks.join(weights, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c_q").alias("cost_micro_nats"),
        )
    )
    if head_cutoff is None and tail_cutoff is None:
        return scored
    # one-sided cutoffs are legal: the missing side's branch is skipped
    # and those rows fall through to "middle"
    mean = F.col("cost_micro_nats") / F.col("n_tokens")
    if head_cutoff is not None:
        bucket = F.when(mean < F.lit(float(head_cutoff)), "head")
        if tail_cutoff is not None:
            bucket = bucket.when(mean > F.lit(float(tail_cutoff)), "tail")
    else:
        bucket = F.when(mean > F.lit(float(tail_cutoff)), "tail")
    bucket = bucket.otherwise("middle")
    return scored.select(
        id_col, "n_tokens", "cost_micro_nats", bucket.alias("ppl_bucket")
    )


def importance_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 17,
) -> DataFrame:
    """Weighted sampling by deterministic hash acceptance: keep a row
    iff its md5-derived uniform draw falls below ``w / max(w)`` — i.e.
    acceptance probability proportional to the row's weight, the
    resampling step data-selection schemes (DSIR §2.3) run after
    scoring.  Like ``stratified_sample``, membership is a pure function
    of (seed, id): stable across runs, partitionings, retries, and
    engines — and therefore oracle-mirrorable, unlike ``df.sample``'s
    per-partition-attempt RNG.

    Normalizing by ``max(w)`` instead of ``mean(w)`` keeps every number
    on the decision surface a single IEEE division of values that are
    themselves order-free (max is reorder-safe; a mean's float SUM is
    not — the BASELINE.md reassociation hazard).  Expected sample size
    is ``Σ w_i / max(w)``; callers wanting a target rate rescale the
    weight column first.

    Plan: 1-row max aggregate broadcast in (the graph.py dangling-mass
    pattern) + a filter — no shuffle of ``df`` itself, so the operator
    composes with any upstream partitioning unchanged.
    """
    mx = df.agg(F.max(F.col(weight_col).cast("double")).alias("_w_max"))
    u = (
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
    return (
        df.crossJoin(F.broadcast(mx))
        .withColumn("draw", u)
        .filter(
            F.col("draw") < F.col(weight_col).cast("double") / F.col("_w_max")
        )
        .drop("_w_max")
    )


def vocab_kl_drift(
    docs: DataFrame,
    is_base: Column,
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """Token-distribution drift between two corpus slices — the
    monitoring report you run between corpus snapshots (or sources)
    before retraining: per-token contribution to KL(P‖Q), where P is
    the base slice's add-1-smoothed unigram distribution and Q the
    comparison slice's, both over the union vocabulary.

    For token w with counts a_c (base) / b_c (rest):
    ``contrib(w) = p·(ln p − ln q)``, ``p = (a_c+1)/(A+V)``,
    ``q = (b_c+1)/(B+V)`` — quantized ONCE per distinct token to
    round(1e12·contrib) (bigint pico-units), so any aggregate a
    consumer takes over them is exact integer arithmetic (the
    dsir_scores hazard design; Σ contrib ≥ 0 is Gibbs' inequality).
    Emitted: the ``top_k`` drift-driving tokens by |contrib|
    (tie-break token ASC) — the actionable output: WHICH tokens moved.

    Plan: one explode → vocab groupBy (map-side combine) → broadcast
    1-row totals → TakeOrderedAndProject.  One keyed shuffle.
    """
    toks = docs.select(
        is_base.alias("_is_b"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(
        F.count_if(F.col("_is_b")).alias("a_c"),
        F.count_if(~F.col("_is_b")).alias("b_c"),
    )
    totals = vocab.agg(
        F.sum("a_c").alias("_A"),
        F.sum("b_c").alias("_B"),
        F.count(F.lit(1)).alias("_V"),
    )
    p = (F.col("a_c") + 1) / (F.col("_A") + F.col("_V")).cast("double")
    q = (F.col("b_c") + 1) / (F.col("_B") + F.col("_V")).cast("double")
    contrib = p * (F.log(p) - F.log(q))
    return (
        vocab.crossJoin(F.broadcast(totals))
        .select(
            "tok",
            "a_c",
            "b_c",
            F.round(contrib * F.lit(1e12), 0)
            .cast("bigint")
            .alias("kl_contrib_pico"),
        )
        .orderBy(F.abs(F.col("kl_contrib_pico")).desc(), F.asc("tok"))
        .limit(top_k)
    )
