"""Outlet editorial-framing clusters: frame vectors → KMeans + Ward →
silhouette-selected k → PCA 2-D projection.

Port of ``/root/reference/src/argument_mining/outlet_clustering.py``:
each outlet becomes a 7-dim frame-score vector (``FRAME_LABELS``,
L2-normalised), k-means AND Ward agglomerative clustering run for
k_min..k_max, the best (method, k) is chosen by silhouette score
(``run_clustering`` :186-303), clusters are labelled dominant / balanced
/ focused from their centroid (``_label_cluster`` :163-183 with the 0.50
dominance and 0.12 balance thresholds), and PCA projects to 2-D.

Spark-first split: the frame-vector aggregation is DISTRIBUTED (one
groupBy over the full document table — the reference aggregates a
``document_frames`` warehouse table; here frame scores come from keyword
ratios, the hermetic analog of its frame classifier). The clustering
itself operates on ONE ROW PER OUTLET — tens of rows by construction —
so it runs driver-side in numpy: KMeans (seeded kmeans++ + Lloyd), Ward
via the Lance-Williams update, silhouette, and PCA via SVD (sklearn is
not in this environment; algorithms match the reference's choices, not
sklearn bit-for-bit, which the reference itself doesn't promise either —
it picks by silhouette, not by fixed labels).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neuronews_spark.operators.text_stats import ws_tokens

FRAME_LABELS = ["economic", "security", "humanitarian", "legal",
                "political", "scientific", "other"]

DOMINANT_THRESHOLD = 0.50
BALANCED_GAP = 0.12

# hermetic frame lexicon over the synthetic corpus vocabulary (analog of
# the reference's classifier-produced document_frames table)
DEFAULT_FRAME_KEYWORDS: dict[str, list[str]] = {
    "economic": ["value", "cost", "price", "total"],
    "security": ["hash", "key", "lock"],
    "humanitarian": ["user", "group", "people"],
    "legal": ["rule", "order", "filter"],
    "political": ["leader", "vote", "part"],
    "scientific": ["scan", "test", "merge", "sort"],
}


def build_outlet_vectors(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    frame_keywords: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Distributed per-outlet frame vectors: (source, doc_count,
    vector array<double> over FRAME_LABELS, L2-normalised; 'other' =
    leftover token mass)."""
    kw = frame_keywords or DEFAULT_FRAME_KEYWORDS
    text = F.col(text_col)
    toks = F.when(text.isNotNull(), ws_tokens(F.lower(text)))  # NULL text adds nothing
    def _in(words: list[str]):
        # closure factory: a default parameter would make PySpark treat the
        # lambda as its (element, index) two-argument form
        return lambda t: t.isin(words)

    counts = [
        F.sum(F.size(F.filter(toks, _in(words)))).alias(f"_f_{frame}")
        for frame, words in kw.items()
    ]
    agg = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum(F.size(toks)).alias("_total"),
        *counts,
    )
    framed = [F.col(f"_f_{f}").cast("double") for f in kw]
    other = F.col("_total").cast("double") - sum(framed[1:], framed[0])
    vec = F.array(*framed, other)
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x))
    return agg.select(
        F.col(source_col).alias("source"),
        "doc_count",
        F.when(norm > 0, F.transform(vec, lambda x: x / norm))
        .otherwise(vec)
        .alias("vector"),
    )


# ----------------------------------------------------------- numpy kernels

def _kmeans(m: np.ndarray, k: int, seed: int = 42, n_init: int = 4) -> np.ndarray:
    best_labels, best_cost = None, np.inf
    rng = np.random.default_rng(seed)
    for _ in range(n_init):
        # kmeans++ seeding
        cents = [m[rng.integers(len(m))]]
        while len(cents) < k:
            d2 = np.min(
                [((m - c) ** 2).sum(axis=1) for c in cents], axis=0
            )
            if d2.sum() <= 0:
                cents.append(m[rng.integers(len(m))])
                continue
            cents.append(m[rng.choice(len(m), p=d2 / d2.sum())])
        c = np.stack(cents)
        for _ in range(50):
            labels = ((m[:, None, :] - c[None]) ** 2).sum(-1).argmin(1)
            new = np.stack(
                [m[labels == i].mean(0) if (labels == i).any() else c[i] for i in range(k)]
            )
            if np.allclose(new, c):
                break
            c = new
        cost = (((m - c[labels]) ** 2).sum(-1)).sum()
        if cost < best_cost:
            best_cost, best_labels = cost, labels
    return best_labels


def _ward(m: np.ndarray, k: int) -> np.ndarray:
    """Agglomerative Ward linkage via the Lance-Williams update; stops at
    k clusters. O(n^3) worst case — fine for the per-outlet matrix."""
    n = len(m)
    active = list(range(n))
    sizes = {i: 1 for i in range(n)}
    members = {i: [i] for i in range(n)}
    d2 = ((m[:, None, :] - m[None]) ** 2).sum(-1).astype(np.float64)
    dist = {
        (i, j): d2[i, j] / 2.0  # ward objective for singletons
        for i in range(n) for j in range(i + 1, n)
    }
    nxt = n
    while len(active) > k:
        (a, b), _ = min(dist.items(), key=lambda kv: (kv[1], kv[0]))
        na, nb = sizes[a], sizes[b]
        new_d = {}
        for c in active:
            if c in (a, b):
                continue
            nc = sizes[c]
            dac = dist[(min(a, c), max(a, c))]
            dbc = dist[(min(b, c), max(b, c))]
            dab = dist[(a, b)]
            new_d[c] = (
                (na + nc) * dac + (nb + nc) * dbc - nc * dab
            ) / (na + nb + nc)
        for pair in list(dist):
            if a in pair or b in pair:
                del dist[pair]
        active = [c for c in active if c not in (a, b)]
        sizes[nxt] = na + nb
        members[nxt] = members.pop(a) + members.pop(b)
        for c in active:
            dist[(min(c, nxt), max(c, nxt))] = new_d[c]
        active.append(nxt)
        nxt += 1
    labels = np.zeros(n, dtype=int)
    for cid, cluster in enumerate(sorted(active)):
        for i in members[cluster]:
            labels[i] = cid
    return labels


def _silhouette(m: np.ndarray, labels: np.ndarray) -> float:
    n = len(m)
    d = np.sqrt(((m[:, None, :] - m[None]) ** 2).sum(-1))
    s = []
    for i in range(n):
        own = labels == labels[i]
        if own.sum() <= 1:
            s.append(0.0)
            continue
        a = d[i][own].sum() / (own.sum() - 1)
        b = min(
            d[i][labels == other].mean()
            for other in set(labels) if other != labels[i]
        )
        s.append((b - a) / max(a, b) if max(a, b) > 0 else 0.0)
    return float(np.mean(s))


def _pca_2d(m: np.ndarray) -> np.ndarray:
    centered = m - m.mean(0)
    _u, _s, vt = np.linalg.svd(centered, full_matrices=False)
    comps = vt[: min(2, vt.shape[0])]
    # deterministic sign: largest-|loading| coordinate positive per comp
    for r in range(comps.shape[0]):
        j = np.argmax(np.abs(comps[r]))
        if comps[r, j] < 0:
            comps[r] = -comps[r]
    coords = centered @ comps.T
    if coords.shape[1] == 1:
        coords = np.hstack([coords, np.zeros((len(m), 1))])
    return coords


def label_cluster(centroid: np.ndarray) -> tuple[str, str]:
    """_label_cluster (:163-183): dominant / balanced / focused naming."""
    scores = {f: float(centroid[i]) for i, f in enumerate(FRAME_LABELS)}
    ranked = sorted(scores.items(), key=lambda x: -x[1])
    (top_frame, top_score), (second_frame, second_score) = ranked[0], ranked[1]
    if top_score > DOMINANT_THRESHOLD:
        return f"{top_frame}-dominant", top_frame
    if (top_score - second_score) < BALANCED_GAP:
        return f"balanced-{top_frame}-{second_frame}", top_frame
    return f"{top_frame}-focused", top_frame


@dataclass
class OutletClusterResult:
    assignments: DataFrame  # source, doc_count, cluster_id, cluster_label,
    #                         dominant_frame, pca_x, pca_y
    k: int
    method: str
    silhouette: float
    n_outlets: int


DRIVER_MAX_OUTLETS = 100_000


def run_outlet_clustering(
    outlet_vectors: DataFrame,
    k_min: int = 2,
    k_max: int = 8,
    seed: int = 42,
    driver_max_outlets: int = DRIVER_MAX_OUTLETS,
) -> OutletClusterResult:
    """run_clustering (:186-303): silhouette-selected best of
    kmeans/hierarchical over k_min..k_max + PCA coords + centroid labels.
    Collects ONE ROW PER OUTLET (tiny by construction) — enforced by an
    explicit gate like clustering.DRIVER_CC_MAX_EDGES: outlet cardinality
    is bounded by the source-domain population, not the corpus size, but a
    mis-keyed input (e.g. doc_id as source) would otherwise pull the whole
    table into the driver."""
    # Gate and collect in ONE job: limit(max+1) proves over/under the cap
    # from the collected rows themselves — a separate count() re-ran the
    # whole upstream per-outlet aggregation (a full corpus scan) before
    # the collect, doubling the operator's cost on an uncached input.
    rows = (
        outlet_vectors.select("source", "doc_count", "vector")
        .limit(driver_max_outlets + 1)
        .collect()
    )
    if len(rows) > driver_max_outlets:
        raise ValueError(
            f"run_outlet_clustering collects one row per outlet; got "
            f"> driver_max_outlets={driver_max_outlets} outlets. "
            "The grouping column is probably not an outlet key; pre-aggregate "
            "or raise driver_max_outlets explicitly."
        )
    spark = outlet_vectors.sparkSession
    n = len(rows)
    m = np.stack([np.asarray(r["vector"], dtype=np.float64) for r in rows])

    effective_kmax = min(k_max, n - 1)
    effective_kmin = min(k_min, effective_kmax)
    best = (-1.0, np.zeros(n, dtype=int), effective_kmin, "kmeans")
    for k in range(effective_kmin, effective_kmax + 1):
        if k < 2:
            continue
        for method, fn in (("kmeans", _kmeans), ("hierarchical", _ward)):
            labels = (
                fn(m, k, seed) if method == "kmeans" else fn(m, k)
            )
            if len(set(labels.tolist())) > 1:
                s = _silhouette(m, labels)
                if s > best[0]:
                    best = (s, labels, k, method)
    score, labels, k, method = best
    coords = _pca_2d(m)
    out_rows = []
    for cid in sorted(set(labels.tolist())):
        centroid = m[labels == cid].mean(0)
        lbl, dominant = label_cluster(centroid)
        for i in np.flatnonzero(labels == cid):
            out_rows.append(
                (
                    rows[i]["source"], int(rows[i]["doc_count"]), int(cid),
                    lbl, dominant, float(coords[i, 0]), float(coords[i, 1]),
                )
            )
    assignments = spark.createDataFrame(
        out_rows,
        "source string, doc_count long, cluster_id int, cluster_label string,"
        "dominant_frame string, pca_x double, pca_y double",
    )
    return OutletClusterResult(
        assignments=assignments,
        k=int(k),
        method=method,
        silhouette=round(float(score), 4),
        n_outlets=n,
    )
