"""Corpus guards for the end-to-end ``corpus_prep`` DuckDB oracle.

The mirror (``__spark_entry__._corpus_prep_sql``) replaces the Spark
side's MinHash-LSH candidate generation with EXACT inverted-index
Jaccard (DuckDB has no xxhash64 kernel), so it is a true oracle iff
banding recall is complete at the pipeline's 0.8 threshold on this
corpus.  These tests pin that precondition on the actual testdata at
sf0.001 AND sf0.01 (the driver's compare scale), so a corpus change
that opens a recall gap fails HERE, loudly, instead of flaking the
driver's hash compare:

1. Spark's LSH-proposed + exact-verified pair set EQUALS the
   brute-force exact-Jaccard pair set (ids and rounded jaccard).
2. The corpus keeps a recall margin: no pair with exact Jaccard in
   [0.8, 0.85) exists — at the observed minimum (0.889) the
   8-band × 4-row miss probability is ~4e-4 per pair, and planted
   near-dups sit far above it.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from neuronews_spark.operators.dedup import (
    _shingle_frame,
    minhash_near_duplicates,
    token_jaccard,
)

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
CHECK_ORACLES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "check_oracles.py",
)


def _exact_pairs(docs):
    """Brute-force exact-Jaccard pairs >= 0.8 — same shingle scheme as
    minhash_near_duplicates, candidates from a full inverted-index join
    (every pair sharing >= 1 shingle), NO banding anywhere."""
    sh = _shingle_frame(docs, "doc_id", "text", 3)
    inv = sh.select("doc", F.explode("shingles").alias("g"))
    cand = (
        inv.select(F.col("doc").alias("id_a"), "g")
        .join(inv.select(F.col("doc").alias("id_b"), "g"), "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return (
        cand.join(
            sh.select(F.col("doc").alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(token_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
    )


@pytest.mark.parametrize("sf", SFS)
def test_lsh_recall_complete_at_08(spark, sf):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    lsh = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", jaccard_threshold=0.8
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in _exact_pairs(docs).filter(F.col("jaccard") >= 0.8).collect()
    }
    assert exact, f"degenerate corpus at {sf}: no pairs at 0.8"
    missed = exact - lsh
    extra = lsh - exact
    assert not missed, f"LSH banding missed exact pairs at {sf}: {sorted(missed)[:5]}"
    assert not extra, f"LSH emitted non-exact pairs at {sf}: {sorted(extra)[:5]}"


@pytest.mark.parametrize("sf", SFS)
def test_recall_margin_no_borderline_pairs(spark, sf):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    borderline = (
        _exact_pairs(docs)
        .filter((F.col("jaccard") >= 0.8) & (F.col("jaccard") < 0.85))
        .collect()
    )
    assert borderline == [], (
        "pairs in the LSH recall-risk band [0.8, 0.85) — the corpus_prep "
        f"oracle's losslessness margin is gone: {borderline[:5]}"
    )


def test_compare_scale_is_guarded():
    """sf0.01 is the contracted compare scale. ``scripts/check_oracles.py``
    mirrors the driver's compare at its default ``SF``; raising that
    default without adding the scale to ``SFS`` fails here instead of
    flaking the driver."""
    with open(CHECK_ORACLES) as f:
        tree = ast.parse(f.read())
    (default,) = [
        node.value.args[1].value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and [getattr(t, "id", None) for t in node.targets] == ["SF"]
    ]
    assert default in SFS
