"""Guards for the entity_resolution DuckDB oracle's two reductions
(__spark_entry__._entity_resolution_sql):

1. The oracle omits the MinHash-LSH blocking modality (Spark's xxhash64
   has no DuckDB kernel). Valid iff no pair that MATCHES meets *only*
   under a MinHash band — i.e. the matched-edge set over deterministic
   blocks (x/s/f/p/t) equals the matched-edge set over all blocks.
2. The oracle mirrors difflib SequenceMatcher.ratio() as the LCS ratio
   2·LCS/(la+lb). SequenceMatcher's greedy longest-block decomposition
   can undershoot LCS on adversarial strings, so the ≥ 0.88 decision is
   asserted to agree with real difflib on EVERY rule-4 candidate pair
   the corpus produces.

Both are checked at sf0.001 (the in-repo oracle-suite scale) and sf0.01
(the driver's compare scale) so a corpus/planting change fails HERE
loudly instead of flaking the driver's CORRECTNESS artifact. The person
rule's positional reduction is guarded by
tests/test_incremental_er.py::test_attach_oracle_corpus_shape_guard
(same surface universe: distinct mention norms).
"""

from __future__ import annotations

import os
import sys
from difflib import SequenceMatcher

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from neuronews_spark.operators.blocking import build_blocks, candidate_pairs
from neuronews_spark.operators.conversations import assemble_conversations
from neuronews_spark.operators.mentions import distinct_vertices, extract_mentions
from neuronews_spark.operators.scoring import matched_edges, score_pairs

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _vertices(spark, sf):
    t = entrymod.derived_transcripts(spark, sf, plant=True)
    return distinct_vertices(extract_mentions(assemble_conversations(t)))


def _edges_set(pairs_df):
    scored = matched_edges(score_pairs(pairs_df))
    return {(r.id_a, r.id_b) for r in scored.select("id_a", "id_b").collect()}


def _lcs(a: str, b: str) -> int:
    la, lb = len(a), len(b)
    prev = [0] * (lb + 1)
    for i in range(1, la + 1):
        cur = [0] * (lb + 1)
        ai = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = prev[j - 1] + 1 if ai == b[j - 1] else max(prev[j], cur[j - 1])
        prev = cur
    return prev[lb]


@pytest.mark.parametrize("sf", SFS)
def test_deterministic_blocks_reach_every_matched_edge(spark, sf):
    blocks = build_blocks(_vertices(spark, sf)).localCheckpoint(eager=True)
    full_pairs, _ = candidate_pairs(blocks, max_block_size=1000)
    det_blocks = blocks.filter(~F.col("block_key").rlike("^m[0-9]"))
    det_pairs, _ = candidate_pairs(det_blocks, max_block_size=1000)
    full_edges = _edges_set(full_pairs)
    det_edges = _edges_set(det_pairs)
    # det ⊆ full by construction; equality means no match is m-only
    assert det_edges == full_edges, (
        f"matched edges reachable only via MinHash bands at {sf}: "
        f"{sorted(full_edges - det_edges)[:5]} — the entity_resolution "
        "oracle (which omits the m modality) would diverge"
    )


@pytest.mark.parametrize("sf", SFS)
def test_lcs_ratio_decision_matches_difflib(spark, sf):
    vertices = _vertices(spark, sf)
    blocks = build_blocks(vertices)
    pairs, _ = candidate_pairs(blocks, max_block_size=1000)
    # rule-4 candidates: non-person, not exact, not token-containment
    r4 = (
        pairs.filter(F.col("type") != "Person")
        .filter(F.col("norm_a") != F.col("norm_b"))
        .select("norm_a", "norm_b")
        .distinct()
        .collect()
    )
    checked = disagreements = 0
    for r in r4:
        a, b = r.norm_a, r.norm_b
        ta, tb = set(a.split()), set(b.split())
        if ta <= tb or tb <= ta:
            continue  # containment matched upstream of rule 4
        checked += 1
        difflib_hit = SequenceMatcher(None, a, b).ratio() >= 0.88
        lcs_hit = 2.0 * _lcs(a, b) / (len(a) + len(b)) >= 0.88
        if difflib_hit != lcs_hit:
            disagreements += 1
            print(f"DIVERGENT: {a!r} vs {b!r} difflib={difflib_hit} lcs={lcs_hit}")
    assert checked > 0, "corpus produced no rule-4 pairs — guard is vacuous"
    assert disagreements == 0, (
        f"{disagreements}/{checked} rule-4 pairs at {sf} decide differently "
        "under difflib vs LCS — the entity_resolution oracle would diverge"
    )


def test_oracle_matches_spark_at_driver_scale(spark):
    """Full end-to-end compare at sf0.01 — exactly what the driver's
    CORRECTNESS gate replays (test_driver_contract covers sf0.001)."""
    duckdb = pytest.importorskip("duckdb")
    sf = "/root/testdata/sf0.01"
    df = entrymod.queries()["entity_resolution"](spark, sf)
    srows = sorted(tuple(r) for r in df.collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    orows = sorted(
        tuple(r)
        for r in con.execute(entrymod.oracle_sql()["entity_resolution"]).fetchall()
    )
    assert len(srows) == len(orows)
    assert srows == orows
