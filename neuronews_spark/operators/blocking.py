"""Blocking: map ER vertices into candidate blocks, generate candidate pairs.

The reference restricts its candidate scan to nodes of the same type
(``resolution.py:104-108`` ``_by_type`` index) with an exact-alias-index
fast path (``resolution.py:165-167``). At 10^12-turn scale an all-pairs
scan within type is impossible, so we block (north rule): a vertex lands in
a small set of blocks and only same-block pairs are ever scored. Pairwise
F1 is *defined over same-block pairs*, so every predicate the reference can
fire must be reachable through ≥1 blocking modality:

  modality            reaches reference predicate
  ------------------  ------------------------------------------------------
  x: exact norm       exact alias-index hit (resolution.py:165-167)
  p: surname          _person_compatible — it *requires* equal surnames
                      (resolution.py:63), so surname blocking is lossless
                      for the person path
  t: token            _token_containment — containment implies ≥1 shared
                      token (every token of the smaller side is shared)
  s: sorted tokens    fuzzy sorted-token key (data_validation_pipeline.py:
                      248-280) — word-order variants
  m: MinHash-LSH      SequenceMatcher ratio ≥ 0.88 ⇒ high char-shingle
                      overlap; LSH over char-3gram shingles recovers those
                      pairs with tunable recall (16 hashes × 4 bands)
  f: prefix           deterministic 4-char prefix of the space-stripped norm
                      — guarantees the suffix/plural/spacing ratio pairs
                      (OpenAI/Open AI, Transformer/Transformers) meet even
                      when a MinHash band misses
  e: embedding LSH    random-hyperplane SimHash bands over name vectors —
                      the scalable stand-in for the reference's full
                      within-type embedding scan (resolution.py:204-215)

All keys are pure Column expressions (see ``functions.normalize``); the
pair generator is one self-equi-join on ``block_key`` with ``id_a < id_b``
ordering + global pair dedup. Hot blocks (common surnames, stop-token
blocks) are capped: blocks larger than ``max_block_size`` are *dropped and
reported* through the returned stats DataFrame (per-partition lineage),
bounding the worst-case pair count at cap²/2 per block.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neuronews_spark.functions.normalize import (
    char_shingles,
    fuzzy_sort_key,
    minhash_band_keys,
    tokens,
)


# length of the 'f' family's squashed prefix
PREFIX_LEN = 4


def prefix_key(norm: Column) -> Column:
    """The 'f' key value: the first ``PREFIX_LEN`` characters of the
    space-stripped norm."""
    return F.substring(F.regexp_replace(norm, " ", ""), 1, PREFIX_LEN)


def surname_key(norm: Column) -> Column:
    """The 'p' key value: the last space-separated token of the norm
    ('' for an empty norm, where a filtered token array has no last
    element and ``element_at`` raises under ANSI)."""
    return F.element_at(F.split(norm, " "), -1)


def block_keys_column(
    entity_type: Column,
    norm: Column,
    n_hashes: int = 16,
    bands: int = 4,
) -> Column:
    """Array of blocking keys for one vertex (all modalities, type-scoped)."""
    keys = [
        F.array(F.concat_ws("|", F.lit("x"), entity_type, norm)),
        F.array(F.concat_ws("|", F.lit("s"), entity_type, fuzzy_sort_key(norm))),
        F.array(F.concat_ws("|", F.lit("f"), entity_type, prefix_key(norm))),
        F.when(
            entity_type == F.lit("Person"),
            F.array(F.concat_ws("|", F.lit("p"), surname_key(norm))),
        ).otherwise(F.array().cast("array<string>")),
        F.transform(
            minhash_band_keys(char_shingles(norm), n_hashes=n_hashes, bands=bands),
            lambda k: F.concat_ws("|", k, entity_type),
        ),
        F.transform(
            tokens(norm),
            lambda t: F.concat_ws("|", F.lit("t"), entity_type, t),
        ),
    ]
    return F.array_distinct(F.concat(*keys))


def build_blocks(
    vertices: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """vertices(entity_type, name, norm, node_id, ...) →
    (block_key, node_id, entity_type, name, norm): one row per (vertex, key).
    """
    return vertices.select(
        F.explode(
            block_keys_column(
                F.col("entity_type"),
                F.col("norm"),
                n_hashes=n_hashes,
                bands=bands,
            )
        ).alias("block_key"),
        "node_id",
        "entity_type",
        "name",
        "norm",
    )


def block_stats(blocks: DataFrame) -> DataFrame:
    """Per-block sizes — the blocking-stage lineage/metrics source."""
    return blocks.groupBy("block_key").agg(
        F.count(F.lit(1)).alias("block_size"),
        F.first("entity_type").alias("entity_type"),
    )


def block_stats_summary(blocks: DataFrame, cap: int = 1000) -> DataFrame:
    """Blocking-strategy audit: per key family (the prefix before the
    leading letters of ``block_key`` — 'x' exact, 's' sort-key, 'f'
    prefix, 'p' person-surname, 'm' minhash bands, 't' token), the block-size
    distribution and the candidate-pair bill it implies.

    This is the query you run BEFORE committing a blocking config at
    100 TB: ``candidate_pairs`` is the exact number of scored pairs the
    self-join will shuffle, ``capped_*`` shows what the ``max_block_size``
    guard (see :func:`candidate_pairs`'s drop-and-log semantics) would
    remove.  All columns are exact integers — no float hazard — and the
    plan is two keyed aggregations (block_key, then family), both with
    map-side combine.

    Reference parity: the reference logs per-block sizes ad hoc during
    KG updates (kg_updater.py); this generalizes that into the lineage/
    metrics shape the north rule asks for."""
    sizes = blocks.groupBy("block_key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    # leading letters: 'x|…'→x, 's|…'→s, 'f|…'→f, 'p|…'→p, 't|…'→t,
    # minhash band keys 'm0_<h>_…|type'→m (band digit and hashes stripped)
    fam = F.regexp_extract(F.col("block_key"), "^([a-z]+)", 1)
    pair_bill = (F.col("sz") * (F.col("sz") - 1) / 2).cast("bigint")
    return (
        sizes.select(
            fam.alias("family"),
            "sz",
            pair_bill.alias("pairs"),
        )
        .groupBy("family")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("sz").cast("bigint").alias("n_vertex_rows"),
            F.count_if(F.col("sz") == 1).alias("n_singletons"),
            F.max("sz").cast("bigint").alias("max_block_size"),
            F.sum("pairs").cast("bigint").alias("candidate_pairs"),
            F.count_if(F.col("sz") > cap).alias("capped_blocks"),
            F.sum(F.when(F.col("sz") <= cap, F.col("pairs")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("capped_candidate_pairs"),
        )
    )


def candidate_pairs(
    blocks: DataFrame,
    max_block_size: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Same-block self-join → distinct candidate pairs (id_a < id_b).

    Returns ``(pairs, capped_blocks)``:
      pairs: id_a, id_b, type (entity_type), name_a, name_b, norm_a, norm_b,
             block_key (an arbitrary key the pair met under — kept for the
             same-block F1 evaluation)
      capped_blocks: blocks exceeding ``max_block_size`` that were excluded
             (block_key, block_size) — written to lineage by the pipeline,
             never silently dropped.

    The join shuffles both sides on ``block_key``; AQE skew-join splits any
    residual hot key. The self-join and the (id_a, id_b) dedup carry ONLY
    the two vertex ids — the name/norm payload is joined back afterwards
    from the per-vertex side (tiny relative to the pair fan-out), so the
    widest shuffle moves 2 ids instead of 6 strings per raw pair.
    """
    # blocks feeds three consumers (sizes, anti-join, self-join) — pin it
    # as the pipeline's ``_stage`` does: a lazy local checkpoint leaves no
    # CacheManager entry behind once the pairs are consumed
    blocks = blocks.localCheckpoint(eager=False)
    sizes = block_stats(blocks)
    capped = sizes.filter(F.col("block_size") > max_block_size).select(
        "block_key", "block_size", "entity_type"
    )
    ok_blocks = blocks.join(
        F.broadcast(capped.select("block_key")), "block_key", "left_anti"
    )

    slim = ok_blocks.select("block_key", "node_id")
    raw = (
        slim.alias("a")
        .join(slim.alias("b"), on="block_key")
        .filter(F.col("a.node_id") < F.col("b.node_id"))
        .select(
            "block_key",
            F.col("a.node_id").alias("id_a"),
            F.col("b.node_id").alias("id_b"),
        )
    )
    pair_ids = raw.groupBy("id_a", "id_b").agg(
        F.min("block_key").alias("block_key")
    )
    v = blocks.select("node_id", "entity_type", "name", "norm").dropDuplicates(
        ["node_id"]
    )
    pairs = (
        pair_ids.join(
            v.select(
                F.col("node_id").alias("id_a"),
                F.col("entity_type").alias("type"),
                F.col("name").alias("name_a"),
                F.col("norm").alias("norm_a"),
            ),
            "id_a",
        )
        .join(
            v.select(
                F.col("node_id").alias("id_b"),
                F.col("name").alias("name_b"),
                F.col("norm").alias("norm_b"),
            ),
            "id_b",
        )
        .select(
            "id_a", "id_b", "block_key", "type",
            "name_a", "name_b", "norm_a", "norm_b",
        )
    )
    return pairs, capped


def embedding_blocks(
    vertices: DataFrame,
    name_embeddings: DataFrame,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane SimHash LSH blocks over name-embedding vectors.

    The reference's embedding fallback brute-scans every canonical node of
    the type (resolution.py:204-215) — O(n) per mention, impossible at
    scale. SimHash-LSH preserves its *decision* (cosine ≥ 0.83 pairs are
    near-certain to share a band: at θ ≈ 34° the per-bit agreement is
    1-θ/π ≈ 0.81, and 4 bands of 4 bits give ≥1 collision w.h.p. for the
    near-duplicate vectors the threshold actually admits) while bounding
    candidates per mention. Hyperplanes are a deterministic function of
    (seed, dimension), so blocking is reproducible across runs/executors.

    Returns the same (block_key, node_id, entity_type, name, norm) shape as
    ``build_blocks``; union the two before ``candidate_pairs``.
    """
    rows = n_planes // bands

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _keys(etype: pd.Series, vecs: pd.Series) -> pd.Series:
        planes_by_dim: dict[int, np.ndarray] = {}
        out = []
        for t, v in zip(etype, vecs):
            if v is None or len(v) == 0:
                out.append([])
                continue
            arr = np.asarray(v, dtype=np.float64)
            dim = arr.shape[0]
            planes = planes_by_dim.get(dim)
            if planes is None:
                rng = np.random.default_rng(seed * 100_003 + dim)
                planes = rng.standard_normal((n_planes, dim))
                planes_by_dim[dim] = planes
            bits = (planes @ arr >= 0).astype(np.uint8)
            keys = []
            for b in range(bands):
                sig = "".join(map(str, bits[b * rows : (b + 1) * rows]))
                keys.append(f"e{b}|{t}|{sig}")
            out.append(keys)
        return pd.Series(out)

    with_vec = vertices.join(
        F.broadcast(name_embeddings.select("name", "vector")), "name"
    )
    return with_vec.select(
        F.explode(_keys(F.col("entity_type"), F.col("vector"))).alias("block_key"),
        "node_id",
        "entity_type",
        "name",
        "norm",
    )
