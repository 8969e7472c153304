"""Deduplication suite for the training-data pipeline.

Exact dedup mirrors the reference's content-hash / normalized-title caches
(``data_validation_pipeline.py:188-246``) as set operations; near-dup
mirrors its fuzzy sorted-token key + similarity check (``:227-280``) but
re-expressed as LSH so it scales: MinHash over token shingles, SimHash with
banded Hamming buckets, and verified n-gram Jaccard — all shuffle-bounded
(candidates come from bucket joins, never an all-pairs scan).

Everything here is pure Column math (higher-order functions + xxhash64);
the only wide ops are groupBys/joins keyed on content hashes or LSH bands.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neuronews_spark.functions.normalize import (
    minhash_band_keys,
    token_shingles,
)
from neuronews_spark.operators.text_stats import ws_tokens


# ---------------------------------------------------------------- exact

def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical texts: (content_hash, n_docs, doc_ids),
    only groups with >1 member (the duplicate audit shape,
    upsert_enriched.py:209-227 ``GROUP BY ... HAVING count > 1``)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep exactly one representative (min id) per identical text —
    deterministic, unlike ``dropDuplicates`` which keeps an arbitrary row."""
    w = df.withColumn("_h", F.md5(F.col(text_col)))
    keep = w.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return w.join(keep, ["_h", id_col]).drop("_h")


# ------------------------------------------------------------- jaccard

def token_jaccard(a: Column, b: Column) -> Column:
    """Token-set Jaccard — semantics of the reference's
    semantic_analyzer.py:406-418, as Column math."""
    sa, sb = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _shingle_frame(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(doc, shingles) — distinct lowercase token n-gram shingles per doc,
    empty-shingle docs dropped.  Shared by :func:`minhash_near_duplicates`
    and :func:`decontaminate` so both detectors shingle with one scheme
    (identical band keys → identical candidate recall)."""
    toks = F.transform(ws_tokens(F.col(text_col)), lambda x: F.lower(x))
    return df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(
            token_shingles(F.array_join(toks, " "), n=shingle_n)
        ).alias("shingles"),
    ).filter(F.size("shingles") > 0)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.8,
    max_bucket: int = 500,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact token-shingle
    Jaccard: (id_a, id_b, jaccard).

    LSH proposes candidates (any shared band ⇒ ~certain for J ≥ 0.8 with
    32 hashes × 8 bands); exact Jaccard verification removes false bucket
    collisions, so output quality does not depend on LSH tuning — only
    recall does. Oversized buckets are dropped (skew cap), as in blocking.

    Plan shape (third iteration — each fixed a measured bottleneck):
      1. candidate generation + pair dedup carry ONLY (id_a, id_b) — the
         round-2 plan shipped both shingle arrays through the bucket
         self-join AND the cross-band dedup (array payloads on a
         pair-count-shaped shuffle);
      2. the lossless size-ratio prefilter (J ≥ t ⇒ min|set|/max|set| ≥ t)
         runs on a joined per-doc size table — two ints per pair — and on
         template-clustered corpora kills most candidates before any
         array moves;
      3. only surviving pairs join the per-doc shingle table back (small
         relative to the pair fan-out; AQE broadcasts it at this scale,
         plain shuffle join at cluster scale) and verify with JVM
         ``array_intersect``/``array_union`` — no Python.
    A bucket-LOCAL matmul verify (the srp_lsh_near_dups shape) was tried
    and reverted: set intersection via dense membership matmul is
    O(n²·V) in the bucket's shingle vocabulary (V ≈ 150k on sf0.1
    template corpora — measured 5× slower than round 2), while dense
    64-dim cosine is O(n²·64); the two detectors genuinely want
    different verify topologies.
    """
    # pinned: feeds bucketing, the size table, and join-back
    base = _shingle_frame(df, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    keyed = base.select(
        "doc",
        F.explode(
            minhash_band_keys(F.col("shingles"), n_hashes=n_hashes, bands=bands, prefix="d")
        ).alias("bucket"),
    )
    ok = (
        keyed.groupBy("bucket")
        .count()
        .filter(F.col("count") <= max_bucket)
        .select("bucket")
    )
    keyed = keyed.join(ok, "bucket")

    cand = (
        keyed.select("bucket", F.col("doc").alias("id_a"))
        .join(keyed.select("bucket", F.col("doc").alias("id_b")), "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("bucket")
        .dropDuplicates(["id_a", "id_b"])
    )
    sizes = base.select("doc", F.size("shingles").alias("sz"))
    pruned = (
        cand.join(sizes.withColumnsRenamed({"doc": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc": "id_b", "sz": "sz_b"}), "id_b")
        .filter(
            F.least("sz_a", "sz_b")
            >= F.lit(jaccard_threshold) * F.greatest("sz_a", "sz_b")
        )
        .select("id_a", "id_b")
    )
    sh = base.select("doc", "shingles")
    pairs = (
        pruned.join(sh.withColumnsRenamed({"doc": "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"doc": "id_b", "shingles": "sh_b"}), "id_b")
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(token_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= jaccard_threshold)


def dedup_lines_across_corpus(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4-style corpus-wide line dedup (Raffel et al. 2020: any line
    occurring more than once in the corpus is kept only at its first
    occurrence): split every document into trimmed non-empty lines,
    keep each distinct line's first occurrence — minimum (doc id, line
    index) lexicographically — drop every other occurrence, and
    reassemble the surviving lines in original order.  Returns
    (id, text, n_lines_kept, n_lines_dropped); documents whose lines
    are all dropped still appear, with empty text.

    Plan shape: posexplode → ONE shuffle keyed on the line value with a
    min-struct aggregate (map-side combine collapses per-partition
    repeats, so the shuffle is bounded by distinct-line cardinality,
    not total lines), a semi-join of (doc, idx) winners back onto the
    exploded rows, then one groupBy-on-doc reassembly.  No text
    payload rides the value-keyed shuffle beyond one copy per distinct
    line.  At 100 TB this is the canonical two-shuffle dedup topology;
    hot lines (boilerplate repeated millions of times) collapse
    map-side, so the value shuffle is skew-resistant by construction.
    """
    lines = (
        df.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("_idx", "_raw"),
        )
        .select("_id", "_idx", F.trim("_raw").alias("_line"))
        .filter(F.col("_line") != "")
        # three consumers below (winners agg, semi-join probe, totals agg):
        # without a pin the corpus-wide split/explode re-executes 3×
        .localCheckpoint(eager=True)
    )
    winners = (
        lines.groupBy("_line")
        .agg(F.min(F.struct("_id", "_idx")).alias("_w"))
        .select(F.col("_w._id").alias("_id"), F.col("_w._idx").alias("_idx"))
    )
    kept = lines.join(winners, ["_id", "_idx"], "left_semi")
    reassembled = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = lines.groupBy("_id").agg(F.count(F.lit(1)).alias("_n_total"))
    return (
        totals.join(reassembled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            (
                F.col("_n_total") - F.coalesce("n_lines_kept", F.lit(0))
            ).alias("n_lines_dropped"),
        )
    )


def dup_ngram_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Duplicated n-gram span coverage (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": 13-gram spans repeated
    anywhere in the corpus mark near-verbatim duplication): per document,
    the fraction of tokens covered by some n-gram that occurs ≥2 times
    corpus-wide (including within the same document).  Returns
    (id, n_tokens, n_dup_grams, covered_tokens, dup_coverage).

    Scale plan: gram identity travels as ``xxhash64`` of the joined
    tokens — the duplicate-detection shuffle carries (hash, doc, pos)
    ints only, never 13-token strings, and map-side combine collapses
    hot boilerplate grams.  Coverage = |∪ [i, i+n-1]| per doc, computed
    by exploding each duplicated gram into its n token indices and
    distinct-counting — bounded by n · dup_grams rows of two ints.
    2⁻⁶⁴ hash collisions would merge two distinct grams; deterministic
    and negligible at any realistic corpus size (noted for the mirror,
    which groups by the gram string itself).
    """
    # NULL text keeps NULL tokens, so its n_tokens stays NULL
    text = F.col(text_col)
    toks = F.when(text.isNotNull(), ws_tokens(F.lower(text)))
    base = df.select(
        F.col(id_col).alias("_id"), toks.alias("_t")
    ).select("_id", "_t", F.size("_t").alias("_L")).localCheckpoint(eager=True)
    grams = base.filter(F.col("_L") >= n).select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_L") - n),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_t", i + 1, n))),
            )
        ).alias("_i", "_h"),
    )
    dup = (
        grams.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("_h")
    )
    dup_grams = grams.join(dup, "_h", "left_semi")
    per_doc_dup = dup_grams.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_dup_grams")
    )
    covered = (
        dup_grams.select(
            "_id",
            F.explode(F.sequence(F.col("_i"), F.col("_i") + (n - 1))).alias("_x"),
        )
        .distinct()
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    return (
        base.select("_id", "_L")
        .join(per_doc_dup, "_id", "left")
        .join(covered, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_L").alias("n_tokens"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.round(
                F.when(
                    F.col("_L") > 0,
                    F.coalesce("covered_tokens", F.lit(0)).cast("double")
                    / F.col("_L"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_coverage"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    shingle_n: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 500,
) -> DataFrame:
    """Train/eval contamination detector: eval rows whose near-duplicate
    (token-shingle Jaccard ≥ threshold, MinHash-LSH candidates, exact
    verify) appears in the training set — the decontamination pass an LLM
    data pipeline runs before training. Returns
    (eval_id, train_id, jaccard), one row per contaminated cross-pair.

    ASYMMETRIC topology (train ≫ eval, the production shape): both sides
    are shingled and band-keyed with the SAME scheme as
    :func:`minhash_near_duplicates`, then candidates come from a
    train-bucket × eval-bucket equi-join — never a union self-join.  At
    100 TB that means (a) no train×train candidate pairs are proposed or
    deduped just to be filtered out, (b) the eval band-key table is tiny
    and AQE broadcasts it, so the only corpus-sized shuffle left is the
    map-side-combined bucket-cap count, and (c) the exact-Jaccard verify
    touches only cross pairs.  Semantics are unchanged vs the former
    union-composition version: identical shingle/band scheme → identical
    cross-candidate recall, exact verify → identical output pairs; an id
    appearing on BOTH sides simply reports itself at jaccard 1.0.  Each
    output id keeps its own side's type (train/eval id types may differ).
    The bucket cap counts TRAIN docs per bucket (hot boilerplate buckets
    are a corpus phenomenon; the union version's cap counted both sides,
    differing only by the ≤|eval-in-bucket| margin)."""
    tb = _shingle_frame(train, id_col, text_col, shingle_n).localCheckpoint(eager=True)
    eb = _shingle_frame(eval_, id_col, text_col, shingle_n).localCheckpoint(eager=True)

    def keyed(side: DataFrame) -> DataFrame:
        return side.select(
            "doc",
            F.explode(
                minhash_band_keys(
                    F.col("shingles"), n_hashes=n_hashes, bands=bands, prefix="d"
                )
            ).alias("bucket"),
        )

    tkeyed = keyed(tb)
    ok = (
        tkeyed.groupBy("bucket")
        .count()
        .filter(F.col("count") <= max_bucket)
        .select("bucket")
    )
    cand = (
        tkeyed.join(ok, "bucket")
        .join(
            keyed(eb).withColumnsRenamed({"doc": "_edoc"}), "bucket"
        )
        .select(F.col("doc").alias("_tdoc"), "_edoc")
        .dropDuplicates(["_tdoc", "_edoc"])
    )
    # lossless size-ratio prefilter: J >= t  =>  min|set|/max|set| >= t
    tsz = tb.select(F.col("doc").alias("_tdoc"), F.size("shingles").alias("_szt"))
    esz = eb.select(F.col("doc").alias("_edoc"), F.size("shingles").alias("_sze"))
    pruned = (
        cand.join(tsz, "_tdoc")
        .join(esz, "_edoc")
        .filter(
            F.least("_szt", "_sze")
            >= F.lit(jaccard_threshold) * F.greatest("_szt", "_sze")
        )
        .select("_tdoc", "_edoc")
    )
    pairs = pruned.join(
        tb.withColumnsRenamed({"doc": "_tdoc", "shingles": "_sht"}), "_tdoc"
    ).join(eb.withColumnsRenamed({"doc": "_edoc", "shingles": "_she"}), "_edoc")
    return pairs.select(
        F.col("_edoc").alias("eval_id"),
        F.col("_tdoc").alias("train_id"),
        F.round(token_jaccard(F.col("_sht"), F.col("_she")), 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= jaccard_threshold)


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Duplicated-span REMOVAL (the transformation half of Lee et al.
    2021's ExactSubstr dedup; :func:`dup_ngram_coverage` is the
    measurement half): for every token n-gram that occurs ≥2 times
    corpus-wide, keep its first occurrence and delete the tokens of
    every other occurrence, then reassemble each document from its
    surviving tokens.

    Exact rule (deterministic, order-free): the KEEPER of a gram is its
    minimum (doc, position) occurrence; a token index is deleted iff it
    is covered by ≥1 loser occurrence AND by no keeper occurrence in
    the same document — so the canonical copy of a boilerplate span
    survives verbatim (even when its doc also contains loser spans) and
    every other copy vanishes.  Reassembly is token-joined (single
    spaces, lowercase — the tokenizer's view), NOT byte-faithful;
    returns ``(id, n_tokens, n_removed, text_md5)`` with the md5 over
    the reassembled text so the compare payload stays small.  Docs
    shorter than ``n`` tokens pass through unchanged.

    Scale plan: identical shuffle topology to dup_ngram_coverage (gram
    ids as xxhash64, (hash, doc, pos) int shuffles, map-side combine on
    hot grams) plus one min-struct agg for keepers and two (doc, token
    index) distinct sets bounded by n · dup_occurrences; the final
    token-drop is per-row array logic (no reassembly shuffle — kept
    tokens never leave their row).
    """
    # NULL text keeps NULL tokens, so its n_tokens stays NULL
    text = F.col(text_col)
    toks = F.when(text.isNotNull(), ws_tokens(F.lower(text)))
    base = df.select(
        F.col(id_col).alias("_id"), toks.alias("_t")
    ).select("_id", "_t", F.size("_t").alias("_L")).localCheckpoint(eager=True)
    grams = base.filter(F.col("_L") >= n).select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("_L") - n),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_t", i + 1, n))),
            )
        ).alias("_i", "_h"),
    )
    occ = grams.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct("_id", "_i")).alias("_w"),
    )
    dup_occ = grams.join(
        occ.filter(F.col("_c") > 1).select("_h", "_w"), "_h"
    ).select(
        "_id",
        "_i",
        (
            (F.col("_id") == F.col("_w._id")) & (F.col("_i") == F.col("_w._i"))
        ).alias("_keep"),
    )
    span_idx = lambda side: (  # noqa: E731  (doc, token index) set
        side.select(
            "_id",
            F.explode(F.sequence(F.col("_i"), F.col("_i") + (n - 1))).alias(
                "_x"
            ),
        ).distinct()
    )
    protected = span_idx(dup_occ.filter(F.col("_keep")))
    removed = (
        span_idx(dup_occ.filter(~F.col("_keep")))
        .join(protected, ["_id", "_x"], "left_anti")
        .groupBy("_id")
        .agg(F.collect_set("_x").alias("_rm"))
    )
    return (
        base.join(removed, "_id", "left")
        .select(
            "_id",
            "_t",
            "_L",
            F.coalesce("_rm", F.array().cast("array<int>")).alias("_rm"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("_L").cast("bigint").alias("n_tokens"),
            F.size("_rm").cast("bigint").alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.filter(
                            F.zip_with(
                                F.col("_t"),
                                F.sequence(F.lit(0), F.col("_L") - 1),
                                lambda tok, i: F.struct(
                                    tok.alias("tok"), i.alias("i")
                                ),
                            ),
                            lambda s: ~F.array_contains(
                                F.col("_rm"), s["i"]
                            ),
                        ),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("text_md5"),
        )
    )


def ngram_decontaminate(
    train: DataFrame,
    eval_: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Exact n-gram decontamination (the GPT-3 appendix-C / PaLM family
    of methods): an eval document is dirty to the degree its token
    n-grams appear ANYWHERE in the training corpus — the exact-overlap
    complement of :func:`decontaminate`'s whole-document near-dup test,
    catching verbatim quoted spans that whole-doc Jaccard dilutes away.

    Returns one row per eval doc (clean docs included, so the output
    cardinality is |eval|): ``(eval_id, n_grams, n_dirty_grams,
    dirty_frac, contaminated)`` where n_grams counts the doc's DISTINCT
    n-grams, n_dirty_grams those also present in train, and
    contaminated = n_dirty_grams > 0.

    Gram convention matches :func:`token_shingles` / the whitespace
    tokenizer used corpus-wide: lowercase, :func:`ws_tokens`; a doc with
    1 ≤ tokens < n contributes its full token sequence as ONE gram (so
    short eval items — quiz answers, single sentences — are still
    testable, and only collide with equally-short train grams); an
    empty/NULL doc scores (0, 0, 0.0, false).

    Scale plan: gram identity travels as xxhash64 — per-doc dedup via
    ``array_distinct`` BEFORE the explode (zero-shuffle), so the wide
    ops are (1) the train-gram ``distinct`` (int-only, map-side partial
    agg collapses hot boilerplate grams — the skew guard), (2) one
    hash-keyed left-semi join, (3) one groupBy on eval id.  No token
    string crosses a shuffle.  2⁻⁶⁴ hash collisions could mark a clean
    gram dirty; deterministic and negligible (the mirror groups by the
    gram string itself, so the oracle would catch a collision at test
    scale).
    """

    def _doc_grams(df: DataFrame) -> DataFrame:
        toks = ws_tokens(F.lower(F.col(text_col)))
        return df.select(
            F.col(id_col).alias("_id"), toks.alias("_t")
        ).select(
            "_id",
            F.when(
                F.size("_t") >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("_t") - n),
                        lambda i: F.xxhash64(
                            F.concat_ws(" ", F.slice("_t", i + 1, n))
                        ),
                    )
                ),
            )
            .when(
                F.size("_t") >= 1,
                F.array(F.xxhash64(F.concat_ws(" ", "_t"))),
            )
            .otherwise(F.array().cast("array<bigint>"))
            .alias("_g"),
        )

    train_grams = (
        _doc_grams(train).select(F.explode("_g").alias("_h")).distinct()
    )
    eval_docs = _doc_grams(eval_).select(
        "_id", "_g", F.size("_g").alias("n_grams")
    )
    dirty = (
        eval_docs.select("_id", F.explode("_g").alias("_h"))
        .join(train_grams, "_h", "left_semi")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_dirty_grams"))
    )
    return (
        eval_docs.select("_id", "n_grams")
        .join(dirty, "_id", "left")
        .select(
            F.col("_id").alias("eval_id"),
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.coalesce("n_dirty_grams", F.lit(0))
            .cast("bigint")
            .alias("n_dirty_grams"),
            F.round(
                F.when(
                    F.col("n_grams") > 0,
                    F.coalesce("n_dirty_grams", F.lit(0)).cast("double")
                    / F.col("n_grams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dirty_frac"),
            (F.coalesce("n_dirty_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def bloom_ngram_decontaminate(
    train: DataFrame,
    eval_: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    m_bits: int = 1 << 22,
    k: int = 5,
) -> DataFrame:
    """Bloom-filter variant of :func:`ngram_decontaminate` — the
    broadcast-sketch topology for the train ≫ eval regime at 100 TB:
    instead of shuffling eval grams into a semi join against the
    train-gram set, the train grams are folded into an ``m_bits``-bit
    Bloom filter (k xxhash64-derived bit positions per gram) and the
    SKETCH is broadcast; eval membership tests are then a zero-shuffle
    map over eval grams.  The train side still pays its distinct-gram
    aggregation, but nothing train-sized ever reaches the eval side —
    the join is replaced by m/8 bytes on the wire.

    Bloom guarantees no false negatives, so per eval doc
    ``n_dirty_grams_bloom ≥ ngram_decontaminate().n_dirty_grams``
    always; false positives are bounded by (1−e^(−k·n/m))^k (≈1e-6 at
    the defaults for ~50k train grams).  The driver gate query pins
    both properties against the exact operator.

    Build plan: gram ids (same in-row ``array_distinct`` convention as
    the exact path) → k bit positions per gram (JVM xxhash64, seeded
    like minhash_band_keys) → (word, mask) → groupBy(word) bit_or —
    map-side combine makes hot grams free — → collect ≤ m/64 sparse
    words (m=2^22 → ≤ 512 KB) → ``sc.broadcast``.  Probe plan: eval
    grams → k positions (JVM) → Arrow-batched numpy bit test →
    groupBy(eval id).  Returns (eval_id, n_grams, n_dirty_grams_bloom),
    one row per eval doc.
    """
    toks = ws_tokens(F.lower(F.col(text_col)))

    def _doc_grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"), toks.alias("_t")
        ).select(
            "_id",
            F.when(
                F.size("_t") >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size("_t") - n),
                        lambda i: F.xxhash64(
                            F.concat_ws(" ", F.slice("_t", i + 1, n))
                        ),
                    )
                ),
            )
            .when(
                F.size("_t") >= 1,
                F.array(F.xxhash64(F.concat_ws(" ", "_t"))),
            )
            .otherwise(F.array().cast("array<bigint>"))
            .alias("_g"),
        )

    def _positions(h: Column, i: int) -> Column:
        return F.pmod(F.xxhash64(h, F.lit(i)), F.lit(m_bits))

    # ---- build: distinct train grams → sparse bitmap words --------------
    train_pos = (
        _doc_grams(train)
        .select(F.explode("_g").alias("_h"))
        .distinct()
        .select(
            F.explode(
                F.array(*[_positions(F.col("_h"), i) for i in range(k)])
            ).alias("_p")
        )
    )
    words = (
        train_pos.select(
            (F.col("_p") / 64).cast("long").alias("_w"),
            # DataFrame-API shiftleft takes only a literal shift; the SQL
            # form accepts a column expression
            F.expr("shiftleft(1L, cast(_p % 64 as int))").alias("_m"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_bits"))
        .collect()
    )
    bitmap = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in words:
        bitmap[int(r["_w"])] = np.uint64(r["_bits"] & 0xFFFFFFFFFFFFFFFF)
    bc = train.sparkSession.sparkContext.broadcast(bitmap.tobytes())

    # ---- probe: eval grams → vectorized bit test → per-doc count --------
    @F.pandas_udf("boolean")
    def _member(*pos_cols: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint64)
        ok = np.ones(len(pos_cols[0]), dtype=bool)
        for p in pos_cols:
            pv = p.to_numpy(dtype=np.int64)
            ok &= (
                (bits[pv >> 6] >> (pv.astype(np.uint64) & np.uint64(63)))
                & np.uint64(1)
            ).astype(bool)
        return pd.Series(ok)

    eval_docs = _doc_grams(eval_).select(
        "_id", "_g", F.size("_g").cast("bigint").alias("n_grams")
    )
    dirty = (
        eval_docs.select("_id", F.explode("_g").alias("_h"))
        .select(
            "_id",
            _member(
                *[_positions(F.col("_h"), i) for i in range(k)]
            ).alias("_in"),
        )
        .groupBy("_id")
        .agg(F.count_if(F.col("_in")).alias("n_dirty_grams_bloom"))
    )
    return (
        eval_docs.select("_id", "n_grams")
        .join(dirty, "_id", "left")
        .select(
            F.col("_id").alias("eval_id"),
            "n_grams",
            F.coalesce("n_dirty_grams_bloom", F.lit(0))
            .cast("bigint")
            .alias("n_dirty_grams_bloom"),
        )
    )


# -------------------------------------------------------------- simhash

def simhash_from_hashes_udf():
    """SimHash signature from an array<long> of token xxhash64 values, as
    an Arrow-batched pandas UDF: per row one numpy (n_tokens × 64) bit
    expansion + majority vote. Bit-identical to :func:`simhash64` (the
    pure-Column reference kernel, differentially tested) but the tokens
    are hashed ONCE JVM-side and the 64 bit votes happen in vectorized
    numpy — the Column version re-walks the token array per bit position
    through Spark's interpreted higher-order functions (~64 passes/row;
    measured several-fold slower, same trade-off as srp_signature_udf)."""
    weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    @F.pandas_udf(T.LongType())
    def sig(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.int64)
        for i, arr in enumerate(hashes):
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            n = h.size
            if n == 0:
                continue
            bits = (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            majority = (bits.sum(axis=0) * 2) > n
            s = weights[majority].sum(dtype=np.uint64)
            out[i] = np.array(s, dtype=np.uint64).view(np.int64)
        return pd.Series(out)

    return sig


def simhash64(tokens_col: Column) -> Column:
    """64-bit SimHash of a token array, as pure Column bit math: for each
    bit position the signed vote is summed over token xxhash64 values.

    Reference kernel for :func:`simhash_from_hashes_udf` (the fast path
    used by :func:`simhash_near_duplicates`); kept as the no-Python-workers
    alternative and the differential-test oracle."""
    # votes[b] = sum over tokens of (bit b set ? +1 : -1)
    # = 2 * count(bit set) - n
    n = F.size(tokens_col)

    def _bit_set(b: int):
        # single-arg lambda factory: a two-parameter lambda would be treated
        # by F.filter as its (element, index) form
        return lambda t: (
            F.shiftrightunsigned(F.xxhash64(t), b).bitwiseAND(F.lit(1)) == 1
        )

    bits = []
    for b in range(64):
        set_count = F.size(F.filter(tokens_col, _bit_set(b)))
        bit = F.when((set_count * 2) > n, F.lit(1)).otherwise(F.lit(0)).cast("long")
        bits.append(F.shiftleft(bit, b))
    out = bits[0]
    for x in bits[1:]:
        out = out.bitwiseOR(x)
    return out


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int = 500,
) -> DataFrame:
    """SimHash near-dup pairs: (id_a, id_b, hamming ≤ max_hamming).

    Bucketing by the 4 16-bit bands of the signature: two signatures within
    Hamming distance 3 must agree on ≥1 band (pigeonhole), so the band join
    is a lossless candidate generator for max_hamming ≤ 3.

    Signature kernel: tokens are lower-cased and xxhash64'd once JVM-side
    (a single higher-order pass), then the 64-bit majority vote runs in the
    Arrow-batched numpy UDF — bit-identical to the pure-Column
    :func:`simhash64` but without its 64 interpreted passes per row."""
    toks = F.transform(ws_tokens(F.col(text_col)), lambda x: F.lower(x))
    token_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    sig_udf = simhash_from_hashes_udf()
    sigs = df.select(
        F.col(id_col).alias("doc"), sig_udf(token_hashes).alias("sig")
    ).filter(F.size(ws_tokens(F.col(text_col))) > 0)
    bands = []
    for b in range(4):
        bands.append(
            F.concat_ws(
                ":",
                F.lit(str(b)),
                F.shiftrightunsigned(F.col("sig"), b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .cast("string"),
            )
        )
    keyed = sigs.select("doc", "sig", F.explode(F.array(*bands)).alias("bucket"))
    ok = keyed.groupBy("bucket").count().filter(F.col("count") <= max_bucket)
    keyed = keyed.join(ok.select("bucket"), "bucket")

    a = keyed.select("bucket", F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    b2 = keyed.select("bucket", F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    cand = (
        a.join(b2, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Blocked n-gram Jaccard similarity pairs (id_a, id_b, jaccard ≥ t).
    ``block_col`` (e.g. source) bounds the candidate space; None = a
    single block (only for small corpora/tests).

    Plan: inverted-index join, not a quadratic array-carrying self-join —
    explode the distinct shingles, equi-join on (block, gram), and count
    shared grams per pair; ``J = c / (|A| + |B| − c)`` needs only that
    count plus two broadcast-size per-doc set sizes.  Pairs sharing zero
    grams never materialize, which is LOSSLESS for threshold > 0, and
    the pair shuffle carries three ints instead of two shingle arrays
    (the previous shape spent ~50 s at sf0.1 moving gram arrays through
    620k pairs; this one moves only the ~c-weighted overlap rows).  At
    100 TB the skew knob is the hot-gram frequency within a block —
    high-entropy shingles keep per-gram fan-out small, and a stop-shingle
    cap can be layered on losslessly only by falling back to the exact
    array verify for affected docs (not needed at current scales)."""
    if threshold <= 0:
        raise ValueError("threshold must be > 0 for the inverted-index plan")
    toks = F.transform(ws_tokens(F.col(text_col)), lambda x: F.lower(x))
    grams = F.array_distinct(token_shingles(F.array_join(toks, " "), n=n))
    base = df.select(
        (F.col(block_col) if block_col else F.lit("all")).alias("blk"),
        F.col(id_col).alias("doc"),
        grams.alias("grams"),
    ).filter(F.size("grams") > 0)
    sizes = base.select("doc", F.size("grams").alias("sz"))
    inv = base.select("blk", "doc", F.explode("grams").alias("g"))
    a = inv.select("blk", "g", F.col("doc").alias("id_a"))
    b = inv.select("blk", "g", F.col("doc").alias("id_b"))
    shared = (
        a.join(b, ["blk", "g"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        shared.join(sizes.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("doc").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("c") / (F.col("sz_a") + F.col("sz_b") - F.col("c")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# -------------------------------------------------- embedding cosine

def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.9,
    max_block: int = 200_000,
    all_pairs_chunks: int = 32,
) -> DataFrame:
    """Blocked exact embedding near-duplicate pairs (id_a, id_b, sim ≥ t).

    Block-local chunked matmul via ``applyInPandas`` — for dense
    fixed-dim cosine the matmul verify topology is the RIGHT one
    (O(n²·d), the same shape srp_lsh uses per bucket; contrast the
    minhash shingle case where it was measured 5× wrong).  The previous
    form self-joined the block and evaluated the cosine with
    zip_with/aggregate HOFs — interpreted per element, ~d interpreter
    dispatches per pair: 5.0 s at sf0.1 vs ~1 s for the matmul on the
    same output.

    ``block_col`` is the shard key that bounds each group (one Arrow
    task per block, chunked internally so memory is O(chunk·|block|));
    a block larger than ``max_block`` raises rather than silently
    degrading — an exact all-pairs baseline is inherently quadratic, and
    past that size :func:`srp_lsh_near_dups` is the scale path.

    ``block_col=None`` (true all-pairs, the brute-force recall truth)
    does NOT funnel the table into one group: rows are chunked by a
    deterministic id hash into ``all_pairs_chunks`` chunks and each row
    is replicated to its P chunk-PAIR groups, so the quadratic work
    spreads over P(P+1)/2 tasks (replication cost O(n·P) vector rows vs
    a single task computing all O(n²) sims serially).  Groups spanning
    two chunks emit only cross-chunk pairs; same-chunk pairs come from
    the (i,i) group — every pair exactly once.

    Rounding note: numpy's pairwise-summed dot can differ from the old
    sequential HOF fold in the last ulp; outputs are rounded to 6
    decimals, and a full differential at sf0.001/0.01/0.1 confirmed
    byte-identical pairs and sims."""
    id_type = {f.name: f.dataType for f in df.schema.fields}[
        id_col
    ].simpleString()
    if block_col is not None:
        base = df.select(
            F.col(block_col).alias("blk"),
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.lit(0).alias("_c"),
        )
        keys = ["blk"]
    else:
        p = int(all_pairs_chunks)
        base = (
            df.select(
                F.pmod(
                    F.xxhash64(F.col(id_col).cast("string")), F.lit(p)
                ).alias("_c"),
                F.col(id_col).alias("vid"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
            # chunk c meets chunk k in group (min(c,k), max(c,k)): the
            # (i,j) group receives chunk i's rows via k=j and chunk j's
            # via k=i — exactly one copy of each row per group
            .withColumn("_k", F.explode(F.sequence(F.lit(0), F.lit(p - 1))))
            .select(
                F.least("_c", "_k").alias("blk_i"),
                F.greatest("_c", "_k").alias("blk_j"),
                "vid",
                "v",
                "_c",
            )
        )
        keys = ["blk_i", "blk_j"]

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_block:
            raise ValueError(
                f"embedding_cosine_pairs block of {n} rows exceeds "
                f"max_block={max_block}; exact all-pairs is quadratic — "
                "shard via block_col or use srp_lsh_near_dups"
            )
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []})
        ids = pdf["vid"].to_numpy()
        chunks = pdf["_c"].to_numpy()
        # two distinct chunks in the group ⇒ (i,j) cross group: same-chunk
        # pairs belong to the (i,i)/(j,j) groups, emit cross pairs only
        cross_only = bool((chunks != chunks[0]).any())
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: sim 0, never ≥ t > 0
        u = m / norms[:, None]
        out_a, out_b, out_s = [], [], []
        chunk = max(1, 8_000_000 // max(n, 1))  # ~64 MB sim tiles
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            sims = np.round(u[lo:hi] @ u.T, 6)
            rr, cc = np.nonzero(sims >= threshold)
            gr = rr + lo
            mask = ids[gr] < ids[cc]  # value order, elementwise
            if cross_only:
                mask &= chunks[gr] != chunks[cc]
            out_a.append(ids[gr[mask]])
            out_b.append(ids[cc[mask]])
            out_s.append(sims[rr[mask], cc[mask]])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else [],
                "id_b": np.concatenate(out_b) if out_b else [],
                "sim": np.concatenate(out_s) if out_s else [],
            }
        )

    return base.groupBy(*keys).applyInPandas(
        _pairs, schema=f"id_a {id_type}, id_b {id_type}, sim double"
    )


def srp_signature_udf(n_planes: int, dim: int | None = None, seed: int = 7):
    """Signed-random-projection signature as an Arrow-batched pandas UDF:
    one matmul per batch against a deterministic N(0,1) plane matrix,
    packed into a long. (Hyperplane LSH: P[bit equal] = 1 - θ/π.)

    ``dim=None`` infers the dimension from the first Arrow batch on the
    executor (seed + dim determine the plane matrix, so every executor
    derives the identical planes).  This matters when the input is an
    expensive lazy pipeline: a driver-side ``select(size(vec)).first()``
    dim probe would execute the whole upstream once just to read one
    int — an embed pipeline with a corpus-wide IDF aggregation cannot
    short-circuit a LIMIT 1 — doubling the caller's embed cost."""
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def _planes(d: int) -> np.ndarray:
        return np.random.default_rng(seed).standard_normal((d, n_planes))

    planes = _planes(dim) if dim is not None else None

    @F.pandas_udf(T.LongType())
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        p = planes if planes is not None else _planes(m.shape[1])
        bits = (m @ p) >= 0.0  # (batch, n_planes)
        return pd.Series(bits @ weights)

    return sig


def srp_lsh_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
    max_bucket: int = 2000,
) -> DataFrame:
    """Embedding near-dup pairs at scale: SRP-LSH buckets propose
    candidates, exact cosine verifies (so precision is exact; only recall
    depends on LSH tuning). Candidates never leave their bucket: each
    band-bucket group is verified LOCALLY with one (size, dim) × (dim,
    size) matmul inside ``applyInPandas``, and only pairs that clear the
    threshold are emitted (then pair-deduped across bands). The shuffle
    therefore carries O(n·bands) vector rows — never O(candidates) pair
    rows: on a template-clustered corpus (sf0.1 text embeddings) the
    candidate pair set is ~7M for 5k docs, so a pair-materializing verify
    moves ~2×64 doubles × 7M through a shuffle while this plan moves 40k
    vector rows and does the 10.7M dot products as ~0.7 GFLOP of batched
    BLAS. Oversized buckets are dropped (skew cap, reported by callers via
    bucket stats), as in blocking; the cap also bounds each pandas group
    (cap² dot products ≤ 2000²·d flops, ~32 MB of sims). With 16 planes /
    4 bands a pair at cos ≥ 0.9 (θ ≤ 0.45 rad) collides in ≥1 band with
    p ≈ 1-(1-(1-θ/π)^4)^4 ≳ 0.97."""

    # dim is inferred per batch on the executors (seed+dim → same planes
    # everywhere): a driver-side size().first() probe here would execute
    # the entire upstream pipeline once just for the dimension — for the
    # text path (embed → SRP) that DOUBLED the embed cost, since the IDF
    # aggregation cannot short-circuit a LIMIT 1.  Empty input flows
    # through naturally (no pandas groups → empty result, same schema).
    sig = srp_signature_udf(n_planes, seed=seed)

    r = n_planes // bands
    mask = (1 << r) - 1
    # pinned: the frame below feeds bucket counting, both sides of the
    # candidate self-join, and the vector join-back — without a pin the
    # whole upstream plan (often an embed pipeline) recomputes 4×
    base = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
        sig(F.col(vec_col)).alias("sig"),
    ).localCheckpoint(eager=True)
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                F.shiftrightunsigned(F.col("sig"), b * r)
                .bitwiseAND(F.lit(mask))
                .cast("string"),
            )
            for b in range(bands)
        ]
    )
    keyed = base.select("vid", "v", F.explode(band_keys).alias("bucket"))
    ok = (
        keyed.groupBy("bucket")
        .count()
        .filter(F.col("count") <= max_bucket)
        .select("bucket")
    )
    keyed = keyed.join(ok, "bucket")

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def _verify_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype=object),
                    "id_b": pd.Series([], dtype=object),
                    "sim": pd.Series([], dtype="float64"),
                }
            )
        order = np.argsort(pdf["vid"].to_numpy())  # id_a < id_b via sort
        ids = pdf["vid"].to_numpy()[order]
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])[order]
        dots = m @ m.T
        norms = np.linalg.norm(m, axis=1)
        denom = np.outer(norms, norms)
        sims = np.round(
            np.where(denom > 0, dots / np.maximum(denom, 1e-300), 0.0), 6
        )
        ia, ib = np.triu_indices(n, k=1)
        keep = sims[ia, ib] >= threshold
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "sim": sims[ia, ib][keep]}
        )

    verified = keyed.groupBy("bucket").applyInPandas(_verify_bucket, out_schema)
    # a true pair is re-verified once per shared band — the dedup runs over
    # verified pairs only (tiny) instead of the raw candidate fan-out;
    # max(sim) is deterministic (sims of the same pair agree across bands)
    return verified.groupBy("id_a", "id_b").agg(F.max("sim").alias("sim"))


# ------------------------------------------------- cluster + drop losers

def dedup_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop near-duplicate losers: connected components over the verified
    pair graph pick one representative (min id) per duplicate cluster;
    everything else is removed with a broadcast-able anti-join (the
    reference's "skip if duplicate" semantics,
    data_validation_pipeline.py:197-246, as a left_anti join).

    ``pairs`` is any (id_a, id_b) frame from the near-dup detectors above.
    Returns ``df`` minus the losers (schema unchanged)."""
    from neuronews_spark.operators.clustering import connected_components

    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    cc = connected_components(edges)
    losers = cc.filter(F.col("node_id") != F.col("component")).select(
        F.col("node_id").alias("_loser")
    )
    return df.join(
        losers,
        df[id_col].cast("string") == F.col("_loser"),
        "left_anti",
    )


# -------------------------------------------------- semantic dedup (SemDeDup)

def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sign_bits: int = 6,
    threshold: float = 0.3,
    max_cell: int = 200_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and greedily pruning
    near-duplicates *within* each cluster — the pruning rule is the
    paper's: inside a cluster, a document is dropped iff some
    lower-id document in the same cluster has cosine similarity ≥
    ``threshold`` (id order stands in for the paper's arbitrary-scan
    order so the decision is deterministic and engine-mirrorable).

    Clusters here are deterministic axis-aligned sign cells — the bit
    pattern of ``sign(vec[0..sign_bits-1])`` — i.e. SRP-LSH with
    axis-aligned hyperplanes: a pure Column expression both engines can
    compute, giving 2^sign_bits cells that group vectors by orthant.
    At 100 TB the cell assignment is the pluggable piece: swap in
    KMeans centroids (the paper's choice; ``event_clustering`` shows
    the distributed fit) and the per-cell kernel below is unchanged —
    the scale story is identical either way: ONE shuffle on the cell
    id, quadratic work confined to cells, each cell one Arrow task.

    Returns one row per input row (nothing is silently dropped — the
    keep decision is emitted for audit, like ``clean_corpus``):
    (id, cell, n_cell, max_sim_prior, keep) where ``max_sim_prior`` is
    the max cosine (rounded 6) to any lower-id cell-mate (null for the
    cell's first/singleton row) and ``keep = max_sim_prior is null or
    < threshold``.  A cell larger than ``max_cell`` raises rather than
    silently degrading (more sign bits / real centroids are the fix)."""
    id_type = {f.name: f.dataType for f in df.schema.fields}[
        id_col
    ].simpleString()
    cell = F.lit(0)
    for i in range(sign_bits):
        cell = cell + F.when(
            F.element_at(F.col(vec_col), i + 1) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    base = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
        cell.cast("int").alias("cell"),
    )

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cell:
            raise ValueError(
                f"semdedup cell of {n} rows exceeds max_cell={max_cell}; "
                "raise sign_bits or plug finer (KMeans) cells"
            )
        pdf = pdf.sort_values("vid", kind="mergesort").reset_index(drop=True)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        u = m / norms[:, None]
        sims = np.round(u @ u.T, 6)
        prior = np.full(n, np.nan)
        for j in range(1, n):
            prior[j] = sims[:j, j].max()
        keep = np.isnan(prior) | (prior < threshold)
        return pd.DataFrame(
            {
                id_col: pdf["vid"],
                "cell": pdf["cell"],
                "n_cell": np.full(n, n, dtype=np.int64),
                "max_sim_prior": prior,
                "keep": keep,
            }
        )

    return base.groupBy("cell").applyInPandas(
        _prune,
        schema=(
            f"{id_col} {id_type}, cell int, n_cell bigint, "
            "max_sim_prior double, keep boolean"
        ),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fraction: float | dict[str, float],
    id_col: str = "doc_id",
    seed: int = 17,
) -> DataFrame:
    """Deterministic hash-based stratified sampling: a row is kept iff
    md5(seed:id)'s leading 32 bits, as a uniform [0,1) draw, fall below
    its stratum's fraction. Unlike ``df.sample``/``sampleBy`` (RNG per
    partition attempt), membership is a pure function of the row id —
    stable across runs, partitionings, retries, and engines — which is
    what a reproducible training-data pipeline needs (and what makes the
    draw oracle-mirrorable). ``fraction`` is one float for all strata or
    a {stratum: fraction} dict (unlisted strata are dropped)."""
    u = (
        F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))), 1, 8), 16, 10)
        .cast("long")
        / F.lit(float(2**32))
    )
    if isinstance(fraction, dict):
        frac = None
        for stratum, fr in sorted(fraction.items()):
            cond = F.col(strata_col) == stratum
            frac = F.when(cond, F.lit(float(fr))) if frac is None else frac.when(cond, F.lit(float(fr)))
        frac = frac.otherwise(F.lit(-1.0))  # unlisted strata never sampled
    else:
        frac = F.lit(float(fraction))
    return df.filter(u < frac)
