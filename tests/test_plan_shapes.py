"""Physical-plan regression tests: the optimizations the engine claims
must be visible in `.explain`, not just in docstrings.

Each assertion is deliberately coarse (substring on the formatted plan)
so Spark version changes in plan rendering don't break it spuriously.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


def test_tpch_q1_scan_prunes_columns_and_pushes_filter(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q1"](spark, sf_dir))
    # column pruning: the lineitem scan must not read the unused columns
    assert "l_orderkey" not in plan.split("ReadSchema")[-1].splitlines()[0]
    assert "l_quantity" in plan  # used column present
    # partial (map-side) aggregation before the exchange
    assert "partial" in plan.lower()


def test_stg_entities_mapping_join_is_broadcast(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.queries()["stg_entities"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_assemble_uses_partial_aggregation_single_shuffle(spark):
    from neuronews_spark.operators.conversations import assemble_conversations
    from neuronews_spark.sources.synthetic import synthetic_transcripts

    conv = assemble_conversations(synthetic_transcripts(spark, n_turns=2000))
    plan = _plan(conv)
    # exactly one SHUFFLE exchange: the conv_id shuffle (the synthetic
    # pool join adds a BroadcastExchange, which moves no shuffle data)
    import re

    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, shuffles
    assert "Window" not in plan


def test_candidate_pairs_shuffle_carries_only_ids(spark):
    """The blocking self-join's join output must not carry name/norm
    payload columns — they join back after pair dedup."""
    from neuronews_spark.operators.blocking import build_blocks, candidate_pairs
    from neuronews_spark.operators.mentions import distinct_vertices, extract_mentions
    from neuronews_spark.operators.conversations import assemble_conversations
    from neuronews_spark.sources.synthetic import synthetic_transcripts

    vertices = distinct_vertices(
        extract_mentions(
            assemble_conversations(synthetic_transcripts(spark, n_turns=2000))
        )
    )
    pairs, _ = candidate_pairs(build_blocks(vertices))
    plan = _plan(pairs)
    # the self-join on block_key appears before any name/norm column does:
    # find the innermost SortMergeJoin/ShuffledHashJoin on block_key and
    # check its children project only (block_key, node_id)
    assert "block_key" in plan
    # formatted plans list join keys in detail sections ("Left keys [..]")
    key_lines = [
        ln for ln in plan.splitlines() if "keys" in ln and "block_key" in ln
    ]
    assert key_lines, "no join keyed on block_key found"
    assert "name_a" in plan  # payload joined back at the end


def test_candidate_pairs_leaves_no_cached_block_table(spark):
    """candidate_pairs pins its block table for its three consumers; the
    pin must not outlive the call, or every pipeline run in a long-lived
    session leaves one more cached block table behind."""
    from neuronews_spark.functions.normalize import node_id
    from neuronews_spark.operators.blocking import build_blocks, candidate_pairs

    names = ["acme corp", "acme corporation", "globex", "globex inc", "initech"]
    vertices = spark.createDataFrame(
        [("Organization", n, n) for n in names], "entity_type string, name string, norm string"
    ).withColumn("node_id", node_id(F.col("entity_type"), F.col("name")))
    spark.catalog.clearCache()
    pairs, _ = candidate_pairs(build_blocks(vertices))
    assert pairs.count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()  # noqa: SLF001


@pytest.mark.parametrize(
    "name",
    [
        "corpus_prep",
        "pagerank_events",
        "top_influencers",
        "am_iaa_kappa",
        "position_followthrough",
        "text_srp_recall",
    ],
)
def test_registry_queries_leave_no_cached_frame(spark, sf_dir, name):
    """Operators pin shared intermediates with localCheckpoint, which
    Spark's ContextCleaner drops once the plan is unreachable. A persist()
    left in the CacheManager outlives the query, so every run in a
    long-lived session would leave one more cached frame behind."""
    import __spark_entry__ as e

    spark.catalog.clearCache()
    assert e.queries()[name](spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()  # noqa: SLF001


def test_minhash_plan_survives_a_later_operator_call(spark):
    """A minhash plan built before another operator call still collects
    the same rows after that call: its pin is not released by the later
    call or by that call's own pins."""
    from neuronews_spark.operators.dedup import minhash_near_duplicates

    def docs(words):
        return spark.createDataFrame(
            [(i, f"{words} {i % 3}") for i in range(30)], "doc_id long, text string"
        )

    outer = minhash_near_duplicates(docs("alpha beta gamma delta epsilon"))
    expected = {(a, b) for a in range(30) for b in range(a + 1, 30) if a % 3 == b % 3}
    assert {(r["id_a"], r["id_b"]) for r in outer.collect()} == expected
    minhash_near_duplicates(docs("zeta eta theta iota kappa")).collect()
    assert {(r["id_a"], r["id_b"]) for r in outer.collect()} == expected


def test_build_blocks_keys_an_empty_norm_person(spark):
    """A Person vertex whose norm is '' gets its keys. The surname key is
    the last space-split token ('' here); the last element of a filtered
    token array would raise INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI."""
    from neuronews_spark.functions.normalize import node_id
    from neuronews_spark.operators.blocking import build_blocks

    vertices = spark.createDataFrame(
        [("Person", "", "")], "entity_type string, name string, norm string"
    ).withColumn("node_id", node_id(F.col("entity_type"), F.col("name")))
    keys = {r["block_key"] for r in build_blocks(vertices).collect()}
    assert {"x|Person|", "f|Person|", "p|"} <= keys


def test_minhash_verify_joins_arrays_after_pair_dedup(spark):
    from neuronews_spark.operators.dedup import minhash_near_duplicates

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon " + str(i % 3)) for i in range(30)],
        "doc_id long, text string",
    )
    plan = _plan(minhash_near_duplicates(docs))
    # dedup on ids happens (HashAggregate on id_a/id_b or dropDuplicates →
    # aggregate), and the shingle payload join is present
    assert "id_a" in plan and "shingles" in plan


def test_clean_corpus_is_single_pass_no_shuffle(spark, sf_dir):
    """The composite cleaner claims one scan, zero shuffle, zero join —
    the quality Column math and the repetition Arrow kernel must fuse
    into a single projection pipeline."""
    import re

    import __spark_entry__ as e

    plan = _plan(e.queries()["clean_corpus"](spark, sf_dir))
    assert not re.findall(r"\(\d+\) Exchange\b", plan)
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan or "Python" in plan  # the kernel
    # count numbered plan nodes only — the formatted header repeats names
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans == 1, f"expected one documents scan, saw {scans}"


def test_deterministic_shuffle_single_hash_exchange_no_global_sort(spark):
    """Training-order shuffle must be one hash exchange on shard + a
    per-shard sort — never a rangepartitioning (global sort) plan."""
    import re

    from neuronews_spark.operators.sharding import deterministic_shuffle

    df = spark.createDataFrame(
        [(f"d{i}",) for i in range(100)], "doc_id string"
    )
    plan = _plan(deterministic_shuffle(df, "doc_id", n_shards=8, seed=17))
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, shuffles
    assert "hashpartitioning" in plan
    assert "rangepartitioning" not in plan


def test_attach_increment_single_window_and_broadcast_max(spark):
    """attach_increment's plan claims: the 1-row max in
    importance_sample-style operators is broadcast, and the attach
    argmax is ONE mention-keyed window (no global sort anywhere)."""
    from neuronews_spark.operators.incremental_er import attach_increment

    store = spark.createDataFrame(
        [("e1", "Organization", "acme rockets")],
        ["entity_id", "entity_type", "norm"],
    )
    mentions = spark.createDataFrame(
        [("m1", "Organization", "acme rocket")],
        ["mention_id", "entity_type", "norm"],
    )
    import re

    plan = _plan(attach_increment(store, mentions))
    # the scored/argmax subplan is localCheckpointed: the final plan
    # carries NO Window operator — both consumers of `matched` read the
    # truncated RDD, so the candidate join + Arrow kernel run ONCE
    windows = re.findall(r"^\s*\(\d+\) Window\b", plan, re.M)
    assert windows == [], windows
    assert "ExistingRDD" in plan
    # and the argmax never plans a global sort (TakeOrdered/global Sort)
    assert "TakeOrderedAndProject" not in plan


def test_conversation_stats_single_exchange(spark):
    """The lag window and the groupBy share conv_id partitioning —
    one shuffle exchange total."""
    from datetime import datetime

    from neuronews_spark.operators.conversations import conversation_stats

    t = spark.createDataFrame(
        [("A", 0, "user", "x", None, datetime(2024, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    plan = _plan(conversation_stats(t))
    import re

    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, shuffles
