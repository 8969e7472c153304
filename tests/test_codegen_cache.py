"""Spark's generated-code cache holds the ER pipeline's working set.

One ``EntityResolutionPipeline.run`` generates about 172 classes and visits
them in the same order every run; under Spark's 100-entry LRU default each
is evicted before its next use, so every warm run recompiled the whole set
with Janino. The session builders size the cache from
``session.CODEGEN_CACHE_ENTRIES`` so a warm run compiles (almost) nothing.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from neuronews_spark.pipeline import EntityResolutionPipeline
from neuronews_spark.session import CODEGEN_CACHE_ENTRIES
from neuronews_spark.sources.synthetic import synthetic_transcripts


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (Spark's own counter)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, transcripts) -> tuple:
    res = EntityResolutionPipeline(spark).run(transcripts)
    ent = res.entities.agg(
        F.count(F.lit(1)), F.bit_xor(F.xxhash64("entity_id", "name", "component"))
    ).collect()[0]
    n_edges = res.mention_edges.count()
    return tuple(ent) + (n_edges,)


def test_fixture_uses_the_shared_cache_size(spark):
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert conf == str(CODEGEN_CACHE_ENTRIES)


def test_warm_pipeline_run_does_not_recompile(spark):
    t = synthetic_transcripts(spark, n_turns=2000, turns_per_conv=20, seed=3)
    t = t.localCheckpoint(eager=True)
    first = _run(spark, t)
    assert _run(spark, t) == first
    before = _compiles(spark)
    assert _run(spark, t) == first
    compiled = _compiles(spark) - before
    # 170-173 per warm run under Spark's 100-entry default; 0-8 here
    # (residual plan choices that vary from run to run)
    assert compiled <= 10, compiled
