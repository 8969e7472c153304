"""SparkSession factory tuned for the record-linkage workload.

Defaults mirror what the reference ships in its cluster conf
(``spark/conf/spark-defaults.conf:36-41``: AQE on, partition coalescing,
Kryo, vectorized reads) re-expressed for a vanilla PySpark runtime. The
session is sized by environment:

  SPARK_GRAFT_CPUS  — local[...] parallelism (default: all cores)

At cluster scale the same builder is used by ``spark-submit --py-files``;
master/executor sizing then comes from the submit command, not from here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's generated-code class cache
# (``spark.sql.codegen.cache.maxEntries``, an LRU that defaults to 100).
# One EntityResolutionPipeline.run generates about 172 distinct classes and
# visits them in the same order every run, so under the default each class
# is evicted before its next use: every warm run recompiled 168-173 classes
# with Janino on the driver thread (and the JIT then compiled them again).
# With 2000 entries a warm run compiles 0-8. This is a *static* SQL conf:
# it only takes effect on the builder that creates the JVM's first session,
# so every session builder in the repo (this factory, bench.py's
# ``_session``, the tests' ``spark`` fixture) sets it from this constant.
CODEGEN_CACHE_ENTRIES = 2000


def pin_worker_thread_pools() -> None:
    """Pin BLAS/OMP/Arrow thread pools to 1 thread per Python worker.

    Each pandas-UDF worker that imports numpy/pyarrow otherwise spins up a
    cores-wide OpenBLAS/OMP pool: with W workers on a C-core box that is
    W×C busy-wait threads and the UDF stage *anti-scales* (measured: the
    mention-extraction stage took 6s at local[8] and 68s at local[32]
    before pinning, 8s after). Must run before the JVM/gateway starts so
    workers inherit the environment. Parallelism belongs to Spark tasks,
    not intra-worker BLAS."""
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
    ):
        os.environ.setdefault(var, "1")


def _local_cores(master: str) -> int | None:
    """Task-slot count implied by a ``local[...]`` master. Returns ``None``
    for cluster masters (yarn/k8s/standalone) and ``local[*]``-on-unknown —
    the driver host's core count says nothing about cluster width, so no
    core-derived default may be sized from it."""
    if master.startswith("local[") and master.endswith("]"):
        inner = master[6:-1]
        if inner.isdigit():
            return int(inner)
        if inner == "*":
            return os.cpu_count() or 8
    return None


def get_spark(
    app_name: str = "neuronews-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with linkage-tuned defaults.

    AQE handles runtime coalescing and skew-join splitting (hot blocks /
    hot conversations); Arrow is on for the pandas-UDF scoring kernels;
    the session timezone is pinned to UTC so results compare bit-for-bit
    against the DuckDB oracle.
    """
    pin_worker_thread_pools()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    cores = _local_cores(master)
    # Width-conditional shuffle sizing (A/B-measured, docs/ROUND5_NOTES.md,
    # "Shuffle-knob A/B"):
    # narrow sessions (<= 8 task slots — the scaling legs and small clusters)
    # need extra partition granularity so AQE coalescing can't leave the
    # CPU-bound Arrow-UDF stages with ragged waves (4M-turn extraction at 8
    # cores: 10 coalesced partitions ran 2.3x slower than 24). Wide sessions
    # pay for that same granularity in per-task overhead instead: at 32 cores,
    # shuffle=4x + floor regressed the TF-IDF embed job 2.3x (2.0 s -> 4.7 s)
    # and the 1M-turn ER pipeline 23% vs shuffle=2x with byte-targeted
    # coalescing left alone. On a CLUSTER master (cores is None) no
    # core-derived default is set at all: the driver host's width says
    # nothing about cluster width, so shuffle sizing belongs to the submit
    # command (--conf spark.sql.shuffle.partitions=2-3x total executor
    # cores) or SPARK_GRAFT_SHUFFLE, with Spark's default + AQE coalescing
    # as the fallback.
    narrow = cores is not None and cores <= 8
    if shuffle_partitions is None:
        env = os.environ.get("SPARK_GRAFT_SHUFFLE")
        if env is not None:
            shuffle_partitions = int(env)
        elif cores is not None:
            shuffle_partitions = cores * 4 if narrow else cores * 2

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    if narrow:
        # Floor AQE coalescing at ~3x task slots on narrow sessions: the
        # byte-based coalescer (~64 MB targets) starves CPU-bound Arrow-UDF
        # stages of load-balance granularity when slots are few. On wide
        # sessions the floor is left off — byte-targeted coalescing is the
        # right call there (see the A/B numbers above). On a multi-executor
        # cluster the analogous rule keys off *total* executor cores.
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum",
            str(cores * 3),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
