"""Benchmark entry point (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
COMPACT JSON line::

  {"metric":"...","value":<total sec>,"unit":"sec",
   "queries":{...per-query sec...},"sf":...,
   "er":{"n_turns":N,"turns_per_sec":T},
   "er_stress":{"n_turns":10000000,"turns_per_sec":...,
                "n_blocks":...,"n_capped_blocks":...,"cap_hit_rate":...},
   "scaling":{"cores_n":1,"cores_4n":4,"efficiency":...,...},
   "detail":"docs/bench_detail_latest.json"}

The printed line carries headline numbers ONLY (the driver tail-captures a
bounded number of bytes); the full record, including every scaling
sample, is written to the ``detail`` sidecar file.

The scaling block runs the identical ER job at N and 4N cores (N =
SPARK_GRAFT_SCALING_BASE, default 1). Each leg visit is a subprocess bound
with ``taskset -c 0..cores-1`` — a bare ``local[N]`` JVM on a wide host is
not an N-core measurement (GC, netty and Arrow threads run unconstrained).
A visit runs a warm-up, then one SMALL and one BIG job in the same JVM,
each with the hypervisor-steal fraction of its window read from
/proc/stat. Visits interleave N, 4N over rounds until SCALING_ROUNDS or
SPARK_GRAFT_SCALING_BUDGET seconds run out (at least SCALING_MIN_ROUNDS).
Per leg, the marginal throughput is (BIG − SMALL) / (t_big − t_small) over
the min steal-corrected times, which subtracts the per-job fixed driver
cost; ``efficiency = min(m_4N / m_N / 4, 1)``, or null when a leg's
big−small gap collapses below 10% of its big time. One DRAM bandwidth
probe per leg width is recorded beside it. A 4N leg wider than
``os.cpu_count()`` is never started: the block records a ``skipped``
reason. SPARK_GRAFT_SKIP_SCALING=1 skips the block.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from neuronews_spark.session import CODEGEN_CACHE_ENTRIES, pin_worker_thread_pools

pin_worker_thread_pools()  # before the JVM starts — see session.py

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
ER_TURNS = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", 1_000_000))
# The 32-core er leg reports min-over-ER_SAMPLES executions: the first
# run doubles as the ER pipeline's codegen/broadcast warmup (the suite
# queries exercise different plans), and host noise only lowers
# throughput (r5 evidence: 16.9 s vs 31.5 s for identical code in
# different eras), so a single sample measures the era, not the plan.
ER_SAMPLES = max(1, int(os.environ.get("SPARK_GRAFT_ER_SAMPLES", 2)))
# scaling legs: SMALL and BIG job sizes (the marginal is the per-turn
# slope between them), the N-leg width, and the block's wall budget
SCALING_TURNS = int(os.environ.get("SPARK_GRAFT_SCALING_TURNS", 4_000_000))
SCALING_TURNS_SMALL = int(os.environ.get("SPARK_GRAFT_SCALING_TURNS_SMALL", 1_000_000))
SCALING_BASE = int(os.environ.get("SPARK_GRAFT_SCALING_BASE", 1))
SCALING_BUDGET = float(os.environ.get("SPARK_GRAFT_SCALING_BUDGET", 2700))
SCALING_ROUNDS = 12
SCALING_MIN_ROUNDS = 3
BW_REPEATS = 3
SKIP_SCALING = os.environ.get("SPARK_GRAFT_SKIP_SCALING", "") == "1"
# ER scale-stress: one run big enough that the block caps and skew handling
# actually engage (sf0.1-scale runs never fill a 1000-vertex block); cap
# hit-rates are written to lineage and summarized in the output block
ER_STRESS_TURNS = int(os.environ.get("SPARK_GRAFT_ER_STRESS_TURNS", 10_000_000))
SKIP_ER_STRESS = os.environ.get("SPARK_GRAFT_SKIP_ER_STRESS", "") == "1"
# smoke runs (scaling skipped) write a separate sidecar so they can never
# clobber the last full-protocol scaling snapshot
DETAIL_PATH = os.environ.get(
    "SPARK_GRAFT_BENCH_DETAIL",
    os.path.join(
        _REPO,
        "docs",
        "bench_detail_smoke.json" if SKIP_SCALING else "bench_detail_latest.json",
    ),
)
SCALING_COMPACT_KEYS = (
    "cores_n", "cores_4n", "rounds",
    "turns_per_sec_n", "turns_per_sec_4n",
    "marginal_tput_n", "marginal_tput_4n", "efficiency",
    "mem_bw_gbps_n", "mem_bw_gbps_4n", "skipped",
)

BENCH_QUERIES = [
    "tpch_q1",
    "latest_event_per_user_type",
    "dim_user_activity",
    "trend_7d_moving_avg",
    "cooccurrence_events",
    "events_asof",
    "event_sessions",
    "pii_redaction",
    "token_jaccard_dups",
    "minhash_near_dups",
    "simhash_near_dups",
    "embedding_near_dups",
    "semdedup",
    "dsir_weights",
    "lm_quality_buckets",
    "bpe_top_pairs",
    "corpus_prep",
    "dup_clusters",
    "cosine_top5",
    "fingerprint_md5",
    "assemble_roundtrip",
    "mention_extraction",
    "er_scale_scored_pairs",
    "er_attach_increment",
    "pattern_entities",
    "doc_embeddings",
    "text_srp_near_dups",
    "doc_claims",
    "claim_conflicts",
    "position_followthrough",
    "doc_actors",
    "stg_entities",
    "ner_preprocess",
    "outlet_vectors",
    "entity_resolution",
]


def _session(cores: int) -> SparkSession:
    builder = (
        SparkSession.builder.appName(f"neuronews-bench-{cores}")
        .master(f"local[{cores}]")
        # throughput GC: measured ~15% faster and markedly more stable
        # than default G1 on the 4M-turn ER leg (single-JVM batch work);
        # GC thread count follows the leg's taskset affinity
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.session.timeZone", "UTC")
        # width-conditional shuffle sizing — narrow legs (the 1/4-core
        # scaling visits) get 4x slots + an AQE coalescing floor so the
        # CPU-bound Arrow-UDF stages keep load-balance granularity (8-core
        # measurement: 10 coalesced partitions ran 2.3x slower than 24);
        # wide sessions keep 2x slots with byte-targeted coalescing, which
        # an interleaved A/B (docs/ROUND5_NOTES.md, "Shuffle-knob A/B")
        # showed beats the floored config at 32 cores (doc_embeddings 2.0 s vs 4.7 s,
        # er 1M 12.4 s vs 15.2 s)
        .config(
            "spark.sql.shuffle.partitions",
            str(cores * 4 if cores <= 8 else cores * 2),
        )
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if cores <= 8:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum",
            str(cores * 3),
        )
    return builder.getOrCreate()


def _run_er_job(spark: SparkSession, n_turns: int) -> tuple[float, int]:
    """The scaling workload: full ER pipeline over synthetic transcripts.
    Returns (seconds, n_entities)."""
    from neuronews_spark.pipeline import EntityResolutionPipeline
    from neuronews_spark.sources.synthetic import synthetic_transcripts

    transcripts = synthetic_transcripts(
        spark, n_turns=n_turns, turns_per_conv=20
    )
    t0 = time.perf_counter()
    result = EntityResolutionPipeline(spark).run(transcripts)
    n_entities = result.entities.count()
    _ = result.mention_edges.count()
    return time.perf_counter() - t0, n_entities


def _affinity_cpus() -> frozenset[int]:
    """The vCPU ids this process is taskset-bound to (the leg's set)."""
    try:
        return frozenset(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return frozenset(range(os.cpu_count() or 1))


def _cpu_ticks(cpus: frozenset[int]) -> tuple[int, int, int]:
    """(busy, idle, steal) jiffies summed over the given vCPU ids from
    /proc/stat. ``steal`` is time the hypervisor ran a co-tenant while
    this guest's vCPU was runnable — host contention, unambiguously not
    this job's doing. Idle vCPUs are not runnable and accrue no steal,
    so genuine serial phases (driver-only work) are NOT miscounted as
    steal. Returns zeros if the kernel does not expose the fields."""
    busy = idle = steal = 0
    try:
        with open("/proc/stat") as fh:
            for line in fh:
                parts = line.split()
                if not (parts and parts[0].startswith("cpu") and parts[0][3:].isdigit()):
                    continue
                if int(parts[0][3:]) not in cpus:
                    continue
                v = [int(x) for x in parts[1:]]
                if len(v) < 8:
                    return 0, 0, 0
                busy += v[0] + v[1] + v[2] + v[5] + v[6]  # user nice sys irq sirq
                idle += v[3] + v[4]  # idle iowait
                steal += v[7]
    except OSError:
        return 0, 0, 0
    return busy, idle, steal


def _timed_er(spark, cpus: frozenset[int], n_turns: int) -> dict:
    """One timed job with the steal and busy fractions of its own window
    measured on the leg's taskset CPU set."""
    b0, i0, s0 = _cpu_ticks(cpus)
    sec, _n = _run_er_job(spark, n_turns)
    b1, i1, s1 = _cpu_ticks(cpus)
    total = (b1 - b0) + (i1 - i0) + (s1 - s0)
    steal_frac = (s1 - s0) / total if total > 0 else 0.0
    busy_frac = (b1 - b0) / total if total > 0 else 0.0
    return {
        "turns": n_turns,
        "sec": round(sec, 2),
        "steal": round(steal_frac, 3),
        "busy": round(busy_frac, 3),
    }


def _leg_main(cores: int) -> None:
    """Subprocess entry: one taskset-bound leg visit → one JSON line with
    a SMALL and a BIG sample, run back-to-back in the same JVM.

    A 5k-turn warm-up precedes them: the first pipeline execution pays
    ~25-30 s of size-independent JVM work (whole-stage codegen, Python
    worker spawn, committer init) that a long-lived cluster pays once at
    startup, not per job."""
    cpus = _affinity_cpus()
    spark = _session(cores)
    try:
        _run_er_job(spark, 5_000)
        samples = [
            _timed_er(spark, cpus, n) for n in (SCALING_TURNS_SMALL, SCALING_TURNS)
        ]
    finally:
        spark.stop()
    print(json.dumps({"samples": samples}))


def _bw_main(workers: int) -> None:
    """Subprocess entry: STREAM-like aggregate memory-bandwidth probe —
    best of BW_REPEATS back-to-back runs (noise only lowers bandwidth)."""
    import multiprocessing as mp

    best = 0.0
    with mp.Pool(workers) as p:
        for _ in range(BW_REPEATS):
            bws = p.map(_bw_stream, [256] * workers)
            best = max(best, sum(bws) / 1e9)
    print(json.dumps({"gbps": best}))


def _bw_stream(n_mb: int) -> float:
    import numpy as np

    a = np.ones(n_mb * 131072, dtype=np.float64)
    b = np.empty_like(a)
    t0 = time.perf_counter()
    for _ in range(20):
        np.copyto(b, a)
        a *= 1.000001
    return 20 * 2 * a.nbytes / (time.perf_counter() - t0)


def _run_bound(mode: str, cores: int) -> dict:
    """Run ``bench.py <mode> <cores>`` bound to vCPUs 0..cores-1 and
    return the JSON object on its last stdout line."""
    import shutil
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), mode, str(cores)]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def _steal_corrected_sec(s: dict) -> float:
    """Quiet-window wall time implied by a sample: t_corr = t×(1−steal).
    Idle vCPUs accrue no steal, so serial phases dilute rather than
    inflate the correction; co-tenant DRAM/cache contention is not
    corrected, so corrected samples stay lower bounds on capacity."""
    return s["sec"] * (1.0 - min(s["steal"], 0.95))


def _leg_capacity(samples: list[dict], small: int, big: int) -> dict:
    """Per-leg capacity from the leg's SMALL and BIG samples, min over
    visits (host noise only lowers throughput): ``tput_raw`` = BIG turns
    over the fastest raw BIG time, and ``marginal_corr`` = the per-turn
    slope (big − small) / (t_big − t_small) over steal-corrected times,
    which subtracts the per-job fixed cost. ``marginal_corr`` is None
    when the gap is under 10% of t_big: the min small and min big came
    from different host eras and the collapsed denominator would make
    the slope explode."""
    t_big_raw = min(s["sec"] for s in samples if s["turns"] == big)
    t_small = min(_steal_corrected_sec(s) for s in samples if s["turns"] == small)
    t_big = min(_steal_corrected_sec(s) for s in samples if s["turns"] == big)
    gap = t_big - t_small
    return {
        "tput_raw": big / t_big_raw,
        "marginal_corr": (big - small) / gap if gap > 0.1 * t_big else None,
    }


def _scaling_summary(
    samples_n: list[dict], samples_4n: list[dict], small: int, big: int
) -> dict:
    """The scaling estimator: efficiency = min(m_4N / m_N / 4, 1) over the
    legs' steal-corrected marginals; null when either marginal is."""
    cap_n = _leg_capacity(samples_n, small, big)
    cap_4n = _leg_capacity(samples_4n, small, big)
    m_n, m_4n = cap_n["marginal_corr"], cap_4n["marginal_corr"]
    ratio = m_4n / m_n / 4.0 if m_n and m_4n else None
    return {
        "turns_per_sec_n": round(cap_n["tput_raw"], 1),
        "turns_per_sec_4n": round(cap_4n["tput_raw"], 1),
        "marginal_tput_n": round(m_n, 1) if m_n else None,
        "marginal_tput_4n": round(m_4n, 1) if m_4n else None,
        "efficiency_unclamped": round(ratio, 3) if ratio else None,
        "efficiency": round(min(ratio, 1.0), 3) if ratio else None,
    }


def _measure_scaling() -> dict:
    """Interleaved N, 4N leg visits (see the module docstring) → the
    scaling record: samples, the estimator's output, and one DRAM
    bandwidth probe per leg width."""
    n_cores, n4_cores = SCALING_BASE, 4 * SCALING_BASE
    record = {
        "cores_n": n_cores,
        "cores_4n": n4_cores,
        "n_turns": SCALING_TURNS,
        "n_turns_small": SCALING_TURNS_SMALL,
    }
    avail = os.cpu_count() or 1
    if n4_cores > avail:
        return {
            **record,
            "efficiency": None,
            "skipped": f"4N leg needs {n4_cores} cores, os.cpu_count() is {avail}",
        }
    bw = {cores: _run_bound("bw", cores)["gbps"] for cores in (n_cores, n4_cores)}
    samples: dict[int, list[dict]] = {n_cores: [], n4_cores: []}
    t_start = time.monotonic()
    rounds = 0
    while rounds < SCALING_ROUNDS and (
        rounds < SCALING_MIN_ROUNDS or time.monotonic() - t_start <= SCALING_BUDGET
    ):
        rounds += 1
        for cores in (n_cores, n4_cores):
            samples[cores].extend(_run_bound("leg", cores)["samples"])
    return {
        **record,
        "rounds": rounds,
        "samples_n": samples[n_cores],
        "samples_4n": samples[n4_cores],
        **_scaling_summary(
            samples[n_cores], samples[n4_cores], SCALING_TURNS_SMALL, SCALING_TURNS
        ),
        "mem_bw_gbps_n": round(bw[n_cores], 1),
        "mem_bw_gbps_4n": round(bw[n4_cores], 1),
    }


def _run_er_stress(spark: SparkSession) -> dict:
    """One ER run at ER_STRESS_TURNS with lineage enabled: proves the
    block caps / skew handling engage at a scale sf0.1 never reaches, and
    reports the cap hit-rate measured from the lineage table itself."""
    import tempfile

    from pyspark.sql import functions as F

    from neuronews_spark.pipeline import EntityResolutionPipeline, PipelineConfig
    from neuronews_spark.sources.synthetic import synthetic_transcripts

    lineage_dir = os.path.join(tempfile.mkdtemp(prefix="er_stress_"), "lineage")
    transcripts = synthetic_transcripts(
        spark, n_turns=ER_STRESS_TURNS, turns_per_conv=20
    )
    pipe = EntityResolutionPipeline(
        spark, PipelineConfig(lineage_dir=lineage_dir, run_id="er_stress")
    )
    t0 = time.perf_counter()
    result = pipe.run(transcripts)
    n_entities = result.entities.count()
    _ = result.mention_edges.count()
    sec = time.perf_counter() - t0

    lin = pipe.lineage.read()
    blocking = lin.filter(F.col("stage") == "blocking")
    n_capped = blocking.filter(F.col("metric") == "capped_block").count()
    scalars = {
        r["metric"]: r["value"]
        for r in blocking.filter(
            F.col("metric").isin("n_blocks", "max_block_size_seen")
        ).collect()
    }
    n_blocks = int(scalars.get("n_blocks", 0))
    return {
        "n_turns": ER_STRESS_TURNS,
        "sec": round(sec, 1),
        "turns_per_sec": round(ER_STRESS_TURNS / sec, 1),
        "n_entities": n_entities,
        "n_blocks": n_blocks,
        "n_capped_blocks": n_capped,
        "cap_hit_rate": round(n_capped / n_blocks, 6) if n_blocks else None,
        "max_block_size_seen": int(scalars.get("max_block_size_seen", 0)),
        "lineage_dir": lineage_dir,
    }


def main() -> None:
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    timings: dict[str, float] = {}

    spark = _session(CPUS)
    try:
        # warmup, same policy as the scaling legs: the first actions in a
        # fresh JVM pay one-time codegen/Python-worker/committer init
        # (~5 s) that a long-lived cluster pays at startup, not per
        # query — without this it lands on whichever query runs first
        # (observed: tpch_q1 5.5 s cold vs 1.2 s warm at sf0.1)
        spark.range(100_000).selectExpr("sum(id)").collect()
        entrymod.queries()["doc_quality"](spark, SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()

        for name in BENCH_QUERIES:
            if name not in queries:
                continue
            # per-query warmup (round-4 review finding): the timed number
            # is the SECOND execution — the first pays whichever one-time
            # costs (whole-stage codegen compile, broadcast rebuild, Arrow
            # worker fork) happen to land on this query, which made ~15
            # per-query numbers incomparable across rounds (stg_entities:
            # 7.28 s recorded cold vs 1.46 s steady-state). A long-lived
            # cluster pays those once at startup; steady-state is the
            # number that predicts plan cost.
            for timed in (False, True):
                t0 = time.perf_counter()
                df = queries[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                if timed:
                    timings[name] = round(time.perf_counter() - t0, 2)

        er_t = min(
            _run_er_job(spark, ER_TURNS)[0] for _ in range(ER_SAMPLES)
        )
        er = {
            "n_turns": ER_TURNS,
            "sec": round(er_t, 2),
            "turns_per_sec": round(ER_TURNS / er_t, 1),
            "n_samples": ER_SAMPLES,
        }
        er_stress = None if SKIP_ER_STRESS else _run_er_stress(spark)
    finally:
        spark.stop()

    scaling = None
    if not SKIP_SCALING:
        scaling = _measure_scaling()

    out = {
        "metric": "er_pipeline_and_operator_suite",
        "value": round(sum(timings.values()) + er["sec"], 2),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "er": er,
        "er_stress": er_stress,
        "scaling": scaling,
    }
    # full record (per-sample scaling arrays etc.) → sidecar file; the ONE
    # printed line stays compact so the driver's bounded tail capture
    # always contains the whole JSON object (round-2 review finding)
    try:
        os.makedirs(os.path.dirname(DETAIL_PATH), exist_ok=True)
        with open(DETAIL_PATH, "w") as fh:
            json.dump(out, fh, indent=1)
        out["detail"] = os.path.relpath(DETAIL_PATH, _REPO)
    except OSError:
        pass
    if scaling is not None:
        out["scaling"] = {
            k: scaling[k] for k in SCALING_COMPACT_KEYS if k in scaling
        }
    if er_stress is not None:
        out["er_stress"] = {
            k: v for k, v in er_stress.items() if k != "lineage_dir"
        }
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    # ``bench.py leg <cores>`` / ``bench.py bw <cores>``: the taskset-bound
    # subprocess entries of the scaling block (see _run_bound)
    if len(sys.argv) == 3 and sys.argv[1] in ("leg", "bw"):
        (_leg_main if sys.argv[1] == "leg" else _bw_main)(int(sys.argv[2]))
    else:
        main()
