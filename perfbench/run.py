"""ER benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload er_vocab --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run starts one
``local[nproc]`` Spark session, makes the workload's input from the seed,
runs a fixed number of warm-up iterations, then times iterations for
``--seconds`` and checks every iteration's output. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` iterations alternate
between the untraced entry point and a layer-by-layer composition timed
span by span, and the metrics are the per-layer ones. The lines before it
record every iteration (wall, CPU, GC, JIT, host steal, load average), the
versions and the session width, so a contended stretch stays visible.
Exits 1 when an output check fails and 2 when the program is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKDIR = os.path.join(ROOT, ".perfbench_work")

# The workloads BENCHMARK.json lists, then er_vocab, the ER-core control,
# which runs on demand: a run of it (about 5 s an iteration here, set by
# Spark's per-job overhead) does not fit the run budget beside the others.
WORKLOADS = ("er_turns", "er_attach", "er_vocab")

# Input sizes. er_turns: turns and the planted-family multiplier;
# er_attach: day-2 mentions and the family multiplier of the stored
# vocabulary; er_vocab: family multiplier of the labelled corpus.
SIZES = {
    "er_turns": {"n_turns": 20_000, "family_scale": 4},
    "er_attach": {"n_mentions": 80_000, "family_scale": 20},
    "er_vocab": {"family_scale": 8},
}

# Full-size warm-up iterations before timing starts. Iteration time falls
# steeply over the first three iterations while the JIT compiles, and JIT
# compile time per iteration keeps falling for longer than a run can
# afford (see README.md); a fixed count puts every run at the same point
# of that curve, and cpu_s_per_mrow leaves the compiler threads out.
WARMUP = {"er_turns": 3, "er_attach": 4, "er_vocab": 3}

END_TO_END = {
    "rows_per_s": "1/s",
    "cpu_s_per_mrow": "s",
    "setup_s": "s",
}

# span name -> (wall metric, cpu metric, rows metric); None where the layer
# table names no such metric
SPAN_METRICS = {
    "conversations": ("conversations.wall_s", "conversations.cpu_s", "conversations.rows_out"),
    "mentions.extract": ("mentions.extract_wall_s", "mentions.extract_cpu_s", "mentions.rows_out"),
    "mentions.vertices": ("mentions.vertices_wall_s", None, "mentions.vertices_out"),
    "blocking.keys": ("blocking.keys_wall_s", None, None),
    "blocking.pairs": ("blocking.pairs_wall_s", None, None),
    "scoring": ("scoring.wall_s", "scoring.cpu_s", None),
    "clustering": ("clustering.wall_s", None, None),
    "canonicalize.entities": ("canonicalize.entities_wall_s", None, None),
    "canonicalize.mention_edges": ("canonicalize.mention_edges_wall_s", None, None),
    "lineage": ("lineage.wall_s", None, None),
    "incremental_er": ("incremental_er.wall_s", "incremental_er.cpu_s", None),
    "tables.merge": ("tables.merge_wall_s", None, None),
}
COUNTS = (
    "blocking.block_rows",
    "blocking.candidate_pairs",
    "blocking.capped_blocks",
    "blocking.max_block_size",
    "scoring.matched_edges",
    "clustering.components",
    "canonicalize.entities",
    "canonicalize.mention_edges",
    "lineage.rows_written",
    "incremental_er.exact",
    "incremental_er.person",
    "incremental_er.containment",
    "incremental_er.fuzzy",
    "incremental_er.new",
    "tables.store_rows",
    "evaluation.labeled_pairs",
    "evaluation.fp",
    "evaluation.fn",
)


def _per_layer_units() -> dict[str, str]:
    units: dict[str, str] = {}
    for wall, cpu, rows in SPAN_METRICS.values():
        units[wall] = "s"
        if cpu:
            units[cpu] = "s"
        if rows:
            units[rows] = "count"
    units.update({c: "count" for c in COUNTS})
    units.update(
        {
            "scoring.pair_yield": "ratio",
            "pipeline.spark_jobs": "count",
            "jvm.gc_s": "s",
            "jvm.jit_s": "s",
            "jvm.jit_cpu_s": "s",
            "proc.peak_rss_mb": "MB",
            "host.steal_s": "s",
            "trace.overhead_s": "s",
        }
    )
    return units


PER_LAYER = _per_layer_units()


def start_spark(workdir: str):
    """The program's own session factory at ``local[nproc]``, with every
    scratch location inside the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # spark-submit's launcher JVM would write its hsperfdata file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        o for o in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if o
    )
    # the pandas-UDF workers unpickle the program's kernels by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    from neuronews_spark.session import get_spark

    width = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{width}]",
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # no hsperfdata file in the system temp directory; JIT compiler
            # threads that live as long as the JVM, so their CPU can be read
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, width


def stop_spark(spark) -> None:
    """Stop the session, its gateway JVM and every process below it, and
    wait until they have ended."""
    from perfbench import probes

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while len(probes.descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in probes.descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def make_workload(spark, name: str, seed: int, workdir: str, sizes: dict):
    from perfbench import workloads

    cls = {"er_turns": workloads.ErTurns, "er_attach": workloads.ErAttach,
           "er_vocab": workloads.ErVocab}[name]
    return cls(spark, seed, workdir, **sizes)


def run_iteration(spark, jvm, wl, expected, tracer=None) -> dict:
    """One iteration with its counters and output check."""
    from perfbench import probes

    sc = spark.sparkContext
    wl.before_iteration()
    group = f"perfbench-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, wl.name)
    load = probes.load1()
    r0 = probes.read(jvm)
    layer: dict = {}
    try:
        if tracer is None:
            fp = wl.iterate()
        else:
            fp, layer = wl.traced(tracer)
        problems = wl.check(fp, expected or {})
    except Exception:  # an iteration that raises counts as failed; keep going
        fp, problems = None, [traceback.format_exc(limit=3)]
    d = probes.read(jvm) - r0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    spark.catalog.clearCache()
    return {
        "traced": tracer is not None,
        "wall_s": d.wall,
        "ran_s": probes.ran_s(d.wall, d.busy, d.steal),
        "cpu_s": d.cpu,
        "jit_cpu_s": d.jit_cpu,
        "gc_s": d.gc,
        "jit_s": d.jit,
        "steal_s": d.steal,
        "load1": load,
        "spark_jobs": jobs,
        "fp": fp,
        "layer": layer,
        "problems": problems,
    }


def measure(spark, jvm, name: str, seed: int, seconds: float, trace: bool,
            workdir: str, sizes: dict | None = None, expected: dict | None = None,
            warmup: int | None = None, start: tuple[float, float] | None = None) -> dict:
    """Warm up, time iterations for ``seconds`` and check each one.

    ``expected`` is the output fingerprint every iteration must reproduce;
    by default it is the first warm-up iteration's, which must itself pass
    the workload's absolute checks. ``start`` is the (clock, host busy,
    host steal) reading set-up time counts from; by default, now."""
    from perfbench import probes
    from perfbench.trace import Tracer

    mark = lambda: (time.perf_counter(), *probes.host_cpu_s())  # noqa: E731
    start = start or mark()
    t0 = mark()
    wl = make_workload(spark, name, seed, workdir, sizes or SIZES[name])
    t1 = mark()

    warm = []
    n_warm = WARMUP[name] if warmup is None else warmup
    for i in range(n_warm):
        # the traced composition's eager checkpoints are code paths of
        # their own: the traced mode warms them in the last warm-up
        tracer = Tracer(jvm) if trace and i == n_warm - 1 else None
        it = run_iteration(spark, jvm, wl, expected, tracer)
        if expected is None and it["fp"] is not None and not it["problems"]:
            expected = it["fp"]
        warm.append(it)
    if expected is None:
        raise RuntimeError(f"warm-up produced no correct output: {warm[0]['problems']}")
    t2 = mark()
    # set-up excludes making the input: (t2 - t1) + (t0 - start), per field
    setup_s = probes.ran_s(*(w2 - w1 + w0 - ws for ws, w0, w1, w2 in zip(start, t0, t1, t2)))

    timed, tracers = [], []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(timed) < 1 + trace:
        tracer = Tracer(jvm) if trace and len(timed) % 2 else None
        timed.append(run_iteration(spark, jvm, wl, expected, tracer))
        if tracer is not None:
            tracers.append(tracer)
    t_quality = time.perf_counter()
    quality, quality_problems = wl.quality()
    phases = {
        "session": t0[0] - start[0],
        "input": t1[0] - t0[0],
        "warmup": t2[0] - t1[0],
        "timed": t_quality - t_end + seconds,
        "quality": time.perf_counter() - t_quality,
    }
    return {
        "rows": wl.rows,
        "phases_s": phases,
        "setup_s": setup_s,
        "expected": expected,
        "warmup": warm,
        "timed": timed,
        "tracers": tracers,
        "quality": quality,
        "quality_problems": quality_problems,
    }


def end_to_end(m: dict) -> dict:
    plain = [it for it in m["timed"] if not it["traced"]]
    return {
        "rows_per_s": statistics.median(m["rows"] / it["ran_s"] for it in plain),
        "cpu_s_per_mrow": statistics.median(
            (it["cpu_s"] - it["jit_cpu_s"]) * 1e6 / m["rows"] for it in plain
        ),
        "setup_s": m["setup_s"],
    }


def per_layer(m: dict, jvm) -> dict:
    from perfbench import probes

    plain = [it for it in m["timed"] if not it["traced"]]
    traced = [it for it in m["timed"] if it["traced"]]
    samples: dict[str, list[float]] = {k: [] for k in PER_LAYER}
    for it, tracer in zip(traced, m["tracers"]):
        for span, (wall, cpu, rows) in SPAN_METRICS.items():
            samples[wall].append(tracer.self_wall(span))
            if cpu:
                samples[cpu].append(tracer.self_cpu(span))
            if rows:
                samples[rows].append(tracer.rows(span))
        for k in COUNTS:
            samples[k].append(it["layer"].get(k, m["quality"].get(k, 0)))
        pairs = it["layer"].get("blocking.candidate_pairs", 0)
        samples["scoring.pair_yield"].append(
            it["layer"].get("scoring.matched_edges", 0) / pairs if pairs else 0.0
        )
    med = lambda key, its: statistics.median(it[key] for it in its)  # noqa: E731
    out = {k: statistics.median(v) for k, v in samples.items() if v}
    out.update(
        {
            "pipeline.spark_jobs": med("spark_jobs", plain),
            "jvm.gc_s": med("gc_s", plain),
            "jvm.jit_s": med("jit_s", plain),
            "jvm.jit_cpu_s": med("jit_cpu_s", plain),
            "host.steal_s": med("steal_s", plain),
            "proc.peak_rss_mb": probes.tree_peak_rss_mb(jvm.pid),
            "trace.overhead_s": statistics.median(
                t.spans[t.by_name("pipeline")[0]].total().wall for t in m["tracers"]
            ) - med("wall_s", plain),
        }
    )
    return out


def report(m: dict, args, width: int, versions: dict, metrics: dict, units: dict) -> dict:
    """Print the per-iteration record and the summary; return the result."""
    its = m["warmup"] + m["timed"]
    failed = [it for it in m["timed"] if it["problems"]]
    # a warm-up iteration whose output differs fails the run too, though
    # error_rate counts timed iterations only
    warm_failed = [it for it in m["warmup"] if it["problems"]]
    for i, it in enumerate(its):
        phase = "warmup" if i < len(m["warmup"]) else ("traced" if it["traced"] else "timed")
        print(json.dumps({
            "iteration": i, "phase": phase,
            **{k: round(it[k], 4) for k in
               ("wall_s", "ran_s", "cpu_s", "jit_cpu_s", "gc_s", "jit_s", "steal_s", "load1")},
            "spark_jobs": it["spark_jobs"],
            "ok": not it["problems"],
        }))
        for p in it["problems"]:
            print(f"# iteration {i} output check failed: {p}", file=sys.stderr)
    for p in m["quality_problems"]:
        print(f"# quality check failed: {p}", file=sys.stderr)
    attempted = len(m["timed"])
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "input_rows": m["rows"],
        "phases_s": {k: round(v, 3) for k, v in m["phases_s"].items()},
        "local_width": width,
        "versions": versions,
        "expected_fingerprint": m["expected"],
        "error_rate": {"value": len(failed) / attempted, "unit": "ratio"},
        # pairwise F1 and the evaluation counts behind it
        **{k: {"value": v, "unit": PER_LAYER.get(k, "ratio")} for k, v in m["quality"].items()},
    }
    print(json.dumps(summary))
    if m["tracers"]:
        print(json.dumps({"spans": [t.records() for t in m["tracers"]]}))
    return {
        "correct": not failed and not warm_failed and not m["quality_problems"],
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import neuronews_spark
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(neuronews_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: neuronews_spark imported from outside the checkout: "
              f"{neuronews_spark.__file__}", file=sys.stderr)
        return 2

    from perfbench import probes

    start = (T_START, *probes.host_cpu_s())
    shutil.rmtree(WORKDIR, ignore_errors=True)
    spark, width = start_spark(WORKDIR)
    jvm = probes.Jvm(spark)
    try:
        import pyarrow

        versions = {"spark": spark.version, "java": jvm.java_version,
                    "pyarrow": pyarrow.__version__, "python": platform.python_version()}
        m = measure(spark, jvm, args.workload, args.seed, args.seconds, bool(args.trace), WORKDIR,
                    start=start)
        if args.trace:
            metrics, units = per_layer(m, jvm), PER_LAYER
        else:
            metrics, units = end_to_end(m), END_TO_END
        result = report(m, args, width, versions, metrics, units)
    finally:
        stop_spark(spark)
        shutil.rmtree(WORKDIR, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
