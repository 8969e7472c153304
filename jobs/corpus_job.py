"""spark-submit entrypoint for pretraining-corpus preparation.

Runs :func:`neuronews_spark.corpus_pipeline.prepare_training_corpus`
(C4/Gopher clean → exact dedup → MinHash near-dedup → decontamination →
deterministic subsample → shard shuffle) over a documents table and
writes the per-doc audit frame + the kept subset in training order.

Package the library once:

    python scripts/package_pyfiles.py            # → dist/neuronews_spark.zip

then:

    spark-submit --py-files dist/neuronews_spark.zip jobs/corpus_job.py \
        --input  s3://bucket/raw_docs/ \
        --eval   s3://bucket/benchmarks/ \
        --output s3://bucket/corpus_out/ \
        --sample-fraction 0.9 --n-shards 1024

Outputs under ``--output``: ``audit/`` (every input doc with per-stage
flags + final keep), ``kept/`` (kept ids with (shard, pos) training
order, written partitioned by shard so each training worker reads one
directory).  Prints a one-line JSON stage summary on completion.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet path of documents")
    p.add_argument("--eval", default=None, help="parquet path of eval/benchmark docs")
    p.add_argument("--output", required=True, help="output root (audit/, kept/)")
    p.add_argument("--lineage-dir", default=None, help="lineage/metrics table path")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-tokens", type=int, default=15)
    p.add_argument("--min-quality-score", type=float, default=0.5)
    p.add_argument("--jaccard-threshold", type=float, default=0.8)
    p.add_argument("--sample-fraction", type=float, default=1.0)
    p.add_argument("--n-shards", type=int, default=8)
    p.add_argument("--seed", type=int, default=17)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("neuronews-corpus-prep").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from neuronews_spark.corpus_pipeline import (
        prepare_training_corpus,
        summarize_audit,
    )
    from neuronews_spark.lineage import LineageWriter

    docs = spark.read.parquet(args.input)
    eval_docs = spark.read.parquet(args.eval) if args.eval else None
    lineage = (
        LineageWriter(spark, args.lineage_dir) if args.lineage_dir else None
    )

    t0 = time.perf_counter()
    audit, _ = prepare_training_corpus(
        docs,
        eval_docs=eval_docs,
        id_col=args.id_col,
        text_col=args.text_col,
        min_tokens=args.min_tokens,
        min_quality_score=args.min_quality_score,
        jaccard_threshold=args.jaccard_threshold,
        sample_fraction=args.sample_fraction,
        n_shards=args.n_shards,
        seed=args.seed,
    )
    # ONE pipeline execution: write the audit, then derive the kept
    # order and the summary counts from the written table
    audit.write.mode("overwrite").parquet(args.output + "/audit")
    written = spark.read.parquet(args.output + "/audit")
    (
        written.filter("keep")
        .select(args.id_col, "shard", "pos")
        .repartition("shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(args.output + "/kept")
    )
    row = summarize_audit(written).collect()[0].asDict()
    if lineage is not None:
        for k, v in row.items():
            lineage.scalar("corpus_prep", k, float(v))
    row["sec"] = round(time.perf_counter() - t0, 2)
    print(json.dumps(row))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
