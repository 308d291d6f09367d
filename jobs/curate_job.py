#!/usr/bin/env python
"""Production extraction→curation job — the spark-submit entry point
for the full training-data flow:

    zip -qr eynollah_spark.zip eynollah_spark
    spark-submit --master <cluster> --py-files eynollah_spark.zip \
        jobs/curate_job.py --input /path/transcripts \
        --output /path/curated [--quality-min 0.5] [--near-dup-t 0.5]

Flow: scan transcripts -> one turn exchange on the conversation bucket
-> layout kernel with id stamps -> per-conversation main-content reassembly
(text+header spans in reading order; tool/boilerplate/separator spans
dropped) -> quality gate -> exact dedup (keep lowest conv) ->
MinHash-LSH near-dup removal (deterministic survivor: the lower
doc_id of each verified pair is kept).
One declarative plan end-to-end; survivors land as parquet with a
one-line JSON funnel report on stdout.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet/iceberg path")
    ap.add_argument("--output", required=True, help="curated-docs parquet path")
    ap.add_argument("--quality-min", type=float, default=0.5)
    ap.add_argument("--near-dup-t", type=float, default=0.5)
    ap.add_argument("--salted", action="store_true", help="skew-hardened kernel path")
    ap.add_argument("--run-id", default="run0")
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from eynollah_spark.metrics import ExtractMetrics
    from eynollah_spark.operators.dedup import dedup_exact, minhash_lsh_pairs
    from eynollah_spark.operators.extract import extract_spans, extract_spans_salted
    from eynollah_spark.operators.text_analysis import quality_features
    from eynollah_spark.session import get_spark

    spark = get_spark(app_name=f"eynollah-curate-{args.run_id}")
    metrics = ExtractMetrics.create(spark)

    turns = spark.read.parquet(args.input)
    extract = extract_spans_salted if args.salted else extract_spans
    spans = extract(turns, metrics=metrics)

    # main-content reassembly: one groupBy(conv_id). The extraction
    # exchange is keyed on the conversation bucket, not on conv_id, so
    # this adds an exchange of its own; conversations sit whole in
    # their partitions, so the partial aggregate already ships one row
    # per conversation
    docs = (
        spans.filter(F.col("region_type").isin("text", "header"))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("reading_order", "text"))),
                    lambda s: s.getField("text"),
                ),
                "\n",
            ).alias("text"),
        )
        .withColumn("doc_id", F.xxhash64("conv_id"))
    )
    # The funnel counts below are separate actions; without this the
    # extraction kernel (the expensive stage) re-runs once per count —
    # 4 full corpus passes at production scale. Persist once, reuse.
    docs = docs.persist()
    n_extracted = docs.count()

    gated = (
        quality_features(docs)
        .filter(F.col("quality_score") >= args.quality_min)
        .select("doc_id", "conv_id", "n_spans", "text", "quality_score")
    )
    n_gated = gated.count()

    exact = dedup_exact(gated)
    n_exact = exact.count()

    near = minhash_lsh_pairs(exact, threshold=args.near_dup_t).select("doc_b")
    survivors = exact.join(near, exact.doc_id == near.doc_b, "left_anti")
    survivors.write.mode("overwrite").parquet(args.output)
    n_final = spark.read.parquet(args.output).count()
    docs.unpersist()

    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "funnel": {
                    "conversations": n_extracted,
                    "quality_gated": n_gated,
                    "exact_deduped": n_exact,
                    "near_dup_survivors": n_final,
                },
                "counters": metrics.snapshot(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
