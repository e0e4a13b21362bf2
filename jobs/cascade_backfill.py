"""spark-submit entry point for the checkpoint-resumable tier cascade.

The north rule's deployment shape (BASELINE.json): the engine ships as a
--py-files archive and the job runs on a multi-executor cluster at two
cluster sizes.  Package and run:

    cd <repo> && zip -qr ts_process_spark.zip ts_process_spark
    spark-submit --master <cluster|local[N]> \\
        --py-files ts_process_spark.zip \\
        jobs/cascade_backfill.py \\
        --input  <raw transcript parquet dir | synth:<n_convs>> \\
        --root   <output tables root> \\
        --buckets 64

Each tier is one Spark write job over all of its pending buckets
(``partitionBy("bucket_id")``, dynamic partition overwrite), followed by
one lineage record per bucket.  Re-running with the same --root resumes:
(tier, bucket) units already in the lineage log are skipped; a unit
whose data was written but whose lineage commit did not land is redone
idempotently (its partition is overwritten).

The session comes from spark-submit (no master/parallelism hardcoded
here); only shuffle partitioning is derived from the cluster it lands on.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="raw transcript parquet dir, or synth:<n_convs> "
                         "for the seeded generator")
    ap.add_argument("--root", required=True, help="tier-table output root")
    ap.add_argument("--buckets", type=int, default=64,
                    help="conv_id hash buckets = resume/commit granularity")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ts-cascade-backfill").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from ts_process_spark.plans.backfill import TableSet, backfill, verify_lineage

    if args.input.startswith("synth:"):
        from ts_process_spark.datagen import transcripts

        raw = transcripts(spark, n_convs=int(args.input.split(":", 1)[1]),
                          seed=args.seed)
    else:
        raw = spark.read.parquet(args.input)

    t0 = time.time()
    result = backfill(spark, raw, TableSet(args.root), n_buckets=args.buckets)
    wall = time.time() - t0
    problems = verify_lineage(spark, TableSet(args.root))
    n_turns = sum(r["rows_in"] for r in TableSet(args.root).read_lineage()
                  if r["tier"] == "1m")
    print(json.dumps({
        "committed": result["committed"],
        "skipped": result["skipped"],
        "turns": n_turns,
        "wall_s": round(wall, 2),
        "turns_per_sec": round(n_turns / wall, 1) if wall > 0 else None,
        "lineage_problems": problems,
        "cores": spark.sparkContext.defaultParallelism,
    }))
    spark.stop()
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
