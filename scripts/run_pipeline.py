#!/usr/bin/env python
"""spark-submit entry point for the north-star audio dedup pipeline.

Cluster usage (the --py-files contract):

    spark-submit \\
      --py-files $(python -m liken_spark.shipping) \\
      --conf spark.sql.adaptive.enabled=true \\
      scripts/run_pipeline.py \\
      --input lake.audio.clips --output lake.audio.clips_deduped \\
      --checkpoints hdfs:///ckpt/run42 --run-id run42

Reads the clip table (Iceberg table name or parquet path), runs the
checkpointed MinHash-LSH + substring dedup with global connected
components, writes the canonicalized table, and prints stage lineage
metrics as JSON. Re-running with the same --checkpoints/--run-id resumes
from the last complete stage.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="Iceberg table name or parquet path")
    ap.add_argument("--output", required=True, help="Iceberg table name or parquet path")
    ap.add_argument("--checkpoints", required=True, help="checkpoint base dir")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--text-col", default="transcript")
    ap.add_argument("--id-col", default="clip_id")
    ap.add_argument("--lsh-threshold", type=float, default=0.7)
    ap.add_argument("--lsh-ngram", type=int, default=3)
    ap.add_argument("--num-perm", type=int, default=128)
    ap.add_argument("--substring-min-len", type=int, default=30)
    ap.add_argument("--drop-duplicates", action="store_true")
    args = ap.parse_args()

    import liken_spark as lk
    from liken_spark.constants import CANONICAL_ID
    from liken_spark.sources.checkpoint import StageCheckpointer, checkpointed_dedup

    spark = lk.get_spark(app_name=f"liken-pipeline-{args.run_id}")
    t0 = time.perf_counter()

    if "/" in args.input or args.input.endswith(".parquet"):
        df = spark.read.parquet(args.input)
    else:
        df = spark.read.table(args.input)

    ckpt = StageCheckpointer(args.checkpoints, args.run_id)
    out = checkpointed_dedup(
        spark,
        df,
        ckpt,
        text_col=args.text_col,
        id_col=args.id_col,
        lsh_threshold=args.lsh_threshold,
        lsh_ngram=args.lsh_ngram,
        num_perm=args.num_perm,
        substring_min_len=args.substring_min_len,
    )
    if args.drop_duplicates:
        from pyspark.sql import Window, functions as F

        w = Window.partitionBy(CANONICAL_ID).orderBy(args.id_col)
        out = out.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")

    if args.output == "noop":
        # benchmarking sink: full computation, no bytes written
        out.write.format("noop").mode("overwrite").save()
    elif "/" in args.output or args.output.endswith(".parquet"):
        out.write.mode("overwrite").parquet(args.output)
    else:
        out.writeTo(args.output).createOrReplace()

    print(
        json.dumps(
            {
                "run_id": args.run_id,
                "wall_sec": round(time.perf_counter() - t0, 2),
                "stages": ckpt.stages,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
