#!/usr/bin/env python
"""spark-submit entrypoint for the index build (north rule: `spark-submit
--py-files trinity_spark.zip scripts/submit_build.py ...`).

Uses the session spark-submit provides (master/memory/conf come from the
submit command line, exactly as on a cluster); the library rides in via
--py-files.  Prints ONE JSON line with the committed segments' metrics.

    spark-submit --master local[8] --py-files trinity_spark.zip \
        scripts/submit_build.py --input /data/transcripts \
        --index-dir /data/index
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet path")
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--rows-per-segment", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("trinity_spark_build")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from trinity_spark.operators.indexer import build_index
    from trinity_spark.sources.store import SegmentStore

    turns = spark.read.parquet(args.input)
    metas = build_index(
        spark,
        turns,
        SegmentStore(args.index_dir),
        rows_per_segment=args.rows_per_segment,
        input_desc=args.input,
    )
    print(
        "SUBMIT_BUILD "
        + json.dumps(
            {
                "segments": [
                    {"segment_id": m.segment_id, "metrics": m.metrics}
                    for m in metas
                ]
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
