"""Stateful-streaming scale rung: the bucket-grouped EWMA on the
key-cardinality axis.

The s02 bench runs at sf0.1 (100k events, 1.5k keys); the bucketed
operator's claim is about KEY CARDINALITY — ``applyInPandasWithState``
invokes the Python update once per grouping key per micro-batch, so
grouping by ``hash(key) % n_buckets`` keeps that at O(n_buckets x batches)
however many keys there are. This rung replays a synthetic keyed stream at a
ladder of key cardinalities (same event volume) through
``stateful_ewma_bucketed`` and prints one JSON line per run. Flat ev/s
across the ladder is the expected shape (SCALE_r07: 247k/321k/305k at
1.5k/10k/50k keys, where one group per key fell from 195k to 26k).

Correctness is pytest-gated (tests/test_streaming.py); this records WALLS
only.

Usage: python tools/scale_stateful_run.py [--events 1000000]
           [--keys 1500,10000,50000] [--buckets 64] [--batches 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from crypto_market_data_etl_spark.session import (  # noqa: E402
    get_spark,
    state_partitions,
)
from crypto_market_data_etl_spark.streaming.stateful import (  # noqa: E402
    stateful_ewma_bucketed,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=1_000_000)
    ap.add_argument("--keys", default="1500,10000,50000")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark(app_name="scale_stateful")
    files = args.batches * 2  # maxFilesPerTrigger=2 -> args.batches batches

    for n_keys in [int(x) for x in args.keys.split(",")]:
        ev = spark.range(args.events).select(
            F.pmod(F.xxhash64("id"), F.lit(n_keys)).alias("user_id"),
            F.col("id").alias("ts_us"),
            (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000)).cast("double") / 10.0).alias(
                "value"
            ),
        )
        tmp = tempfile.mkdtemp(prefix="scale_stateful_")
        src = os.path.join(tmp, "src")
        try:
            ev.repartition(files).write.parquet(src)
            schema = spark.read.parquet(src).schema

            def run():
                stream = (
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 2)
                    .parquet(src)
                )
                t0 = time.time()
                with state_partitions(spark, 8):
                    q = (
                        stateful_ewma_bucketed(
                            stream, key_col="user_id", n_buckets=args.buckets
                        )
                        .writeStream.format("noop")
                        .outputMode("append")
                        .start()
                    )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
                return time.time() - t0

            best = min(run() for _ in range(args.repeats))
            print(
                json.dumps(
                    {
                        "job": "stateful_ewma_bucketed",
                        "keys": n_keys,
                        "events": args.events,
                        "batches": args.batches,
                        "sec": round(best, 2),
                        "events_per_sec": int(args.events / best),
                    }
                ),
                flush=True,
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
