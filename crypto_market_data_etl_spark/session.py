"""SparkSession helpers.

Two entry points:

- :func:`get_spark` builds a session for our own tests/bench (local mode).
- :func:`tune` applies the runtime-settable conf this engine relies on to a
  session we did *not* create (the driver hands us one in ``__spark_entry__``).

Conf choices are scale-motivated:

- AQE on (runtime coalesce + skew-join splitting) — at 100 TB the static
  shuffle-partition guess is always wrong; AQE fixes it after the fact.
- ``spark.sql.session.timeZone=UTC`` — required for oracle (DuckDB) parity:
  DuckDB timestamps are UTC-naive.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the driver testdata stores
  ``events.ts`` as parquet TIMESTAMP(NANOS), which Spark's vectorized reader
  rejects; with this conf it surfaces as a nanos ``long`` that
  ``schemas.load_table`` converts losslessly (µs truncation) to a timestamp.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are runtime-settable (safe to apply to a foreign session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # r15 (measured): PySpark 4 captures a Python-side call-site fragment
    # for every DataFrame/Column operation to enrich error messages; on
    # expression-heavy plans (15-seed MinHash, multi-stage dedup) that
    # DRIVER-side bookkeeping is ~25% of warm query-construction time
    # (fresh-session A/B: 0.11-0.13 s vs 0.15-0.17 s per signature-pipeline
    # build). Scale-independent (pure driver overhead, same at any data
    # size); errors still carry the JVM-side SQL context.
    "spark.sql.dataFrameQueryContextEnabled": "false",
}


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply engine conf to an externally created session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static in odd builds
            pass
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


from contextlib import contextmanager
from typing import Iterator


@contextmanager
def state_partitions(
    spark: SparkSession, n: int, min_batches_to_retain: int | None = None
) -> Iterator[None]:
    """Scope the streaming-query-start conf while BUILDING AND STARTING a
    streaming query, then restore it.

    Two knobs, both frozen into the query at ``start()``:

    - ``spark.sql.shuffle.partitions`` → ``n``: a streaming aggregation/
      stateful op creates one state-store instance per shuffle partition,
      and that count is *frozen into the checkpoint* at query start. The
      right number tracks STATE VOLUME (distinct keys), not CPU count: at
      local[32] with ~150 instrument keys, 32 state stores are pure
      per-micro-batch overhead — measured s01 candle replay 4.0s → 1.9s
      (2.1x) moving 32 → 4-8, s02 stateful EWMA 5.9s → 4.7s. On a
      1000-executor cluster with millions of keys the same knob goes UP
      instead. Batch queries are unaffected (AQE coalesces their shuffles
      at runtime).
    - ``spark.sql.streaming.minBatchesToRetain`` → ``min_batches_to_retain``
      (default ``None`` = keep the session value, i.e. Spark's 100-batch
      rewind default). The r6 override to 2 claimed a ~4% win; interleaved
      same-box A/Bs this round show it does NOT reproduce — s02 stateful
      EWMA is ~10% SLOWER with it (best-of-4 24,154 vs 26,609 ev/s), and
      s01 / q30 move within noise in opposite directions (s01 2.321 vs
      2.448 s, q30 2.487 vs 2.345 s best-of-3). The retention-depth cleanup
      saving is real only for long-lived queries with large state deltas;
      for the 4-micro-batch replay queries here the extra maintenance-path
      churn outweighs it, so the default keeps Spark's own.
    """
    restore: dict[str, str] = {
        "spark.sql.shuffle.partitions": spark.conf.get(
            "spark.sql.shuffle.partitions"
        )
    }
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    if min_batches_to_retain is not None:
        key = "spark.sql.streaming.minBatchesToRetain"
        try:
            restore[key] = spark.conf.get(key)
        except Exception:  # pragma: no cover - default not readable pre-set
            restore[key] = "100"
        spark.conf.set(key, str(min_batches_to_retain))
    try:
        yield
    finally:
        for k, v in restore.items():
            spark.conf.set(k, v)


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else the smaller of 16g and half of the
    box's physical memory: in local mode the driver JVM is the whole
    executor, and a heap allowed past physical memory gets the process
    OOM-killed (a 16g default did on a 15 GB box) before the GC runs."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "crypto-market-data-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Local-mode session sized from ``SPARK_GRAFT_CPUS`` (default 32).

    Designed for local[N] correctness/bench runs; on a real cluster the same
    plans run unchanged — only master/deploy conf differs.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    for k, v in (extra_confs or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark, shuffle_partitions)
