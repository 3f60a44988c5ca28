"""market_batch: §3.2 archival plus §3.3 daily preprocessing, closed loop.

One client runs lifecycle cycles back to back. Cycle ``c``:

1. reads one offset band of each topic with ``read_kafka_log`` (S2);
2. parses it (``parse_trades`` / ``parse_orderbooks``);
3. archives it with ``archive_job`` + ``write_partitioned`` under a
   processing date of its own;
4. re-reads a fixed trailing window, its own date and the one before;
5. runs ``preprocess_job`` (dollar bars + as-of), ``market_stats_job``
   (OFI + OBI EWMA) and ``candle_job`` on the window.

Why: writes sit beside reads, and the BTC-dominant hot key (60% of events)
drives the automatic choices (``block_span="auto"``,
``adaptive_asof="auto"``) and their eager probe jobs. There are no Python
UDFs on the batch path and no streaming state, so an Arrow-path change
should leave this workload unchanged.

Sizes: the log holds 2 bands that cycles take in turn, so from cycle 1 on
every trailing window holds the same rows. One band is 4,000 trades (20/s
over 200 s) and 2,000 orderbooks (10/s), over 2 Kafka partitions keyed by
instrument. The hot key's snapshot density stays near 60 per 10 s tolerance
bucket, below ``ASOF_ADAPTIVE_MIN_DENSITY`` (128), so the as-of probe picks
one side on every seed. A cycle costs 3-5 s on 4 cores, mostly per-job
fixed work.

Latency is per cycle: from the start of the band's read to the last job
output in hand (the batch "input to complete result" time).
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
from pyspark.sql import functions as F

from crypto_market_data_etl_spark.plans.reference_jobs import (
    archive_job,
    candle_job,
    market_stats_job,
    parse_orderbooks,
    parse_trades,
    preprocess_job,
)
from crypto_market_data_etl_spark.sources.files import read_partitioned, write_partitioned
from crypto_market_data_etl_spark.sources.kafka import kafka_offsets_json
from crypto_market_data_etl_spark.sources.kafka_mock import read_kafka_log
from tools.selfcheck import fingerprint

from . import gen
from .harness import now, quantile

OPS = ("archive_job", "preprocess_job", "market_stats_job", "candle_job")
TOPICS = {"upbit_trade": parse_trades, "upbit_orderbook": parse_orderbooks}
N_BANDS = 2
N_PARTITIONS = 2
FULL = {"upbit_trade": 4000, "upbit_orderbook": 2000}
TINY = {"upbit_trade": 800, "upbit_orderbook": 400}
BAND_SPAN_MS = 200_000
TRACED_CYCLES = 2


def _day(c: int) -> str:
    return (dt.date(2024, 1, 1) + dt.timedelta(days=c)).isoformat()


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def write_inputs(ctx, sizes: dict[str, int]) -> list[dict]:
    """The Kafka logs, one file per band and partition; returns each band's
    per-partition ``[start, end)`` offsets by topic."""
    src = gen.MarketSource(ctx.seed)
    writers = {t: gen.KafkaLogWriter(ctx.path("in", t), t, N_PARTITIONS) for t in TOPICS}
    bands = []
    for b in range(N_BANDS):
        band = {}
        for topic, n in sizes.items():
            due = gen.even_schedule(gen.BASE_MS + b * BAND_SPAN_MS, n * 1000 / BAND_SPAN_MS, n)
            make = src.trades if topic == "upbit_trade" else src.orderbooks
            values, codes, ts = make(due)
            band[topic] = writers[topic].append(values, codes, ts)
        bands.append(band)
    return bands


def _read_band(ctx, topic: str, bands: list[dict]):
    """``read_kafka_log`` over consecutive bands (S2 offset literals)."""
    start = {p: bands[0][topic][p][0] for p in range(N_PARTITIONS)}
    end = {p: bands[-1][topic][p][1] for p in range(N_PARTITIONS)}
    return read_kafka_log(ctx.spark, ctx.path("in", topic), topic,
                          kafka_offsets_json(topic, start), kafka_offsets_json(topic, end))


def _archive(ctx, topic: str, band: dict, day: str, traced: bool) -> None:
    arch = ctx.path("out", "archive", topic)
    tr, cn = ctx.tracer, ctx.counters

    def build():
        with tr.span("sources.read_kafka_log"):
            raw = _read_band(ctx, topic, [band])
        return archive_job(TOPICS[topic](raw), day)

    def action(df):
        if not (traced and tr.enabled):
            write_partitioned(df, arch)
            return
        files0, bytes0 = _dir_size(arch)
        marker = cn.sql_marker()
        t0 = now()
        with tr.span("sources.write_partitioned"):
            write_partitioned(df, arch)
        tr.add("sources.write_partitioned.execute_s", now() - t0)
        files1, bytes1 = _dir_size(arch)
        tr.add("sources.write_partitioned.files", files1 - files0)
        tr.add("sources.write_partitioned.bytes", bytes1 - bytes0)
        scan = cn.sql_since(marker, scans=True)
        tr.add("sources.read_kafka_log.rows", scan["scan_rows"])
        tr.add("sources.read_kafka_log.execute_s", scan["scan_ms"] / 1000)

    ctx.call("archive_job", build, action, traced)


def _window(ctx, topic: str, days: list[str]):
    with ctx.tracer.span("sources.read_partitioned"):
        df = read_partitioned(ctx.spark, ctx.path("out", "archive", topic))
    return df.filter(F.col("processing_date").isin(*days)).drop("processing_date")


def _jobs(trades, orderbooks) -> dict:
    """The three §3.1/§3.3 jobs, with the skew-driven choices left to the
    program (``"auto"``)."""
    return {
        "preprocess_job": lambda: preprocess_job(trades(), orderbooks(), block_span="auto",
                                                 adaptive_asof="auto"),
        "market_stats_job": lambda: market_stats_job(orderbooks(), block_span="auto"),
        "candle_job": lambda: candle_job(trades()),
    }


def cycle(ctx, c: int, bands: list[dict], traced: bool, outputs: list) -> float:
    """One lifecycle cycle; returns its latency in seconds."""
    t0 = now()
    band = bands[c % N_BANDS]
    day = _day(c)
    for topic in TOPICS:
        _archive(ctx, topic, band, day, traced)
    days = [_day(c - 1), day] if c else [day]
    jobs = _jobs(lambda: _window(ctx, "upbit_trade", days),
                 lambda: _window(ctx, "upbit_orderbook", days))
    for op, build in jobs.items():
        table, _ = ctx.call(op, build, lambda df: df.toArrow(), traced)
        outputs.append((c, op, table))
    return now() - t0


def _scalar_pdf(table: pa.Table):
    """The table's scalar columns as pandas (the canonical form hashes cells)."""
    return table.select([f.name for f in table.schema if not pa.types.is_nested(f.type)]).to_pandas()


def run(ctx, t_start: float) -> dict:
    sizes = TINY if ctx.tiny else FULL
    with ctx.tracer.span("session.input"):
        bands = write_inputs(ctx, sizes)
    rows_per_cycle = sum(sizes.values())

    warm: list = []
    with ctx.tracer.span("session.warmup"):
        cycle(ctx, 0, bands, False, warm)
    setup_s = now() - t_start

    latencies: list[float] = []
    timed: list = []
    extra: dict[str, float] = {}
    c = 1
    if ctx.tracer.enabled:
        # fixed work, so counts repeat: untraced cycles, then traced ones
        t0 = now()
        for _ in range(TRACED_CYCLES):
            cycle(ctx, c, bands, False, timed)
            c += 1
        untraced = now() - t0
        with ctx.traced_region():
            t0 = now()
            for _ in range(TRACED_CYCLES):
                cycle(ctx, c, bands, True, timed)
                c += 1
            extra["trace.overhead_pct"] = 100.0 * ((now() - t0) / untraced - 1.0)
    else:
        t0 = now()
        while c == 1 or now() - t0 < ctx.seconds:
            latencies.append(cycle(ctx, c, bands, False, timed))
            c += 1
        elapsed = now() - t0

    # output checks, outside the timed region: every archived date holds its
    # band, and every job output equals the same job, with the plain physical
    # choices, on the same bands read straight from the log
    failed = 0
    for topic, n in sizes.items():
        got = {
            str(day): count  # partition discovery reads the dates back as DATE
            for day, count in ctx.spark.read.parquet(ctx.path("out", "archive", topic))
            .groupBy("processing_date").count().collect()
        }
        failed += sum(got.get(_day(k)) != n for k in range(c))
    twins = {}
    for k, op, table in warm + timed:
        window = 1 if k == 0 else N_BANDS  # cycle 0 sees band 0 alone, later ones both bands
        if window not in twins:
            trades = _read_band(ctx, "upbit_trade", bands[:window])
            obs = _read_band(ctx, "upbit_orderbook", bands[:window])
            twins[window] = {
                name: fingerprint(_scalar_pdf(df.toArrow()))
                for name, df in {
                    "preprocess_job": preprocess_job(parse_trades(trades), parse_orderbooks(obs)),
                    "market_stats_job": market_stats_job(parse_orderbooks(obs)),
                    "candle_job": candle_job(parse_trades(trades)),
                }.items()
            }
        failed += fingerprint(_scalar_pdf(table)) != twins[window][op]
    res = {
        "attempted": len(warm) + len(timed) + len(TOPICS) * c,  # job outputs + archive writes
        "failed": int(failed),
        "samples": {"latency": len(latencies), "cycles": c - 1, "rows_per_cycle": rows_per_cycle},
        "layer": extra,
        "inputs": {"bands": N_BANDS, **sizes, "partitions": N_PARTITIONS},
    }
    if not ctx.tracer.enabled:
        res["e2e"] = {
            "setup_s": setup_s,
            "throughput_per_s": rows_per_cycle * (c - 1) / elapsed,
            "latency_p50_s": quantile(latencies, 0.5),
            "latency_p90_s": quantile(latencies, 0.9),
        }
    return res
