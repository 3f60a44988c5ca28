"""The reference's three pipeline lifecycles (SURVEY §3) as composable jobs
on the actual trade/orderbook schemas.

Each job is a pure ``DataFrame -> DataFrame`` (batch) or stream-builder
composition of the operator layer — one semantic definition shared by batch
and streaming, vs the reference's per-file copies.

Reference mapping:
- :func:`candle_job`        — §3.1 druid path (``kafka_to_kafka_by_spark_for_druid.py:99-132``)
- :func:`market_stats_job`  — §3.1 realtime path (``kafka_upbit_realtime_processing.py:91-128``)
- :func:`archive_job`       — §3.2 archival (``kafka_to_gcs_by_spark_batch.py:89-98``)
- :func:`preprocess_job`    — §3.3 daily dollar-bar + as-of (``processing_raw_data_from_gcs.py:100-165``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.derive import (
    best_of_book,
    flatten_payload,
    parse_payload,
    signed_volume,
    with_event_time,
    with_latency,
    with_obi,
)
from ..operators.asof import asof_join, asof_join_adaptive
from ..operators.bars import dollar_bars, with_cents
from ..operators.candles import ohlcv_aggs
from ..operators.ewma import ewma_blocked, ewma_full, with_ofi
from ..schemas import load_schema

MS_PER_S = 1_000


def parse_trades(kafka_df: DataFrame) -> DataFrame:
    """Kafka value -> typed trade rows with event time + latency (P1-P6)."""
    flat = flatten_payload(parse_payload(kafka_df, load_schema("upbit_trade")))
    return with_latency(with_event_time(flat))


def parse_orderbooks(kafka_df: DataFrame) -> DataFrame:
    """Kafka value -> typed orderbook rows + best-of-book + OBI (P1-P7)."""
    flat = flatten_payload(parse_payload(kafka_df, load_schema("upbit_orderbook")))
    return with_obi(best_of_book(with_latency(with_event_time(flat))))


def candle_job(trades: DataFrame, width_seconds: int = 10, streaming: bool = False,
               watermark: str = "10 seconds") -> DataFrame:
    """§3.1 druid path: tumbling OHLCV candles + TFI + mean latency per code.

    ``streaming=True`` adds the watermark (same aggs; T1+T2+A1-A6).
    """
    df = with_cents(trades, "trade_price", "price_cents")
    if streaming:
        df = df.withWatermark("server_datetime", watermark)
    w = F.window("server_datetime", f"{width_seconds} seconds")
    return (
        df.groupBy(w.alias("w"), "code")
        .agg(
            *ohlcv_aggs("trade_price", "timestamp", ["sequential_id"]),
            F.round(F.sum("trade_volume"), 8).alias("volume"),
            F.round(F.sum(signed_volume()), 8).alias("tfi"),
            F.round(F.avg("time_diff"), 6).alias("avg_latency"),
        )
        .select(F.col("w.start").alias("w_start"), "*")
        .drop("w")
    )


def market_stats_job(
    orderbooks: DataFrame,
    alpha: float = 0.8,
    block_span: int | str | None = None,
) -> DataFrame:
    """§3.1 realtime path intent: per-snapshot OBI EWMA + OFI (batch form).

    The reference attempted these as window functions on a stream (rejected
    by Spark — SURVEY caveats); batch form uses exact per-key recurrences,
    streaming form is ``streaming.stateful.stateful_ewma_bucketed``.

    ``block_span`` (``None`` | span in ms | ``"auto"``) switches both
    recurrences to their skew-proof blocked forms (``blocked_lag`` /
    ``ewma_blocked``) — same results, hot instruments no longer serialize
    through one task each.
    """
    if block_span == "auto":
        # resolve once: with_ofi and ewma_blocked would each run the stats pass
        from ..operators.blocked import LAG_EWMA_MIN_ROWS_TO_BLOCK, auto_block_span

        block_span = auto_block_span(
            orderbooks, ["code"], "timestamp",
            min_rows_to_block=LAG_EWMA_MIN_ROWS_TO_BLOCK,
        )
    with_metrics = with_ofi(
        orderbooks, ["code"], ["timestamp", "arrive_time"], block_span=block_span,
    )
    if block_span is None:
        return ewma_full(
            with_metrics, ["code"], ["timestamp", "arrive_time"], "obi",
            alpha=alpha, out="obi_ewma",
        )
    return ewma_blocked(
        with_metrics, ["code"], ["timestamp", "arrive_time"], "obi",
        alpha=alpha, out="obi_ewma", block_span=block_span,
    )


def archive_job(parsed: DataFrame, execution_date: str | None = None) -> DataFrame:
    """§3.2: stamp processing_date (+ keep code) for the partitioned archive
    write (pair with ``sources.files.write_partitioned``)."""
    date_col = F.lit(execution_date) if execution_date else F.current_date().cast("string")
    return parsed.withColumn("processing_date", date_col)


def preprocess_job(
    trades: DataFrame,
    orderbooks: DataFrame,
    bar_size: float = 3_000_000.0,
    asof_tolerance_ms: int = 10_000,
    block_span: int | str | None = None,
    adaptive_asof: bool | str = False,
    reference_parity_bars: bool = False,
) -> DataFrame:
    """§3.3 flagship: dollar bars + as-of join of the best orderbook.

    trade_dollar = price * volume; bars of ``bar_size`` notional per code;
    each bar picks up the latest orderbook snapshot within
    ``asof_tolerance_ms`` before the bar's final trade (left outer).
    Reference: ``processing_raw_data_from_gcs.py:108-160`` (its 3 M KRW bar
    size and 10 s band are the defaults).

    Bar boundaries default to the engine's exact-integer-cents form —
    ``trade_dollar`` is rounded to cents before the cumsum, and the crossing
    trade closes its bar; on real data with sub-cent notionals this can place
    a boundary trade differently than the reference's float
    ``floor(cum/size)``. ``reference_parity_bars=True`` reproduces the
    reference's arithmetic exactly (see ``operators.bars.dollar_bars``; not
    combinable with ``block_span``).

    Among equal-timestamp snapshots the as-of match is tie-broken by
    ``arrive_time`` (deterministic in both the rank and adaptive paths); the
    matched snapshot's arrival is emitted as ``arrive_time_r``.

    Scale knobs: ``block_span`` (``"auto"`` | ms | ``None``) switches the
    bar cumsum to the skew-proof two-phase form; ``adaptive_asof`` uses the
    interval-formulated as-of join (per-key adaptive buckets — wins when
    snapshots are much denser than the tolerance). ``adaptive_asof="auto"``
    decides from the snapshot side's hottest-key density (one tiny stats
    probe) — the round-5 SCALE ladder showed the always-adaptive "tuned"
    config 2x SLOWER than plain at the 2M rung (density ~81/bucket) while
    5x faster at 20M (~810/bucket); the probe picks the winning side of
    that measured crossover at every rung instead of making density a
    config decision.
    """
    enriched = trades.withColumn(
        "trade_dollar", F.col("trade_price") * F.col("trade_volume")
    )
    bars = dollar_bars(
        enriched,
        key_cols=["code"],
        ts_col="timestamp",
        notional_col="trade_dollar",
        bar_size=bar_size,
        tiebreak=["sequential_id"],
        price_col="trade_price",
        block_span=block_span,
        reference_parity=reference_parity_bars,
    )
    snaps = orderbooks.select(
        "code", F.col("timestamp").alias("ob_timestamp"), "arrive_time",
        "best_bid_price", "best_ask_price", "best_bid_size", "best_ask_size", "obi",
    )
    if adaptive_asof == "auto":
        from ..operators.asof import ASOF_ADAPTIVE_MIN_DENSITY, asof_hot_density

        adaptive_asof = (
            asof_hot_density(snaps, ["code"], "ob_timestamp", asof_tolerance_ms)
            >= ASOF_ADAPTIVE_MIN_DENSITY
        )
    if adaptive_asof:
        return asof_join_adaptive(
            bars,
            snaps,
            on=["code"],
            left_ts="bar_end_us",
            right_ts="ob_timestamp",
            tolerance=asof_tolerance_ms,
            right_tiebreak=["arrive_time"],
        )
    return asof_join(
        bars,
        snaps,
        on=["code"],
        left_ts="bar_end_us",
        right_ts="ob_timestamp",
        tolerance=asof_tolerance_ms,
        right_tiebreak=["arrive_time"],
        how="left",
        left_keys=["code", "bar_num"],
    )
