"""market_stream: the §3.1 real-time lifecycle, open loop.

A generator thread in this process writes Upbit-shaped orderbook and trade
JSON into two Kafka-shaped logs on a fixed schedule (one file per topic
every 100 ms), stamping each event's exchange ``timestamp`` with the time it
was due, and records how late each of its ticks ran. Orderbooks flow through
``read_kafka_log_stream`` -> ``parse_orderbooks`` -> ``stateful_ofi_bucketed``
-> a ``foreachBatch`` sink; trades flow through ``stream_candles`` beside
it, as the reference runs both.

- Phase 1 (catch-up): a backlog written before the queries start, as on a
  restart that resumes from stored offsets, drains at
  ``maxFilesPerTrigger`` files per micro-batch. ``throughput_per_s`` is the
  backlog's events (both topics) over the time from query start to the end
  of the micro-batch that consumed its last event.
- Phase 2 (live): the generator runs for ``--seconds`` at ``LIVE_RATE``
  events/s per topic, about half the catch-up rate measured on the sizing
  box (README.md), so latency sits below the knee; near saturation it
  would grow with run length and could not repeat. ``latency_*`` is, per
  live orderbook event, the time from its creation stamp to the moment the
  sink holds the output row that carries it (the row's ``ts_us``).

Why: most of the time goes to per-micro-batch fixed work, the state stores
and the Python workers of ``streaming.*``. Plans are built once, before the
timed region, and there are no heavy batch shuffles.
"""

from __future__ import annotations

import datetime as dt
import threading
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from crypto_market_data_etl_spark.operators.ewma import with_ofi
from crypto_market_data_etl_spark.plans.reference_jobs import candle_job, parse_orderbooks, parse_trades
from crypto_market_data_etl_spark.session import state_partitions
from crypto_market_data_etl_spark.sources.kafka_mock import read_kafka_log, read_kafka_log_stream
from crypto_market_data_etl_spark.streaming.candles import stream_candles
from crypto_market_data_etl_spark.streaming.stateful import stateful_ofi_bucketed

from . import gen
from .harness import now, quantile

OPS = ("stateful_ofi_bucketed", "stream_candles")
OB, TR = "upbit_orderbook", "upbit_trade"
TICK_S = 0.1
MAX_FILES_PER_TRIGGER = 50
#: processing-time trigger, as the reference's realtime job has (15 s there)
TRIGGER = "2 seconds"
STATE_PARTITIONS = 4
CANDLE_KEY = ["w_start", "code"]
CANDLE_COLS = ["open", "high", "low", "close", "n_trades"]
#: events/s per topic, live and in the backlog (downtime at the live rate);
#: README.md records the catch-up run it is half of
RATE = 1000
FULL = {"backlog_files": 150, "rate": RATE}
TINY = {"backlog_files": 6, "rate": 200}
WARM_FILES = 10


class Region:
    """One query pair over its own logs and checkpoints."""

    def __init__(self, ctx, name: str, index: int) -> None:
        self.ctx, self.name = ctx, name
        self.src = gen.MarketSource(ctx.seed * 8 + index)  # stamps are per region
        self.writers = {t: gen.KafkaLogWriter(ctx.path("in", name, t), t) for t in (OB, TR)}
        self.written = {OB: 0, TR: 0}
        self.write_log: list[tuple[float, int, int]] = []  # (epoch s, orderbooks, trades written)
        self.ofi: list[tuple[float, pa.Table]] = []
        self.candles: list[pa.Table] = []
        self.late_ms: list[float] = []
        self.queries = []

    def write(self, due_ms: np.ndarray) -> None:
        for topic, make in ((OB, self.src.orderbooks), (TR, self.src.trades)):
            values, codes, ts = make(due_ms)
            self.writers[topic].append(values, codes, ts)
            self.written[topic] += len(values)
        self.write_log.append((time.time(), self.written[OB], self.written[TR]))

    def backlog(self, n_files: int, rate: float) -> None:
        per = int(rate * TICK_S)
        start = time.time() * 1000 - n_files * per * 1000 / rate
        due = gen.even_schedule(start, rate, n_files * per)
        for f in range(n_files):
            self.write(due[f * per:(f + 1) * per])

    def build(self):
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("plans.stateful_ofi_bucketed"):
            obs = parse_orderbooks(read_kafka_log_stream(
                spark, self.ctx.path("in", self.name, OB), MAX_FILES_PER_TRIGGER))
            ofi = stateful_ofi_bucketed(obs.withColumn("ts_us", F.col("timestamp") * 1000))
        with tr.span("plans.stream_candles"):
            trades = parse_trades(read_kafka_log_stream(
                spark, self.ctx.path("in", self.name, TR), MAX_FILES_PER_TRIGGER))
            candles = stream_candles(trades, ["code"], "server_datetime", "trade_price",
                                     width_seconds=10, watermark="10 seconds",
                                     tiebreak=["sequential_id"])
        return ofi, candles

    def _sink(self, op: str, keep):
        tr, cn = self.ctx.tracer, self.ctx.counters

        def sink(batch_df, batch_id: int) -> None:
            if not tr.enabled:
                keep(batch_df.toArrow())
                return
            with tr.span(f"exec.{op}"), cn.group(f"{op}:sink") as g:
                table = batch_df.toArrow()
            keep(table)
            tr.add("exec.rows_out", table.num_rows)
            for k, v in {**cn.jobs(g), **cn.stream_batch(f"{self.name}_{op}")}.items():
                tr.add(f"exec.{k}", v)

        return sink

    def start(self, ofi, candles) -> float:
        ck = self.ctx.path("ckpt", self.name)
        t0 = time.time()
        with state_partitions(self.ctx.spark, STATE_PARTITIONS):
            self.queries = [
                ofi.writeStream.queryName(f"{self.name}_stateful_ofi_bucketed").foreachBatch(self._sink(
                    "stateful_ofi_bucketed", lambda t: self.ofi.append((time.time(), t))))
                .option("checkpointLocation", f"{ck}/ofi").outputMode("append")
                .trigger(processingTime=TRIGGER).start(),
                candles.writeStream.queryName(f"{self.name}_stream_candles")
                .foreachBatch(self._sink("stream_candles", self.candles.append))
                .option("checkpointLocation", f"{ck}/candles").outputMode("update")
                .trigger(processingTime=TRIGGER).start(),
            ]
        return t0

    def drain(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    def progress(self) -> list[list[dict]]:
        return [q.recentProgress for q in self.queries]

    def live(self, rate: float, seconds: float) -> float:
        """Open-loop generator: every tick, write the events now due."""
        t0 = time.time()
        due = gen.even_schedule(t0 * 1000, rate, int(rate * seconds))
        i, tick = 0, 0
        while i < len(due):
            tick += 1
            target = t0 + tick * TICK_S
            time.sleep(max(0.0, target - time.time()))
            late = time.time() - target
            j = int(np.searchsorted(due, time.time() * 1000, side="right"))
            self.write(due[i:j])
            self.late_ms.append(1000 * late)
            i = j
        return t0 * 1000


def _batch_end(p: dict) -> float:
    start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000


def _drained_at(progress: list[dict], n_events: int) -> float:
    seen = 0
    for p in progress:
        seen += p["numInputRows"]
        if seen >= n_events:
            return _batch_end(p)
    raise RuntimeError(f"stream consumed {seen} of {n_events} backlog events")


def prepare(region: Region, size: dict):
    """Write the region's backlog and build its two streaming plans."""
    region.backlog(size["backlog_files"], size["rate"])
    return dict(region.written), region.build()


def run_region(ctx, region: Region, size: dict, backlog: dict, plans, live: bool = True) -> dict:
    """Catch-up, then (``live``) the live phase, on one query pair; returns
    what the run measured."""
    t0 = region.start(*plans)
    region.drain()
    ob_prog, tr_prog = region.progress()
    drained = max(_drained_at(ob_prog, backlog[OB]), _drained_at(tr_prog, backlog[TR]))
    out = {"catchup_s": drained - t0, "backlog": sum(backlog.values())}
    if live:
        thread = threading.Thread(target=lambda: out.update(live_ms=region.live(size["rate"], ctx.seconds)))
        thread.start()
        thread.join()
        region.drain()
    out["progress"] = region.progress()
    region.stop()
    return out


def _latencies(region: Region, live_ms: float) -> tuple[np.ndarray, np.ndarray, int]:
    """Per live orderbook event: (creation stamp in s, latency in s), and the
    number of micro-batches they came out of."""
    stamps, lat, batches = [], [], 0
    for seen, table in region.ofi:
        ts = table.column("ts_us").to_numpy()
        live = ts >= live_ms * 1000
        if live.any():
            batches += 1
            stamps.append(ts[live] / 1e6)
            lat.append(seen - ts[live] / 1e6)
    if not lat:
        return np.empty(0), np.empty(0), 0
    stamps, lat = np.concatenate(stamps), np.concatenate(lat)
    order = np.argsort(stamps, kind="stable")
    return stamps[order], lat[order], batches


def check(ctx, region: Region) -> tuple[int, int]:
    """(events, failed events): the streamed OFI against the batch
    ``with_ofi`` and the final streamed candles against ``candle_job``,
    over the same logs."""
    spark = ctx.spark
    obs = parse_orderbooks(read_kafka_log(spark, ctx.path("in", region.name, OB), OB))
    want = (with_ofi(obs.withColumn("ts_us", F.col("timestamp") * 1000), ["code"], ["ts_us"])
            .select("code", "ts_us", "ofi").toArrow().to_pandas())
    got = pa.concat_tables([t for _, t in region.ofi]).to_pandas() if region.ofi else want.iloc[:0]
    m = want.merge(got, on=["code", "ts_us"], how="left", suffixes=("", "_s"), indicator=True)
    same = (m["ofi"] == m["ofi_s"]) | (m["ofi"].isna() & m["ofi_s"].isna())
    failed = int((~same | (m["_merge"] != "both")).sum()) + max(0, len(got) - len(want))

    trades = parse_trades(read_kafka_log(spark, ctx.path("in", region.name, TR), TR))
    want_c = candle_job(trades).select(*CANDLE_KEY, *CANDLE_COLS).toArrow().to_pandas()
    got_c = pa.concat_tables(region.candles).to_pandas() if region.candles else want_c.iloc[:0]
    got_c = got_c.sort_values("n_trades").groupby(CANDLE_KEY, as_index=False).last()
    mc = want_c.merge(got_c[CANDLE_KEY + CANDLE_COLS], on=CANDLE_KEY, how="left", suffixes=("", "_s"))
    bad = ~np.logical_and.reduce([mc[c] == mc[f"{c}_s"] for c in CANDLE_COLS])
    failed += int(mc.loc[bad, "n_trades"].sum())
    return sum(region.written.values()), failed


def _p(values: list[float], q: float) -> float:
    return quantile(values, q) if values else 0.0


def stream_layers(tracer, region: Region, out: dict, perf_offset: float) -> dict:
    """Per-layer numbers from the queries' progress events."""
    prog = out["progress"]
    batches = [p for ps in prog for p in ps]

    def start(p: dict) -> float:
        return _batch_end(p) - p["durationMs"].get("triggerExecution", 0) / 1000

    def ms(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) for p in batches]

    for p in batches:
        tracer.record("streaming.batch", start(p) + perf_offset, _batch_end(p) + perf_offset)
    state = [p["stateOperators"] for p in batches if p.get("stateOperators")]
    last_state = [ps[-1]["stateOperators"] for ps in prog if ps and ps[-1].get("stateOperators")]
    # live backlog: events of the query's topic written, not yet consumed,
    # when a live micro-batch starts (queries are [orderbooks, trades])
    at = np.array([w[0] for w in region.write_log])
    backlog = []
    for col, ps in enumerate(prog, start=1):
        written = np.array([w[col] for w in region.write_log])
        done = 0
        for p in ps:
            i = int(np.searchsorted(at, start(p), side="right"))
            if start(p) * 1000 >= out["live_ms"] and i:
                backlog.append(int(written[i - 1]) - done)
            done += p["numInputRows"]
    trigger, add = ms("triggerExecution"), ms("addBatch")
    return {
        "streaming.batches": len(batches),
        "streaming.rows_per_batch_p50": _p([p["numInputRows"] for p in batches], 0.5),
        "streaming.trigger_ms_p50": _p(trigger, 0.5),
        "streaming.trigger_ms_p90": _p(trigger, 0.9),
        "streaming.addBatch_ms_p50": _p(add, 0.5),
        "streaming.fixed_ms_p50": _p([a - b for a, b in zip(trigger, add)], 0.5),
        "streaming.queryPlanning_ms_p50": _p(ms("queryPlanning"), 0.5),
        "streaming.walCommit_ms_p50": _p(ms("walCommit"), 0.5),
        "streaming.commitOffsets_ms_p50": _p(ms("commitOffsets"), 0.5),
        "streaming.state_rows_total": sum(o["numRowsTotal"] for ops in last_state for o in ops),
        "streaming.state_memory_bytes": sum(o["memoryUsedBytes"] for ops in last_state for o in ops),
        "streaming.state_commit_ms_p50": _p([sum(o["commitTimeMs"] for o in ops) for ops in state], 0.5),
        "sources.backlog_events_max": max(backlog, default=0),
        "sources.latestOffset_ms_p50": _p(ms("latestOffset"), 0.5),
        "sources.getBatch_ms_p50": _p(ms("getBatch"), 0.5),
    }


def _samples(region: Region, out: dict) -> dict:
    """Sample counts and the live run's shape, for the summary line. A
    latency that grows from the first half of the live phase to the second
    means the rate is past the knee."""
    _, lat, n_batches = _latencies(region, out["live_ms"])
    half = len(lat) // 2
    return {"latency": int(len(lat)), "latency_batches": n_batches,
            "latency_p50_first_half_s": _p(list(lat[:half]), 0.5),
            "latency_p50_second_half_s": _p(list(lat[half:]), 0.5),
            "catchup_s": out["catchup_s"], "backlog_events": out["backlog"],
            "catchup_events_per_s": out["backlog"] / out["catchup_s"],
            "generator_late_ms_p50": _p(region.late_ms, 0.5),
            "generator_late_ms_max": max(region.late_ms, default=0.0)}


def run(ctx, t_start: float) -> dict:
    size = TINY if ctx.tiny else FULL
    with ctx.tracer.span("session.warmup"):
        warm = Region(ctx, "warm", 0)
        warm.backlog(WARM_FILES, size["rate"])
        warm.start(*warm.build())
        warm.drain()
        warm.stop()
    extra: dict[str, float] = {}
    res: dict = {"layer": extra, "inputs": {**size, "tick_s": TICK_S,
                                            "max_files_per_trigger": MAX_FILES_PER_TRIGGER}}
    if ctx.tracer.enabled:
        base = Region(ctx, "untraced", 1)
        base_out = run_region(ctx, base, size, *prepare(base, size), live=False)
        region = Region(ctx, "traced", 2)
        with ctx.traced_region():
            out = run_region(ctx, region, size, *prepare(region, size))
        extra.update(stream_layers(ctx.tracer, region, out, now() - time.time()))
        extra["trace.overhead_pct"] = 100.0 * (out["catchup_s"] / base_out["catchup_s"] - 1.0)
    else:
        region = Region(ctx, "timed", 1)
        backlog, plans = prepare(region, size)
        setup_s = now() - t_start
        out = run_region(ctx, region, size, backlog, plans)
        _, lat, _ = _latencies(region, out["live_ms"])
        res["e2e"] = {
            "setup_s": setup_s,
            "throughput_per_s": out["backlog"] / out["catchup_s"],
            "latency_p50_s": quantile(list(lat), 0.5),
            "latency_p90_s": quantile(list(lat), 0.9),
        }
    res["samples"] = _samples(region, out)
    res["attempted"], res["failed"] = check(ctx, region)
    return res
