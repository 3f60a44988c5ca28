"""Seeded input generator (numpy + pyarrow, one thread, no Spark).

Kafka-shaped logs of Upbit trade and orderbook JSON: the exact column set of
``sources.kafka_mock.KAFKA_SOURCE_SCHEMA`` with ``partition`` as the Hive
directory, dense per-partition offsets, and the exchange ``timestamp``
stamped at creation. One instrument (KRW-BTC) carries ``HOT_FRAC`` of the
events, as ``tools/gen_market_fixture.py`` does.

The same seed gives the same rows. Only live stream stamps depend on the
clock, because they are the events' creation times.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CODES = [
    "KRW-BTC", "KRW-ETH", "KRW-XRP", "KRW-SOL", "KRW-ADA", "KRW-DOGE",
    "KRW-AVAX", "KRW-DOT", "KRW-LINK", "KRW-TRX", "KRW-ATOM", "KRW-NEAR",
]
BASE_PRICE = np.array(
    [5.0e7, 3.0e6, 800.0, 1.5e5, 600.0, 120.0, 4.0e4, 9000.0, 2.0e4, 150.0, 1.2e4, 5000.0]
)
HOT_FRAC = 0.6
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

KAFKA_ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)


def partition_of(code: str, n_partitions: int) -> int:
    """Kafka keyed routing: a stable hash of the key modulo the partitions."""
    return zlib.crc32(code.encode()) % n_partitions


class MarketSource:
    """Stateful producer of Upbit-shaped trade and orderbook payloads.

    Per instrument it carries a random-walk mid price in ticks (so OFI sees
    rises, falls and unchanged books), the last stamp (stamps are strictly
    increasing per instrument, so every per-key order is total) and a global
    trade ``sequential_id``.
    """

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.weights = np.full(len(CODES), (1.0 - HOT_FRAC) / (len(CODES) - 1))
        self.weights[0] = HOT_FRAC
        self.tick = BASE_PRICE * 1e-4
        self.mid = np.full(len(CODES), 10_000, dtype=np.int64)
        self.last_ms = {"trade": np.full(len(CODES), -1, np.int64),
                        "orderbook": np.full(len(CODES), -1, np.int64)}
        self.seq = 0

    def _assign(self, kind: str, due_ms: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Codes for events due at ``due_ms``: weighted draws, moved to the
        next free instrument when one would repeat a stamp, so (code, stamp)
        is unique. Stamps are the due times and never move."""
        draws = self.rng.choice(len(CODES), size=len(due_ms), p=self.weights)
        last = self.last_ms[kind]
        codes = np.empty(len(due_ms), np.int64)
        for i, (c, t) in enumerate(zip(draws.tolist(), due_ms.tolist())):
            for step in range(len(CODES)):
                cc = (c + step) % len(CODES)
                if last[cc] < t:
                    break
            else:
                raise ValueError("more events due in one millisecond than instruments")
            last[cc] = t
            codes[i] = cc
        return codes, due_ms

    def orderbooks(self, due_ms: np.ndarray) -> tuple[list[bytes], np.ndarray, np.ndarray]:
        """Orderbook payloads due at ``due_ms``; returns (values, codes, stamps)."""
        codes, ts = self._assign("orderbook", due_ms)
        n = len(codes)
        steps = self.rng.integers(-1, 2, n)
        sizes = np.round(self.rng.lognormal(0.0, 1.0, (n, 6)), 4)
        delay = self.rng.uniform(0.001, 0.05, n)
        out = []
        for i in range(n):
            c = int(codes[i])
            self.mid[c] += int(steps[i])
            tick = float(self.tick[c])
            bid0 = round(float(self.mid[c] - 1) * tick, 6)
            ask0 = round(float(self.mid[c] + 1) * tick, 6)
            s = sizes[i]
            units = ",".join(
                f'{{"ask_price":{round(ask0 + lv * tick, 6)!r},"bid_price":{round(bid0 - lv * tick, 6)!r},'
                f'"ask_size":{float(s[2 * lv])!r},"bid_size":{float(s[2 * lv + 1])!r}}}'
                for lv in range(3)
            )
            t = int(ts[i])
            out.append(
                (
                    f'{{"type":"orderbook","code":"{CODES[c]}","timestamp":{t},'
                    f'"total_ask_size":{float(s[0] + s[2] + s[4])!r},'
                    f'"total_bid_size":{float(s[1] + s[3] + s[5])!r},'
                    f'"orderbook_units":[{units}],"stream_type":"REALTIME","level":0,'
                    f'"arrive_time":{t / 1000.0 + float(delay[i])!r}}}'
                ).encode()
            )
        return out, codes, ts

    def trades(self, due_ms: np.ndarray) -> tuple[list[bytes], np.ndarray, np.ndarray]:
        """Trade payloads due at ``due_ms``; returns (values, codes, stamps)."""
        codes, ts = self._assign("trade", due_ms)
        n = len(codes)
        side = self.rng.random(n) < 0.5
        notional = self.rng.lognormal(np.log(5e5), 1.0, n)  # KRW per trade
        jitter = self.rng.integers(-1, 2, n)
        delay = self.rng.uniform(0.001, 0.05, n)
        stamps = np.datetime_as_string(ts.astype("datetime64[ms]"), unit="s")
        out = []
        for i in range(n):
            c = int(codes[i])
            tick = float(self.tick[c])
            price = round(float(self.mid[c] + int(jitter[i])) * tick, 6)
            vol = round(float(notional[i]) / price, 8)
            prev = round(10_000 * tick, 6)
            day, clock = str(stamps[i]).split("T")
            t = int(ts[i])
            self.seq += 1
            out.append(
                (
                    f'{{"type":"trade","code":"{CODES[c]}","timestamp":{t},'
                    f'"trade_date":"{day}","trade_time":"{clock}","trade_timestamp":{t},'
                    f'"trade_price":{price!r},"trade_volume":{vol!r},'
                    f'"ask_bid":"{"BID" if side[i] else "ASK"}","prev_closing_price":{prev!r},'
                    f'"change":"{"RISE" if price >= prev else "FALL"}",'
                    f'"change_price":{round(abs(price - prev), 6)!r},"sequential_id":{self.seq},'
                    f'"stream_type":"REALTIME","arrive_time":{t / 1000.0 + float(delay[i])!r}}}'
                ).encode()
            )
        return out, codes, ts


class KafkaLogWriter:
    """Appends files to a Kafka-shaped Parquet log (``<dir>/partition=<p>/``).

    Each ``append`` writes one file per non-empty partition, under a hidden
    name first and renamed into place, so a streaming file source never
    lists a half-written file. Offsets are dense per partition.
    """

    def __init__(self, path: str, topic: str, n_partitions: int = 1) -> None:
        self.path, self.topic, self.n_partitions = path, topic, n_partitions
        self.next_offset = [0] * n_partitions
        self.n_files = 0
        for p in range(n_partitions):
            os.makedirs(os.path.join(path, f"partition={p}"), exist_ok=True)

    def append(self, values: list[bytes], codes: np.ndarray, ts_ms: np.ndarray) -> dict[int, tuple[int, int]]:
        """Write one batch; returns each partition's ``[start, end)`` band."""
        parts = np.array([partition_of(CODES[c], self.n_partitions) for c in codes.tolist()])
        bands = {}
        for p in range(self.n_partitions):
            idx = np.nonzero(parts == p)[0]
            start = self.next_offset[p]
            if len(idx) == 0:
                bands[p] = (start, start)
                continue
            table = pa.table(
                {
                    "key": pa.array([CODES[c].encode() for c in codes[idx].tolist()], pa.binary()),
                    "value": pa.array([values[i] for i in idx.tolist()], pa.binary()),
                    "topic": pa.array([self.topic] * len(idx), pa.string()),
                    "offset": pa.array(np.arange(start, start + len(idx)), pa.int64()),
                    "timestamp": pa.array(ts_ms[idx] * 1000, pa.timestamp("us", tz="UTC")),
                    "timestampType": pa.array(np.zeros(len(idx), np.int32)),
                },
                schema=KAFKA_ARROW_SCHEMA,
            )
            d = os.path.join(self.path, f"partition={p}")
            name = f"part-{self.n_files:06d}.parquet"
            tmp = os.path.join(d, "." + name)
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(d, name))
            self.n_files += 1
            self.next_offset[p] = start + len(idx)
            bands[p] = (start, start + len(idx))
        return bands


def even_schedule(start_ms: float, rate_per_s: float, n: int) -> np.ndarray:
    """Due times (epoch ms, floored) of ``n`` events spaced evenly at a rate."""
    return np.floor(start_ms + np.arange(n) * (1000.0 / rate_per_s)).astype(np.int64)
