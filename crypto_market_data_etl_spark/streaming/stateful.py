"""Custom stateful streaming operators (SURVEY §4 item 2, §7.2).

The reference *intends* a running EWMA and a lag-based OFI on a streaming
DataFrame (``kafka_upbit_realtime_processing.py:99-104,121-128``) — both are
rejected by Structured Streaming (non-time window functions are unsupported
on streams). The supported mechanism is keyed state:
``applyInPandasWithState`` carrying the tiny recurrence state of each
instrument across micro-batches:

- EWMA: the last smoothed value (one double per key).
- OFI: the previous best-of-book (4 doubles per key).
- Dollar bars: the running notional (one bigint per key).
- As-of enrichment: the latest order-book snapshot (one row per key).

State size is O(keys), not O(events) — this scales to any stream volume; the
only requirement is per-key in-order arrival across micro-batches, which the
source's per-key ordering (Kafka partitioning by code) provides. Within a
micro-batch each operator sorts its rows by (key, ts) itself.

Every operator has ONE physical form: the stream is grouped by
``hash(key) % n_buckets`` rather than by the key (:func:`_bucketed`), so
the Python update runs O(buckets) times per micro-batch, not O(distinct
keys), and computes the recurrence for every key of its bucket in a handful
of numpy/pandas passes over the key-sorted frame — no per-row or per-key
Python loops. A key's rows always hash to the same bucket, so per-key order
and state continuity are preserved. On the key-cardinality axis (1M events,
4 micro-batches, ``tools/scale_stateful_run.py``, SCALE_r07) the bucketed
EWMA stays flat at 247k/321k/305k ev/s at 1.5k/10k/50k keys, where the
one-group-per-key form it replaced fell from 195k to 26k ev/s.

Key/timestamp output and state dtypes are derived from the input schema, so
the operators work unchanged on the reference's string ``code`` column and
on integer keys alike.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _dtype(df: DataFrame, col: str) -> T.DataType:
    """Spark type of *col* in *df* (so key/ts schemas follow the input)."""
    return df.schema[col].dataType


def _integral(t: T.DataType) -> bool:
    return isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def _objects(values: Any) -> np.ndarray:
    """1-D object array of *values* — list-valued cells (array columns)
    stay one slot each instead of becoming a second numpy axis."""
    return np.fromiter(values, dtype=object)


#: One carried state field: (name, Spark element type, numpy dtype).
_Field = tuple[str, T.DataType, Any]


def _bucketed(
    df: DataFrame,
    key_col: str,
    n_buckets: int,
    out_schema: T.StructType,
    fields: Sequence[_Field],
    step: Callable[[pd.DataFrame, np.ndarray, list], tuple],
) -> DataFrame:
    """Group *df* by ``pmod(xxhash64(key), n_buckets)`` and run *step* once
    per bucket per micro-batch through ``applyInPandasWithState`` (append
    mode, no timeout). This is the one place that decides how bucket state
    is laid out: a ``keys`` array of the bucket's keys plus one parallel
    array per carried field — O(total keys / n_buckets) per group, O(total
    keys) overall. At 100 TB ``n_buckets`` grows with key cardinality (keep
    ≤ ~100k keys per bucket) and the state-store partition count with it.

    The group's rows arrive as an iterator of Arrow-batch-sized chunks whose
    boundaries slice shuffle-arrival order, NOT event-time order, so the
    chunks are concatenated into one frame before *step* sorts it —
    per-chunk processing with carried state silently mis-orders any group
    that straddles a chunk boundary (~10k rows; found as a q28 value
    mismatch at sf0.1). Buffering is bounded by one bucket's rows in one
    micro-batch.

    ``step(pdf, skeys, cols)`` gets the frame, the carried keys and one
    array per field, and returns ``(rows, keep, fresh)``: the output frame
    (or None), the mask of carried keys this batch left untouched, and this
    batch's keys plus one array per field with their latest values. The
    next state is the kept carried entries followed by ``fresh``.
    """
    key_t = _dtype(df, key_col)
    int_key = _integral(key_t)
    state_schema = T.StructType(
        [
            T.StructField("keys", T.ArrayType(key_t)),
            *[T.StructField(name, T.ArrayType(t)) for name, t, _ in fields],
        ]
    )

    def update(
        _bkt: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        key_np = pdf[key_col].to_numpy().dtype if int_key else object
        if state.exists:
            skeys_l, *cols_l = state.get
        else:
            skeys_l, cols_l = [], [[] for _ in fields]
        skeys = np.asarray(skeys_l, dtype=key_np)
        cols = [
            _objects(v) if dt is object else np.asarray(v, dtype=dt)
            for v, (_, _, dt) in zip(cols_l, fields)
        ]
        out, keep, fresh = step(pdf, skeys, cols)
        state.update(
            tuple(
                np.concatenate([carried[keep], new]).tolist()
                for carried, new in zip([skeys, *cols], fresh)
            )
        )
        if out is not None:
            yield out

    bucketed = df.withColumn(
        "__bkt", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    )
    return bucketed.groupBy("__bkt").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _carried(
    skeys: np.ndarray, seg_keys: np.ndarray, values: np.ndarray, missing: Any
) -> np.ndarray:
    """Carried ``values`` (last axis parallel to ``skeys``) of each of
    ``seg_keys``, or ``missing`` for keys with no history."""
    if not len(skeys):
        return np.full(values.shape[:-1] + (len(seg_keys),), missing, values.dtype)
    sidx = np.argsort(skeys)
    pos_c = np.clip(np.searchsorted(skeys[sidx], seg_keys), 0, len(skeys) - 1)
    hit = skeys[sidx][pos_c] == seg_keys
    return np.where(hit, values[..., sidx[pos_c]], missing)


def _segments(sk: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Start and end row of each key's run in the key-sorted ``sk``."""
    seg_starts = np.concatenate(
        [[0], np.nonzero(sk[1:] != sk[:-1])[0] + 1]
    ).astype(np.int64)
    return seg_starts, np.concatenate([seg_starts[1:], [len(sk)]]) - 1


def stateful_ofi_bucketed(
    df: DataFrame,
    key_col: str = "code",
    ts_col: str = "ts_us",
    bid_price: str = "best_bid_price",
    bid_size: str = "best_bid_size",
    ask_price: str = "best_ask_price",
    ask_size: str = "best_ask_size",
    out: str = "ofi",
    n_buckets: int = 32,
) -> DataFrame:
    """Streaming order-flow imbalance: the lag-based OFI of
    ``operators.ewma.with_ofi`` with the previous best-of-book carried as
    per-key state across micro-batches (SURVEY §4 item 2 — the reference
    wanted ``lag`` on a stream, which Structured Streaming rejects).

    The first row ever seen per key emits NULL (no prior book). Requires
    per-key in-order arrival across micro-batches. Within each bucket the
    previous-row book is one within-segment shift over the (key, ts)-sorted
    frame, segment starts seeded from the carried book (NaN for first-ever
    rows). State = the previous book, 4 doubles per key.
    """
    out_schema = T.StructType(
        [
            T.StructField(key_col, _dtype(df, key_col)),
            T.StructField(ts_col, _dtype(df, ts_col)),
            T.StructField(out, T.DoubleType()),
        ]
    )
    fields = [(f, T.DoubleType(), "float64") for f in ("bp", "bs", "ap", "as_")]

    def step(pdf: pd.DataFrame, skeys: np.ndarray, cols: list):
        k = pdf[key_col].to_numpy()
        ts = pdf[ts_col].to_numpy()
        order = np.lexsort((ts, k))
        sk, sts = k[order], ts[order]
        book = np.stack(
            [
                pdf[c].to_numpy(dtype="float64")[order]
                for c in (bid_price, bid_size, ask_price, ask_size)
            ]
        )
        seg_starts, seg_ends = _segments(sk)
        seg_keys = sk[seg_starts]
        # previous-row book: one shift, then segment starts re-seeded from
        # the carried state (NaN where the key has no history)
        prev = np.empty_like(book)
        prev[:, 1:] = book[:, :-1]
        prev[:, seg_starts] = _carried(skeys, seg_keys, np.stack(cols), np.nan)
        bp, bs, ap, asz = book
        pbp, pbs, pap, pas = prev
        bid_c = np.where(bp > pbp, bs, np.where(bp == pbp, bs - pbs, -pbs))
        ask_c = np.where(ap < pap, asz, np.where(ap == pap, asz - pas, -pas))
        ofi = bid_c - ask_c
        # NaN comparisons are all False → bid_c/ask_c pick the else branch;
        # force first-ever rows to NaN explicitly (their prev book is NaN)
        ofi[np.isnan(pbp)] = np.nan
        return (
            pd.DataFrame({key_col: sk, ts_col: sts, out: ofi}),
            ~np.isin(skeys, seg_keys),
            (seg_keys, *book[:, seg_ends]),
        )

    return _bucketed(df, key_col, n_buckets, out_schema, fields, step)


def stateful_dollar_bars_bucketed(
    df: DataFrame,
    key_col: str = "code",
    ts_col: str = "ts_us",
    notional_cents_col: str = "cents",
    bar_cents: int = 300_000_000_00,
    passthrough_cols: Sequence[str] = (),
    n_buckets: int = 32,
) -> DataFrame:
    """Streaming dollar bars: the running notional cumsum per key carried
    as state (SURVEY §7.2 — inherently sequential per key, the stateful-op
    route; the reference computes bars only in batch).

    Emits one row per input event with its cumulative cents and bar id —
    identical assignment to ``operators.bars.dollar_bars`` on the same data
    (asserted in tests). ``passthrough_cols`` (e.g. price, sequential id)
    ride along unchanged so bar-level OHLCV is a downstream groupBy on
    (key, bar_num) with no join back to the source. Requires per-key
    in-order arrival across micro-batches. Exact under int64: cumulative
    cents stay integer end to end. Within each bucket the per-key cumsum is
    one Cython ``groupby(...).cumsum()`` over the (key, ts)-sorted frame
    plus each key's carried offset. State = one bigint per key.
    """
    passthrough_cols = [c for c in passthrough_cols]
    out_schema = T.StructType(
        [
            T.StructField(key_col, _dtype(df, key_col)),
            T.StructField(ts_col, _dtype(df, ts_col)),
            T.StructField(notional_cents_col, T.LongType()),
            *[T.StructField(c, _dtype(df, c)) for c in passthrough_cols],
            T.StructField("cum_cents", T.LongType()),
            T.StructField("bar_num", T.LongType()),
        ]
    )
    fields = [("cums", T.LongType(), "int64")]

    def step(pdf: pd.DataFrame, skeys: np.ndarray, cols: list):
        (scums,) = cols
        k = pdf[key_col].to_numpy()
        ts = pdf[ts_col].to_numpy()
        order = np.lexsort((ts, k))
        sk, sts = k[order], ts[order]
        scents = pdf[notional_cents_col].to_numpy(dtype="int64")[order]
        # per-key cumsum in one pass, then add each key's carried offset
        gc = pd.Series(scents).groupby(pd.Series(sk), sort=False).cumsum().to_numpy()
        seg_starts, seg_ends = _segments(sk)
        seg_keys = sk[seg_starts]
        seg_off = _carried(skeys, seg_keys, scums, 0)
        cums = gc + np.repeat(seg_off, seg_ends - seg_starts + 1)
        out = {key_col: sk, ts_col: sts, notional_cents_col: scents}
        for c in passthrough_cols:
            out[c] = pdf[c].to_numpy()[order]
        out["cum_cents"] = cums
        out["bar_num"] = (cums - 1) // bar_cents
        return (
            pd.DataFrame(out),
            ~np.isin(skeys, seg_keys),
            (seg_keys, cums[seg_ends]),
        )

    return _bucketed(df, key_col, n_buckets, out_schema, fields, step)


def _pd_dtype(t: T.DataType) -> str:
    """Pandas dtype that round-trips *t* through Arrow with nulls intact
    (plain int64 cannot hold the NULLs an unmatched as-of row needs)."""
    if isinstance(t, T.LongType):
        return "Int64"
    if isinstance(t, T.IntegerType):
        return "Int32"
    if isinstance(t, T.ShortType):
        return "Int16"
    if isinstance(t, T.ByteType):
        return "Int8"
    if isinstance(t, (T.DoubleType, T.FloatType)):
        return "float64"
    return "object"


def _native_scalar(v: Any) -> Any:
    """Pandas/numpy cell → the exact Python value ``GroupState.update``
    expects (None for missing, int/float/str/bool/list/... otherwise;
    ndarray cells — array-typed columns — become plain lists)."""
    if v is None:
        return None
    if isinstance(v, np.ndarray):
        return v.tolist()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def stateful_asof_enrich_bucketed(
    trades: DataFrame,
    snapshots: DataFrame,
    key_col: str = "code",
    ts_col: str = "ts_us",
    tolerance: int | None = None,
    tiebreak: Sequence[str] = (),
    suffix: str = "_r",
    n_buckets: int = 32,
) -> DataFrame:
    """Streaming as-of enrichment — the streaming twin of
    ``operators.asof.asof_join`` (the §3.3 flagship join): every trade is
    emitted with the latest order-book snapshot at-or-before it, across
    micro-batch boundaries.

    The batch engine buckets time and equi-joins; a stream instead carries
    the **latest snapshot per key as state** (O(keys) state, any stream
    volume). The two streams are tag-unioned into one keyed stream so one
    update sees both sides in ts order. Snapshots sort before trades at
    equal ts, so an equal-ts snapshot is visible to its trade — the batch
    join's ``<=``. ``tolerance`` (same unit as ``ts_col``) nulls out
    enrichments older than the band, matching the batch join's lower bound;
    state is still advanced. Trades before any snapshot of their key emit
    NULLs (left-outer). ``tiebreak`` columns (e.g. a sequence id) make
    equal-ts snapshot order deterministic; they must exist on both streams
    (use a constant on the side that lacks them). Requires per-key in-order
    arrival across micro-batches.

    Integral payload columns ride the union zero-filled beside a boolean
    ``__nn_`` validity companion: the union gives every payload column
    NULLs on the other side's rows, and Arrow hands long-with-null to
    pandas as float64 — silently lossy above 2^53 (nanosecond epochs, large
    sequential ids). The companion tells a genuine NULL from the union
    fill, and the same pair is what the state carries. Floats keep NaN≡null
    and strings/decimals/arrays travel as objects, all in the dtype Arrow
    delivered.

    Within each bucket the carried per-key snapshot is PREPENDED as a
    synthetic snapshot row, then one positional forward-fill (a global
    ``maximum.accumulate`` over snapshot positions, floored at each key's
    segment start — a fill from an earlier KEY is invalid) gives every
    trade of every key its latest at-or-before snapshot; seeds, in-batch
    snapshots and the tolerance band share the one vectorized path.
    """
    t_payload = [c for c in trades.columns if c not in (key_col, ts_col)]
    s_payload = [c for c in snapshots.columns if c not in (key_col, ts_col)]
    clash = set(t_payload) & set(s_payload)
    if clash:
        raise ValueError(f"payload columns must be disjoint, overlap: {sorted(clash)}")
    if not _integral(_dtype(trades, ts_col)) or not _integral(
        _dtype(snapshots, ts_col)
    ):
        raise TypeError(
            f"{ts_col} must be an integer epoch column on both streams "
            f"(got {_dtype(trades, ts_col)} / {_dtype(snapshots, ts_col)}); "
            "convert timestamps to epoch micros first"
        )
    int_t = [c for c in t_payload if _integral(_dtype(trades, c))]
    int_s = [c for c in s_payload if _integral(_dtype(snapshots, c))]

    def _own(df: DataFrame, c: str, integral: bool):
        if integral:
            return F.coalesce(F.col(c), F.lit(0).cast(_dtype(df, c))).alias(c)
        return F.col(c)

    def _fill(df: DataFrame, c: str, integral: bool):
        base = F.lit(0) if integral else F.lit(None)
        return base.cast(_dtype(df, c)).alias(c)

    t_tagged = trades.select(
        key_col,
        ts_col,
        F.lit(1).alias("__is_trade"),
        *[_own(trades, c, c in int_t) for c in t_payload],
        *[F.col(c).isNotNull().alias(f"__nn_{c}") for c in int_t],
        *[_fill(snapshots, c, c in int_s) for c in s_payload],
        *[F.lit(False).alias(f"__nn_{c}") for c in int_s],
    )
    s_tagged = snapshots.select(
        key_col,
        ts_col,
        F.lit(0).alias("__is_trade"),
        *[_fill(trades, c, c in int_t) for c in t_payload],
        *[F.lit(False).alias(f"__nn_{c}") for c in int_t],
        *[_own(snapshots, c, c in int_s) for c in s_payload],
        *[F.col(c).isNotNull().alias(f"__nn_{c}") for c in int_s],
    )
    u = t_tagged.unionByName(s_tagged)

    ts_pd = _pd_dtype(_dtype(trades, ts_col))
    snap_pd = {c: _pd_dtype(_dtype(snapshots, c)) for c in s_payload}
    trade_pd = {c: _pd_dtype(_dtype(trades, c)) for c in t_payload}
    out_schema = T.StructType(
        [
            T.StructField(key_col, _dtype(trades, key_col)),
            T.StructField(ts_col, _dtype(trades, ts_col)),
            *[T.StructField(c, _dtype(trades, c)) for c in t_payload],
            T.StructField(ts_col + suffix, _dtype(trades, ts_col)),
            *[T.StructField(c + suffix, _dtype(snapshots, c)) for c in s_payload],
        ]
    )
    fields = [
        ("snap_ts", _dtype(trades, ts_col), "int64"),
        *[
            (c, _dtype(snapshots, c), "int64" if c in int_s else object)
            for c in s_payload
        ],
        *[(f"__nn_{c}", T.BooleanType(), "bool") for c in int_s],
    ]
    sort_cols = [key_col, ts_col, "__seed", "__is_trade", *tiebreak]

    def step(pdf: pd.DataFrame, skeys: np.ndarray, cols: list):
        s_ts = cols[0]
        s_cols = dict(zip(s_payload, cols[1 : 1 + len(s_payload)]))
        s_nn = dict(zip(int_s, cols[1 + len(s_payload) :]))
        pdf["__seed"] = np.int8(1)
        present = np.isin(skeys, pdf[key_col].to_numpy())
        if present.any():
            sel = np.nonzero(present)[0]
            seed = {
                key_col: skeys[sel],
                ts_col: pd.array(s_ts[sel], dtype=ts_pd),
                "__is_trade": np.int8(0),
                "__seed": np.int8(0),
            }
            for c in t_payload:
                seed[c] = (
                    pd.array([0] * len(sel), dtype=trade_pd[c])
                    if c in int_t
                    else pd.Series([None] * len(sel), dtype=pdf[c].dtype)
                )
            for c in int_t:
                seed[f"__nn_{c}"] = False
            for c in s_payload:
                if c in int_s:
                    seed[c] = pd.array(s_cols[c][sel], dtype=snap_pd[c])
                    seed[f"__nn_{c}"] = s_nn[c][sel]
                else:
                    seed[c] = pd.Series(s_cols[c][sel], dtype=pdf[c].dtype)
            pdf = pd.concat([pd.DataFrame(seed), pdf], ignore_index=True)
        pdf = pdf.sort_values(sort_cols, kind="stable").reset_index(drop=True)
        n = len(pdf)
        keys_np = pdf[key_col].to_numpy()
        seg_starts, seg_ends = _segments(keys_np)
        seg_floor = np.repeat(seg_starts, seg_ends - seg_starts + 1)
        is_snap = (pdf["__is_trade"] == 0).to_numpy()
        pos = np.maximum.accumulate(np.where(is_snap, np.arange(n), -1))
        valid = pos >= seg_floor  # a fill from an earlier key's segment is not
        tr = ~is_snap
        ts_np = pdf[ts_col].to_numpy()
        out = None
        if tr.any():
            tpos = pos[tr]
            have = valid[tr]
            clip = np.clip(tpos, 0, None)
            trade_ts = ts_np[tr]
            snap_ts = ts_np[clip]
            if tolerance is not None:
                stale = have & ((trade_ts - snap_ts) > tolerance)
            else:
                stale = np.zeros(len(tpos), dtype=bool)
            drop = ~have | stale  # null the enrichment, keep the trade
            rows: dict[str, Any] = {
                key_col: keys_np[tr],
                ts_col: trade_ts,
            }
            for c in t_payload:
                col = pdf[c].to_numpy()[tr]
                if c in int_t:  # restore genuine NULLs over the 0-fill
                    arr = pd.array(col, dtype=trade_pd[c])
                    arr[~pdf[f"__nn_{c}"].to_numpy()[tr]] = pd.NA
                    rows[c] = arr
                else:
                    rows[c] = col
            sts_arr = pd.array(snap_ts, dtype=ts_pd)
            sts_arr[drop] = pd.NA
            rows[ts_col + suffix] = sts_arr
            for c in s_payload:
                col = pdf[c].to_numpy()[clip]
                if c in int_s:
                    arr = pd.array(col, dtype=snap_pd[c])
                    arr[~pdf[f"__nn_{c}"].to_numpy()[clip] | drop] = pd.NA
                    rows[c + suffix] = arr
                else:
                    vals = col.copy()
                    na = np.nan if vals.dtype.kind == "f" else None
                    if drop.any():
                        if vals.dtype.kind == "f":
                            vals[drop] = na
                        else:
                            # one slot at a time: a masked bulk assign
                            # would numpy-broadcast list-valued cells
                            for j in np.where(drop)[0]:
                                vals[j] = na
                    rows[c + suffix] = vals
            out = pd.DataFrame(rows)
        # new state: the latest snapshot per key (seed rows count — a key
        # whose batch had no new snapshot keeps its carried one)
        has_snap = valid[seg_ends]
        upd_rows = pos[seg_ends][has_snap]
        batch_keys = keys_np[seg_starts]
        fresh = [batch_keys[has_snap], ts_np[upd_rows]]
        for c in s_payload:
            col = pdf[c].to_numpy()
            if c in int_s:
                fresh.append(col[upd_rows])
            else:
                fresh.append(_objects(_native_scalar(col[r]) for r in upd_rows))
        fresh += [pdf[f"__nn_{c}"].to_numpy()[upd_rows] for c in int_s]
        return out, ~np.isin(skeys, batch_keys), fresh

    return _bucketed(u, key_col, n_buckets, out_schema, fields, step)


def stateful_ewma_bucketed(
    df: DataFrame,
    key_col: str = "code",
    ts_col: str = "ts_us",
    value_col: str = "value",
    alpha: float = 0.8,
    out: str = "ewma",
    n_buckets: int = 64,
) -> DataFrame:
    """Running EWMA per key on a streaming DataFrame.

    Emits every input row with its EWMA (recurrence
    ``y_t = alpha*x_t + (1-alpha)*y_{t-1}`` seeded by the key's first
    value), continuing across micro-batches via one double of state per
    key. Requires per-key in-order arrival across micro-batches.

    Vectorized as a state-seeded ``groupby(...).ewm(adjust=False).mean()``
    over the key-sorted bucket frame: prepending each carried value as a
    synthetic first observation of its key reproduces the recurrence
    bit-for-bit (pandas' adjust=False loop computes the identical
    ``(1-α)·y + α·x`` update in C). At sf0.1's 1,500 keys, grouping by
    bucket instead of by key cut addBatch from ~1.2 s to ~0.35 s per
    25k-row micro-batch (the s02 bench form).
    """
    out_schema = T.StructType(
        [
            T.StructField(key_col, _dtype(df, key_col)),
            T.StructField(ts_col, _dtype(df, ts_col)),
            T.StructField(value_col, T.DoubleType()),
            T.StructField(out, T.DoubleType()),
        ]
    )
    fields = [("ewmas", T.DoubleType(), "float64")]

    def step(pdf: pd.DataFrame, skeys: np.ndarray, cols: list):
        (sewmas,) = cols
        k = pdf[key_col].to_numpy()
        ts = pdf[ts_col].to_numpy()
        v = pdf[value_col].to_numpy(dtype="float64")
        # seed rows: one synthetic first observation per carried key present
        # in this batch
        in_batch = np.isin(skeys, k)
        seed_k, seed_v = skeys[in_batch], sewmas[in_batch]
        ns = len(seed_k)
        all_k = np.concatenate([seed_k, k])
        all_v = np.concatenate([seed_v, v])
        all_ts = np.concatenate([np.zeros(ns, dtype=ts.dtype), ts])
        not_seed = np.concatenate(
            [np.zeros(ns, dtype=np.int8), np.ones(len(k), dtype=np.int8)]
        )
        # primary sort on key, seeds first within a key, then event time
        order = np.lexsort((all_ts, not_seed, all_k))
        sk, sv, sts, sns = (
            all_k[order], all_v[order], all_ts[order], not_seed[order]
        )
        ewmas = (
            pd.DataFrame({"k": sk, "v": sv})
            .groupby("k", sort=False)["v"]
            .ewm(alpha=alpha, adjust=False)
            .mean()
            .to_numpy()
        )
        # new last-ewma per key touched this batch = last row of its segment
        _, last_idx = _segments(sk)
        real = sns == 1
        return (
            pd.DataFrame(
                {
                    key_col: sk[real],
                    ts_col: sts[real],
                    value_col: sv[real],
                    out: ewmas[real],
                }
            ),
            ~in_batch,
            (sk[last_idx], ewmas[last_idx]),
        )

    return _bucketed(df, key_col, n_buckets, out_schema, fields, step)


#: Session conf transformWithState requires (it is RocksDB-only; the default
#: HDFSBackedStateStoreProvider is rejected at query start).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def stateful_ewma_tws(
    df: DataFrame,
    key_col: str = "code",
    ts_col: str = "ts_us",
    value_col: str = "value",
    alpha: float = 0.8,
    out: str = "ewma",
) -> DataFrame:
    """The per-key EWMA of :func:`stateful_ewma_bucketed` on the Spark 4
    ``transformWithStateInPandas`` API — identical semantics and output
    schema, equality-tested against the ``applyInPandasWithState`` form.

    Why a second tier: ``transformWithState`` is where Structured Streaming's
    custom-state surface is headed — typed state handles (value/list/map),
    state TTL, timers, and initial-state bootstrap, none of which the legacy
    API offers. A production deployment that needs, e.g., key expiry for
    delisted instruments (TTL) or emit-on-silence bars (timers) builds on
    this form; the recurrence itself is the same state-seeded vectorized
    ``ewm`` per Arrow batch.

    Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` =
    :data:`ROCKSDB_PROVIDER`) — set it on the session before starting the
    query; ``transformWithState`` rejects the default HDFS-backed provider.
    Also requires ``google.protobuf`` (the state-server wire protocol;
    ships with any real PySpark deployment, absent from this sandbox — the
    equality test skips with the runtime's own error when missing).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField(key_col, _dtype(df, key_col)),
            T.StructField(ts_col, _dtype(df, ts_col)),
            T.StructField(value_col, T.DoubleType()),
            T.StructField(out, T.DoubleType()),
        ]
    )

    class _EwmaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("last_ewma", "last_ewma double")

        def handleInputRows(self, key, rows, timerValues):
            (k,) = key
            got = self._state.get() if self._state.exists() else None
            last = got[0] if got is not None else None
            for pdf in rows:
                pdf = pdf.sort_values(ts_col)
                n = len(pdf)
                if n == 0:
                    continue
                values = pdf[value_col].to_numpy(dtype="float64")
                if last is None:
                    seeded = pd.Series(values)
                    ewmas = seeded.ewm(alpha=alpha, adjust=False).mean().to_numpy()
                else:
                    seeded = pd.Series(np.concatenate(([last], values)))
                    ewmas = (
                        seeded.ewm(alpha=alpha, adjust=False).mean().to_numpy()[1:]
                    )
                last = float(ewmas[-1])
                yield pd.DataFrame(
                    {
                        key_col: [k] * n,
                        ts_col: pdf[ts_col].to_numpy(),
                        value_col: values,
                        out: ewmas,
                    }
                )
            if last is not None:
                self._state.update((last,))

        def close(self) -> None:
            pass

    return df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_EwmaProcessor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="None",
    )
