"""Streaming twin of the fixed-second LOCF grid (operators/grid.py).

The reference's real-time feature path holds per-symbol last-trade state in
Redis and serves a carried-forward price for every second, gap-flagged when
the state goes stale (DATA_PIPELINE.md:166-169; REDIS_SCHEMA.md feature
keys).  The batch engine resamples offline; this operator produces the SAME
dense per-second rows incrementally from a stream.

``applyInPandasWithState`` with per-symbol state = (last emitted second,
carried price, last trade ts).  Each micro-batch:

1. accumulate the group's chunks, aggregate to per-second last price /
   volume / trade count (vectorized pandas — no per-event Python beyond the
   batch boundary walk);
2. emit one row for EVERY second from the state's frontier through the
   batch's newest active second — carried seconds get the LOCF price,
   volume 0, and a data-age that grows until ``gap_threshold_s`` flips the
   gap flag (exactly operators/grid.locf_resample's columns);
3. advance the state frontier.

Disorder tolerance (``allowed_lateness_s``): a real SBE feed reorders at
ms scale, and occasionally across a second boundary.  Emission is held
back ``allowed_lateness_s`` seconds behind the newest observed second —
seconds inside that window accumulate per-second partial aggregates in
state (a bounded pending buffer, ≤ lateness entries) and only EMIT once
the frontier passes them, so any event no more than ``allowed_lateness_s``
seconds out of order lands in its correct grid row and the output matches
the batch twin row-for-row (pinned with shuffled input in
tests/test_streaming.py).  Events behind the EMITTED frontier are still
dropped — that is the hard watermark; re-delivered batches re-emit only
seconds past the frontier, so the output stream is append-consistent
under retries.  ``allowed_lateness_s=0`` (default) emits through the
newest active second, the strictest policy.

State is O(1 + allowed_lateness_s) per symbol regardless of stream
volume — the same bound as the reference's Redis hash — and emission is
bounded by wall-clock seconds, not event count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .disorder import _NO_FRONTIER

GRID_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("feature_ts", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("data_age_ms", T.LongType()),
        T.StructField("gap_indicator", T.BooleanType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("trades", T.LongType()),
        T.StructField("has_obs", T.BooleanType()),
    ]
)

# frontier second already emitted (sentinel _NO_FRONTIER before the first
# emission), carried price, last trade event_ts ms — plus the bounded
# pending buffer: parallel arrays of per-second partial aggregates for
# observed-but-not-yet-emitted seconds inside the lateness window.
GRID_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_sec", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("last_trade_ts", T.LongType()),
        T.StructField("pend_sec", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.DoubleType())),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_vol", T.ArrayType(T.DoubleType())),
        T.StructField("pend_n", T.ArrayType(T.LongType())),
    ]
)


def make_grid_resampler(gap_threshold_s: int = 60, allowed_lateness_s: int = 0):
    gap_ms = gap_threshold_s * 1000
    late_s = allowed_lateness_s

    def fn(key, pdfs, state: GroupState):
        symbol = key[0]
        chunks = [
            pdf[["event_ts", "price", "qty"]]
            for pdf in pdfs
            if len(pdf)
        ]
        if not chunks:
            yield pd.DataFrame(
                [], columns=[f.name for f in GRID_OUTPUT_SCHEMA.fields]
            )
            return
        ev = pd.concat(chunks, ignore_index=True)
        if state.exists:
            last_sec, price, last_ts, psec, pprice, pts, pvol, pn = state.get
            # sec -> [last price, its event_ts, volume, trades]
            pend = {
                int(s): [float(p), int(t), float(v), int(n)]
                for s, p, t, v, n in zip(psec, pprice, pts, pvol, pn)
            }
            # late data behind the EMITTED frontier is dropped (the hard
            # watermark); anything newer merges into the pending buffer
            ev = ev[ev["event_ts"] // 1000 > last_sec]
        else:
            last_sec, price, last_ts, pend = _NO_FRONTIER, None, None, {}

        if len(ev):
            ev = ev.sort_values("event_ts", kind="mergesort")
            ev["sec"] = ev["event_ts"] // 1000
            per_sec = ev.groupby("sec").agg(
                price=("price", "last"),
                last_ts=("event_ts", "max"),
                volume=("qty", "sum"),
                trades=("qty", "size"),
            )
            for sec, o in per_sec.iterrows():
                s = int(sec)
                cur = pend.get(s)
                if cur is None:
                    pend[s] = [
                        float(o["price"]), int(o["last_ts"]),
                        float(o["volume"]), int(o["trades"]),
                    ]
                else:
                    # merge a late sliver into its pending second: "last
                    # price" follows the max event_ts across deliveries
                    if int(o["last_ts"]) >= cur[1]:
                        cur[0], cur[1] = float(o["price"]), int(o["last_ts"])
                    cur[2] += float(o["volume"])
                    cur[3] += int(o["trades"])

        out = None
        if pend:
            end_emit = max(pend) - late_s
            start = min(pend) if last_sec == _NO_FRONTIER else last_sec + 1
            n_out = end_emit - start + 1
            if n_out > 0:
                # vectorized emission: the grid seconds are a contiguous
                # arange; observed seconds scatter into it and LOCF is one
                # maximum.accumulate — the per-second Python loop this
                # replaces measured 34x slower than the sibling processors
                # at sf0.1 (BENCH_STREAM_r09.json)
                obs_items = sorted(
                    (s, v) for s, v in pend.items() if s <= end_emit
                )
                for s, _ in obs_items:
                    del pend[s]
                obs_sec = np.array([s for s, _ in obs_items], dtype=np.int64)
                obs_price = np.array([v[0] for _, v in obs_items])
                obs_ts = np.array(
                    [v[1] for _, v in obs_items], dtype=np.int64
                )
                secs = np.arange(start, end_emit + 1, dtype=np.int64)
                pos = obs_sec - start
                fill = np.full(n_out, -1, dtype=np.int64)
                fill[pos] = np.arange(len(obs_sec))
                fill = np.maximum.accumulate(fill)
                seen = fill >= 0
                # seconds before the first observation carry the state's
                # price/last_ts (only reachable once a frontier exists, so
                # both are real emitted values).  If that invariant ever
                # breaks, fail loudly instead of silently emitting NaN
                # prices / epoch-0 data ages (ADVICE r9): carry values are
                # read iff the emit range starts before the first observed
                # second, which requires an existing frontier -> real state
                carry_needed = (
                    len(obs_sec) == 0 or int(obs_sec[0]) != start
                )
                assert not carry_needed or (
                    price is not None and last_ts is not None
                ), (
                    "grid frontier invariant broken: carried seconds would "
                    "emit with no state price/last_ts"
                )
                carry_p = float(price) if price is not None else np.nan
                carry_t = int(last_ts) if last_ts is not None else 0
                if len(obs_sec):
                    prices = np.where(
                        seen, obs_price[np.maximum(fill, 0)], carry_p
                    )
                    ts_fill = np.where(
                        seen, obs_ts[np.maximum(fill, 0)], carry_t
                    )
                else:
                    # every pending second still inside the lateness
                    # window: the whole emit range carries state values
                    prices = np.full(n_out, carry_p)
                    ts_fill = np.full(n_out, carry_t, dtype=np.int64)
                ages = (secs + 1) * 1000 - 1 - ts_fill
                vols = np.zeros(n_out)
                vols[pos] = [v[2] for _, v in obs_items]
                ns = np.zeros(n_out, dtype=np.int64)
                ns[pos] = [v[3] for _, v in obs_items]
                has = np.zeros(n_out, dtype=bool)
                has[pos] = True
                out = pd.DataFrame(
                    {
                        "symbol": symbol,
                        "feature_ts": secs,
                        "price": prices,
                        "data_age_ms": ages,
                        "gap_indicator": ages > gap_ms,
                        "volume": vols,
                        "trades": ns,
                        "has_obs": has,
                    }
                )
                last_sec = end_emit
                if len(obs_items):
                    price = float(obs_price[-1])
                    last_ts = int(obs_ts[-1])
            items = sorted(pend.items())
            state.update((
                int(last_sec),
                float(price) if price is not None else 0.0,
                int(last_ts) if last_ts is not None else 0,
                [s for s, _ in items],
                [p[0] for _, p in items],
                [p[1] for _, p in items],
                [p[2] for _, p in items],
                [p[3] for _, p in items],
            ))
        yield (
            out
            if out is not None
            else pd.DataFrame(
                [], columns=[f.name for f in GRID_OUTPUT_SCHEMA.fields]
            )
        )

    return fn


def stream_locf_grid(
    trades: DataFrame,
    gap_threshold_s: int = 60,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Dense per-second LOCF rows from a trade stream — the incremental
    form of operators/grid.locf_resample (same columns, same carry/gap
    semantics), verified row-for-row against the batch twin in
    tests/test_streaming.py.

    ``allowed_lateness_s`` holds emission that many seconds behind the
    newest observed second, absorbing feed disorder across second
    boundaries (see module docstring); 0 emits through the newest active
    second and tolerates only intra-second disorder."""
    return trades.groupBy("symbol").applyInPandasWithState(
        make_grid_resampler(gap_threshold_s, allowed_lateness_s),
        outputStructType=GRID_OUTPUT_SCHEMA,
        stateStructType=GRID_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RETURNS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("feature_ts", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("ret_1s", T.DoubleType()),
        T.StructField("ret_5s", T.DoubleType()),
        T.StructField("ret_10s", T.DoubleType()),
        T.StructField("gap_indicator", T.BooleanType()),
    ]
)

# grid frontier + a bounded ring of the last max(horizon) carried prices,
# plus the same bounded pending buffer as the grid resampler
RETURNS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_sec", T.LongType()),
        T.StructField("last_trade_ts", T.LongType()),
        T.StructField("hist", T.ArrayType(T.DoubleType())),
        T.StructField("pend_sec", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.DoubleType())),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
    ]
)

RET_HORIZONS_S = (1, 5, 10)


def make_returns_resampler(gap_threshold_s: int = 60, allowed_lateness_s: int = 0):
    """Streaming k-second returns at grid grain — the live form of the
    reference's Redis ``ret_1s``/``ret_5s``/``ret_10s`` feature fields
    (REDIS_SCHEMA.md feat hash; batch twin: operators/grid.grid_returns).

    State per symbol = the LOCF frontier plus a bounded price ring of the
    last max(horizon) grid prices — O(60 doubles), the Redis-hash bound —
    plus, when ``allowed_lateness_s`` > 0, the same bounded pending-second
    buffer as :func:`make_grid_resampler` (emission held ``lateness``
    seconds behind the newest observation, so cross-second feed disorder
    lands in the correct grid row before its return is computed).
    Returns over carried prices are exactly 0 (log p/p), matching the batch
    twin; a horizon reaching before the symbol's first print yields NULL."""
    import math

    gap_ms = gap_threshold_s * 1000
    max_h = max(RET_HORIZONS_S)
    late_s = allowed_lateness_s

    def fn(key, pdfs, state: GroupState):
        symbol = key[0]
        chunks = [pdf[["event_ts", "price"]] for pdf in pdfs if len(pdf)]
        if not chunks:
            yield pd.DataFrame(
                [], columns=[f.name for f in RETURNS_OUTPUT_SCHEMA.fields]
            )
            return
        ev = pd.concat(chunks, ignore_index=True)
        if state.exists:
            last_sec, last_ts, hist, psec, pprice, pts = state.get
            hist = list(hist)
            pend = {
                int(s): [float(p), int(t)]
                for s, p, t in zip(psec, pprice, pts)
            }
            ev = ev[ev["event_ts"] // 1000 > last_sec]
        else:
            last_sec, last_ts, hist, pend = _NO_FRONTIER, None, [], {}

        if len(ev):
            ev = ev.sort_values("event_ts", kind="mergesort")
            ev["sec"] = ev["event_ts"] // 1000
            per_sec = ev.groupby("sec").agg(
                price=("price", "last"), last_ts=("event_ts", "max")
            )
            for sec, o in per_sec.iterrows():
                s = int(sec)
                cur = pend.get(s)
                if cur is None:
                    pend[s] = [float(o["price"]), int(o["last_ts"])]
                elif int(o["last_ts"]) >= cur[1]:
                    cur[0], cur[1] = float(o["price"]), int(o["last_ts"])

        out = None
        if pend:
            end_emit = max(pend) - late_s
            start = min(pend) if last_sec == _NO_FRONTIER else last_sec + 1
            n_out = end_emit - start + 1
            if n_out > 0:
                # vectorized emission (the make_grid_resampler rewrite):
                # LOCF price/ts via scatter + maximum.accumulate, horizon
                # returns via shifted views of hist ++ emitted prices
                obs_items = sorted(
                    (s, v) for s, v in pend.items() if s <= end_emit
                )
                for s, _ in obs_items:
                    del pend[s]
                obs_sec = np.array([s for s, _ in obs_items], dtype=np.int64)
                obs_price = np.array([v[0] for _, v in obs_items])
                obs_ts = np.array(
                    [v[1] for _, v in obs_items], dtype=np.int64
                )
                secs = np.arange(start, end_emit + 1, dtype=np.int64)
                pos = obs_sec - start
                fill = np.full(n_out, -1, dtype=np.int64)
                fill[pos] = np.arange(len(obs_sec))
                fill = np.maximum.accumulate(fill)
                seen = fill >= 0
                carry_p = hist[-1] if hist else np.nan
                carry_t = int(last_ts) if last_ts is not None else 0
                if len(obs_sec):
                    prices = np.where(
                        seen, obs_price[np.maximum(fill, 0)], carry_p
                    )
                    ts_fill = np.where(
                        seen, obs_ts[np.maximum(fill, 0)], carry_t
                    )
                else:
                    prices = np.full(n_out, carry_p)
                    ts_fill = np.full(n_out, carry_t, dtype=np.int64)
                full = np.concatenate([np.asarray(hist, dtype=float), prices])
                len0 = len(hist)
                data = {
                    "symbol": symbol,
                    "feature_ts": secs,
                    "price": prices,
                }
                idx0 = len0 + np.arange(n_out)
                for h in RET_HORIZONS_S:
                    prev_idx = idx0 - h
                    valid = prev_idx >= 0
                    ret = np.full(n_out, np.nan)
                    ret[valid] = np.log(
                        prices[valid] / full[prev_idx[valid]]
                    )
                    col = pd.Series(ret).astype(object)
                    col[~valid] = None
                    data[f"ret_{h}s"] = col
                ages = (secs + 1) * 1000 - 1 - ts_fill
                data["gap_indicator"] = ages > gap_ms
                out = pd.DataFrame(data)
                last_sec = end_emit
                # .tolist() yields Python floats — numpy scalars break the
                # state pickler (net.razorvine ClassDict)
                hist = full[-(max_h + 1):].tolist()
                if len(obs_sec):
                    last_ts = int(obs_ts[-1])
            items = sorted(pend.items())
            state.update((
                int(last_sec),
                int(last_ts) if last_ts is not None else 0,
                hist,
                [s for s, _ in items],
                [p[0] for _, p in items],
                [p[1] for _, p in items],
            ))
        yield (
            out
            if out is not None
            else pd.DataFrame(
                [], columns=[f.name for f in RETURNS_OUTPUT_SCHEMA.fields]
            )
        )

    return fn


def stream_grid_returns(
    trades: DataFrame,
    gap_threshold_s: int = 60,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Per-second streaming returns over the LOCF grid (live twin of
    operators/grid.grid_returns for horizons {1,5,10} s).  See
    :func:`stream_locf_grid` for the ``allowed_lateness_s`` semantics."""
    return trades.groupBy("symbol").applyInPandasWithState(
        make_returns_resampler(gap_threshold_s, allowed_lateness_s),
        outputStructType=RETURNS_OUTPUT_SCHEMA,
        stateStructType=RETURNS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
