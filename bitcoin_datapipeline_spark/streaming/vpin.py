"""Streaming VPIN — the live form of operators/aggregates.vpin.

VPIN is an early-warning metric: its whole point is to be watched LIVE
(flow toxicity spikes precede liquidity events), so the volume-clock
bucketing must run incrementally.  Per-symbol state is exact and bounded:

- the cumulative volume, in INTEGER 1e-4 units (the qty grid) — float
  accumulation would drift from the batch twin's DECIMAL cumsum; integer
  units make every bucket assignment and imbalance bit-reproducible
  (the batch twin derives its bucket ids on the same integer clock);
- the currently-open bucket's partial counts (id, trades, buy/sell units);
- a ring of the last ``window − 1`` CLOSED buckets' (imbalance, volume)
  units backing the trailing estimate;
- a pending buffer of trades still inside the ``allowed_lateness_s``
  disorder window (bounded by lateness horizon × feed rate, the same
  contract as streaming/grid.py).

Disorder tolerance (``allowed_lateness_s``): a real SBE feed reorders at
ms scale (the module's own premise).  Folding into the volume clock is
held back ``allowed_lateness_s`` seconds behind the newest observed
event_ts — trades inside that window wait in the pending buffer and fold
in (event_ts, trade_id) order once the horizon passes them, so any trade
no more than ``allowed_lateness_s`` out of order lands in its correct
volume-clock position and the output matches the batch twin exactly.
Trades behind the FOLDED frontier are the hard-watermark case: they are
dropped AND counted — every emitted row carries the symbol's cumulative
``late_dropped`` so batch/stream divergence is observable, never silent.
``allowed_lateness_s=0`` (default) folds through the newest event — the
strictest policy; an in-order feed then behaves exactly as before with
``late_dropped`` pinned at 0.

A bucket row is emitted the moment a trade STARTS a later bucket (the
volume clock passed it) — append-mode semantics: emitted rows are final.
The ``vpin`` column is rounded to 6 dp with the same HALF_UP rule as the
batch twin's ``operators.r6`` (Spark rounds doubles via
``BigDecimal.valueOf`` — shortest round-trip repr — then HALF_UP, which
``Decimal(repr(x)).quantize`` reproduces bit-for-bit), so a live row
EQUALS its batch row, not merely approximates it.
The batch twin additionally reports each symbol's still-open last bucket;
the equivalence test compares against batch minus that partial tail.

Events are processed in (event_ts, trade_id) order within each
micro-batch, chunks accumulated before sorting (the same Arrow-boundary
hazard as streaming/grid.py).

cf. reference: the aggregator's live imbalance feature
(feature_builder.py:160-161) on the wall clock; this is its
volume-clock upgrade with bounded state, same Redis-hash-sized bound.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.aggregates import VPIN_BUCKET_VOLUME, VPIN_WINDOW
from .disorder import apply_fold, fold_processor

# qty grid: 1e-4 (FIXTURES.md).  Integer units assume qty sits on a <=4dp
# grid — there float->int rounding has no ties, so it agrees with the
# batch twin's CAST(qty AS DECIMAL(20,4)) exactly; an off-grid feed would
# need UNITS raised to its grid.
UNITS = 10_000

_Q6 = Decimal("0.000001")


def _round6(x: float) -> float:
    """Spark-identical round(x, 6) for doubles: BigDecimal.valueOf uses
    the shortest round-trip decimal repr (== Python repr), then HALF_UP."""
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


VPIN_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("n_trades", T.LongType()),
        T.StructField("bucket_volume", T.DoubleType()),
        T.StructField("imbalance", T.DoubleType()),
        T.StructField("n_in_window", T.LongType()),
        T.StructField("vpin", T.DoubleType()),
        # cumulative count of hard-late trades (behind the folded
        # frontier) dropped for this symbol — divergence made observable
        T.StructField("late_dropped", T.LongType()),
    ]
)

VPIN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("cum_units", T.LongType()),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_n", T.LongType()),
        T.StructField("cur_buy", T.LongType()),
        T.StructField("cur_sell", T.LongType()),
        T.StructField("ring_imb", T.ArrayType(T.LongType())),
        T.StructField("ring_vol", T.ArrayType(T.LongType())),
        # folded frontier (max folded sort key) + hard-late drop count
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        # pending buffer: trades inside the lateness window, not yet
        # folded into the volume clock
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_units", T.ArrayType(T.LongType())),
        T.StructField("pend_maker", T.ArrayType(T.BooleanType())),
    ]
)


def make_vpin_processor(
    bucket_volume: int = VPIN_BUCKET_VOLUME,
    window: int = VPIN_WINDOW,
    allowed_lateness_s: int = 0,
):
    v_units = bucket_volume * UNITS

    def event_tuples(ev):
        return (
            (int(ts), int(tid), int(round(float(qty) * UNITS)), bool(maker))
            for ts, tid, qty, maker in zip(
                ev["event_ts"], ev["trade_id"], ev["qty"],
                ev["is_buyer_maker"],
            )
        )

    def fold(events, body):
        cum, cur_b, cur_n, buy, sell, ring_imb, ring_vol = body
        ring_imb, ring_vol = list(ring_imb), list(ring_vol)
        rows = []

        def close_bucket():
            nonlocal cur_n, buy, sell
            imb = abs(buy - sell)
            vol = buy + sell
            w_imb = sum(ring_imb) + imb
            w_vol = sum(ring_vol) + vol
            rows.append((
                cur_b,
                cur_n,
                vol / UNITS,
                imb / UNITS,
                len(ring_imb) + 1,
                _round6((w_imb / UNITS) / (w_vol / UNITS)),
            ))
            ring_imb.append(imb)
            ring_vol.append(vol)
            del ring_imb[: max(0, len(ring_imb) - (window - 1))]
            del ring_vol[: max(0, len(ring_vol) - (window - 1))]
            cur_n, buy, sell = 0, 0, 0

        for ts, tid, units, maker in events:
            b = cum // v_units
            if cur_b is None:
                cur_b = b
            elif b != cur_b:
                close_bucket()
                cur_b = b
            cur_n += 1
            if maker:
                sell += units
            else:
                buy += units
            cum += units
        return rows, (cum, cur_b, cur_n, buy, sell, ring_imb, ring_vol)

    return fold_processor(
        VPIN_STATE_SCHEMA, VPIN_OUTPUT_SCHEMA,
        ["event_ts", "trade_id", "qty", "is_buyer_maker"], event_tuples,
        (0, None, 0, 0, 0, (), ()), fold, allowed_lateness_s * 1000,
    )


def stream_vpin(
    trades: DataFrame,
    bucket_volume: int = VPIN_BUCKET_VOLUME,
    window: int = VPIN_WINDOW,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Incremental volume-clock VPIN (see module docstring).  Emits one
    final row per COMPLETED bucket, ``vpin`` rounded exactly like the
    batch twin; batch-equivalence (minus each symbol's open tail bucket)
    pinned in tests/test_streaming.py and tests/test_properties.py."""
    return apply_fold(
        trades, make_vpin_processor(bucket_volume, window, allowed_lateness_s)
    )
