"""Streaming Kyle's lambda and Roll spread — live twins of the batch
microstructure estimators (operators/aggregates.kyle_lambda /
roll_spread), completing the live trio alongside streaming/vpin.py.

Both are running-moment estimators, so the streaming form is exact with
O(1) per-symbol state:

- **Kyle** folds trades onto the minute bucket clock (KYLE_BUCKET_MS,
  same grain as batch); state is the open bucket's partials (signed
  volume, open/close price) plus the closed-bucket moment sums
  (n, Σx, Σy, Σxy, Σx²).  Each bucket close emits the regression
  re-solved over all closed buckets so far — the live price-impact
  gauge a desk actually watches.
- **Roll** keeps (last price, previous Δp) and the pair moment sums;
  each micro-batch that folds at least one new Δp pair emits the updated
  serial covariance and implied spread ("update"-style cadence — one row
  per symbol per batch, not per trade).

Exactness discipline (the vpin.py contract): prices and quantities live
on the 1e-4 grid, so ALL moment sums accumulate in INTEGER units
(Python ints — arbitrary precision, no overflow) and convert to doubles
once via ``Fraction`` (correctly rounded, bit-identical to the batch
DECIMAL→double cast); the final scalar arithmetic is the same float
expression as the batch estimator, rounded with the Spark-identical
HALF_UP 6-dp rule — so a live row EQUALS its batch row, including the
NULL guards (den=0 → NULL lambda; cov≥0 → NULL spread).

Disorder follows streaming/disorder.merge_fold: ``allowed_lateness_s``
buffers bounded disorder so the fold order matches the batch sort;
hard-late trades behind the folded frontier are dropped AND counted
(``late_dropped`` on every emitted row).

Structure note (deliberate): every processor here runs on the fold
skeleton in streaming/disorder.py (``fold_processor`` / ``apply_fold``),
which owns the scaffold they share: chunk concat, the pending pool,
frontier and late count around merge_fold, the state write-back, and
the output frame.  The bar-clock processors also share its
``walk_buckets``.  A processor declares only its input columns and
event tuple, its body-state defaults, its fold over the sorted events,
and its schemas, so each one's state tuple, close logic and emission
convention stay readable in one place and are property-tested against
its batch twin.  Each ``*_STATE_SCHEMA`` stays a literal next to its
processor because it is that processor's checkpoint format: the
skeleton finds the frontier, ``n_late`` and ``pend_*`` fields by name
and never builds or reorders a schema, so a change to one processor's
state can never ripple into another's checkpoints.

cf. reference: extends the surface (the reference's aggregator computes
live imbalance, `feature_builder.py:119-123,160-161`; impact/spread
estimation has no counterpart there — these are the live forms of the
engine's own batch extensions).
"""

from __future__ import annotations

from collections import deque
from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.aggregates import KYLE_BUCKET_MS
from .disorder import apply_fold, fold_processor, walk_buckets
from .vpin import UNITS, _round6

# most processors fold trades as (event_ts, trade_id, price units[, qty
# units]) on the 1e-4 grid (UNITS — the vpin.py contract)
_PRICE_COLS = ["event_ts", "trade_id", "price"]
_QTY_COLS = ["event_ts", "trade_id", "price", "qty"]


def _price_events(ev):
    return (
        (int(ts), int(tid), int(round(float(p) * UNITS)))
        for ts, tid, p in zip(ev["event_ts"], ev["trade_id"], ev["price"])
    )


def _qty_events(ev):
    return (
        (int(ts), int(tid), int(round(float(p) * UNITS)),
         int(round(float(q) * UNITS)))
        for ts, tid, p, q in zip(
            ev["event_ts"], ev["trade_id"], ev["price"], ev["qty"]
        )
    )


# walk_buckets partials of the open bar, from a run of trade tuples
def _last_price(bar, run):
    return run[-1][2]


def _hlc(bar, run):
    hi = max(e[2] for e in run)
    lo = min(e[2] for e in run)
    if bar is not None:
        hi, lo = max(bar[0], hi), min(bar[1], lo)
    return hi, lo, run[-1][2]


def _close_vol(bar, run):
    vol = sum(e[3] for e in run)
    return run[-1][2], vol if bar is None else bar[1] + vol


KYLE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("n_buckets", T.LongType()),
        T.StructField("kyle_lambda", T.DoubleType()),
        T.StructField("impact_intercept", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

KYLE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("pend_qty", T.ArrayType(T.LongType())),
        T.StructField("pend_maker", T.ArrayType(T.BooleanType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_sv", T.LongType()),
        T.StructField("cur_open", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        T.StructField("n_closed", T.LongType()),
        T.StructField("sx_u", T.LongType()),
        T.StructField("sy_u", T.LongType()),
        T.StructField("sxy_u", T.LongType()),
        T.StructField("sxx_u", T.LongType()),
    ]
)


def _kyle_solve(n: int, sx_u: int, sy_u: int, sxy_u: int, sxx_u: int):
    """Moments (integer 1e-4 / 1e-8 units) → the batch twin's doubles."""
    sx = float(Fraction(sx_u, 10**4))
    sy = float(Fraction(sy_u, 10**4))
    sxy = float(Fraction(sxy_u, 10**8))
    sxx = float(Fraction(sxx_u, 10**8))
    den = n * sxx - sx * sx
    if den == 0:
        return None, None
    slope = (n * sxy - sx * sy) / den
    return _round6(slope), _round6((sy - slope * sx) / n)


def make_kyle_processor(
    bucket_ms: int = KYLE_BUCKET_MS, allowed_lateness_s: int = 0
):
    def event_tuples(ev):
        return (
            (int(ts), int(tid), int(round(float(p) * UNITS)),
             int(round(float(q) * UNITS)), bool(mk))
            for ts, tid, p, q, mk in zip(
                ev["event_ts"], ev["trade_id"], ev["price"], ev["qty"],
                ev["is_buyer_maker"],
            )
        )

    def absorb(bar, run):
        # open bucket: (signed volume, open, close)
        sv, p_open = (0, run[0][2]) if bar is None else bar[:2]
        sv += sum(-q_u if maker else q_u for _, _, _, q_u, maker in run)
        return sv, p_open, run[-1][2]

    def fold(events, body):
        (cur_b, cur_sv, cur_open, cur_close,
         n_closed, sx_u, sy_u, sxy_u, sxx_u) = body
        rows = []

        def close_bucket(b, bar):
            nonlocal n_closed, sx_u, sy_u, sxy_u, sxx_u
            sv, p_open, p_close = bar
            dp = p_close - p_open  # 1e-4 units (open→close move)
            n_closed += 1
            sx_u += sv
            sy_u += dp
            sxy_u += sv * dp
            sxx_u += sv * sv
            lam, icpt = _kyle_solve(n_closed, sx_u, sy_u, sxy_u, sxx_u)
            rows.append((b, n_closed, lam, icpt))

        cur_b, (cur_sv, cur_open, cur_close) = walk_buckets(
            events, bucket_ms, cur_b, (cur_sv, cur_open, cur_close),
            absorb, close_bucket,
        )
        return rows, (cur_b, cur_sv, cur_open, cur_close,
                      n_closed, sx_u, sy_u, sxy_u, sxx_u)

    return fold_processor(
        KYLE_STATE_SCHEMA, KYLE_OUTPUT_SCHEMA,
        ["event_ts", "trade_id", "price", "qty", "is_buyer_maker"], event_tuples,
        (None, 0, None, None, 0, 0, 0, 0, 0), fold, allowed_lateness_s * 1000,
    )


def stream_kyle_lambda(
    trades: DataFrame,
    bucket_ms: int = KYLE_BUCKET_MS,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live price impact: one append-final row per CLOSED minute bucket
    carrying the regression over all closed buckets so far; the row for
    the last closed bucket equals the batch `kyle_lambda` over the tape
    restricted to closed buckets (property-tested)."""
    return apply_fold(
        trades, make_kyle_processor(bucket_ms, allowed_lateness_s)
    )


ROLL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("n_pairs", T.LongType()),
        T.StructField("serial_cov", T.DoubleType()),
        T.StructField("roll_spread", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

ROLL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("last_price", T.LongType()),
        T.StructField("prev_dp", T.LongType()),
        T.StructField("n_pairs", T.LongType()),
        T.StructField("sx_u", T.LongType()),
        T.StructField("sy_u", T.LongType()),
        T.StructField("sxy_u", T.LongType()),
    ]
)


def _roll_solve(n: int, sx_u: int, sy_u: int, sxy_u: int):
    import math

    sx = float(Fraction(sx_u, 10**4))
    sy = float(Fraction(sy_u, 10**4))
    sxy = float(Fraction(sxy_u, 10**8))
    cov = (sxy - sx * sy / n) / n
    spread = _round6(2.0 * math.sqrt(-cov)) if cov < 0 else None
    return _round6(cov), spread


def make_roll_processor(allowed_lateness_s: int = 0):
    def fold(events, body):
        last_p, prev_dp, n_pairs, sx_u, sy_u, sxy_u = body
        new_pairs = False
        for _ts, _tid, p_u in events:
            if last_p is not None:
                dp = p_u - last_p
                if prev_dp is not None:
                    n_pairs += 1
                    sx_u += dp
                    sy_u += prev_dp
                    sxy_u += dp * prev_dp
                    new_pairs = True
                prev_dp = dp
            last_p = p_u

        rows = []
        if new_pairs:
            cov, spread = _roll_solve(n_pairs, sx_u, sy_u, sxy_u)
            rows.append((n_pairs, cov, spread))
        return rows, (last_p, prev_dp, n_pairs, sx_u, sy_u, sxy_u)

    return fold_processor(
        ROLL_STATE_SCHEMA, ROLL_OUTPUT_SCHEMA, _PRICE_COLS, _price_events,
        (None, None, 0, 0, 0, 0), fold, allowed_lateness_s * 1000,
    )


def stream_roll_spread(
    trades: DataFrame, allowed_lateness_s: int = 0
) -> DataFrame:
    """Live Roll implied spread: one row per symbol per micro-batch that
    folded at least one new Δp pair ("update" cadence); the latest row
    equals the batch `roll_spread` over the folded tape exactly
    (property-tested)."""
    return apply_fold(trades, make_roll_processor(allowed_lateness_s))


# --- streaming OFI (quote-side twin; operators/aggregates.order_flow_imbalance)

# queue sizes live on a 1e-5 grid (the FIXTURES 1e-4 qty grid times the
# 0.1-grid ask-size multiplier); 1e6 integer units hold them exactly and
# match the batch DECIMAL(18,6) cast bit-for-bit after Fraction->double
SZ_UNITS = 10**6

OFI_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("n_updates", T.LongType()),
        T.StructField("ofi", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

OFI_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_ingest", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_ingest", T.ArrayType(T.LongType())),
        T.StructField("pend_bpx", T.ArrayType(T.DoubleType())),
        T.StructField("pend_apx", T.ArrayType(T.DoubleType())),
        T.StructField("pend_qb", T.ArrayType(T.LongType())),
        T.StructField("pend_qa", T.ArrayType(T.LongType())),
        T.StructField("prev_bpx", T.DoubleType()),
        T.StructField("prev_apx", T.DoubleType()),
        T.StructField("prev_qb", T.LongType()),
        T.StructField("prev_qa", T.LongType()),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_n", T.LongType()),
        T.StructField("cur_ofi_u", T.LongType()),
    ]
)


def make_ofi_processor(bucket_ms: int | None = None, allowed_lateness_s: int = 0):
    """Streaming OFI — live twin of
    :func:`~..operators.aggregates.order_flow_imbalance`: folds BBA
    updates per symbol, accumulates each minute bucket's increment sum
    in exact integer units, and emits one append-final row per CLOSED
    bucket equal to the batch row (property-tested).

    Fold-order discipline: the pending pool sorts on the FULL batch key
    (event_ts, ingest_ts, bid_px, ask_px, qb, qa) — the same tuple
    ordering the batch window uses — while the hard-late frontier keys
    on (event_ts, ingest_ts), so bounded disorder reproduces the batch
    sequence exactly wherever that prefix key is unique (true of the
    fixture feed; a full-key tie is two identical updates, which fold
    identically in either order)."""
    from ..operators.aggregates import OFI_BUCKET_MS

    bucket_ms = OFI_BUCKET_MS if bucket_ms is None else bucket_ms

    def event_tuples(ev):
        return (
            (int(ts), int(ing), float(bp), float(ap),
             int(round(float(qb) * SZ_UNITS)),
             int(round(float(qa) * SZ_UNITS)))
            for ts, ing, bp, ap, qb, qa in zip(
                ev["event_ts"], ev["ingest_ts"], ev["bid_px"],
                ev["ask_px"], ev["bid_sz"], ev["ask_sz"],
            )
        )

    def fold(events, body):
        prev_bpx, prev_apx, prev_qb, prev_qa, cur_b, cur_n, cur_u = body
        rows = []
        for ts, _ing, bpx, apx, qb_u, qa_u in events:
            if prev_bpx is not None:
                b = ts // bucket_ms
                if cur_b is None:
                    cur_b = b
                elif b != cur_b:
                    rows.append((
                        cur_b, cur_n,
                        _round6(float(Fraction(cur_u, SZ_UNITS))),
                    ))
                    cur_b, cur_n, cur_u = b, 0, 0
                e_u = (
                    (qb_u if bpx >= prev_bpx else 0)
                    - (prev_qb if bpx <= prev_bpx else 0)
                    - (qa_u if apx <= prev_apx else 0)
                    + (prev_qa if apx >= prev_apx else 0)
                )
                cur_n += 1
                cur_u += e_u
            prev_bpx, prev_apx, prev_qb, prev_qa = bpx, apx, qb_u, qa_u
        return rows, (prev_bpx, prev_apx, prev_qb, prev_qa,
                      cur_b, cur_n, cur_u)

    return fold_processor(
        OFI_STATE_SCHEMA, OFI_OUTPUT_SCHEMA,
        ["event_ts", "ingest_ts", "bid_px", "ask_px", "bid_sz", "ask_sz"],
        event_tuples, (None, None, None, None, None, 0, 0), fold,
        allowed_lateness_s * 1000,
    )


def stream_ofi(
    bba: DataFrame,
    bucket_ms: int | None = None,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live order-flow imbalance: one append-final row per closed
    (symbol, minute) bucket, equal to the batch
    `order_flow_imbalance` row for that bucket (property-tested)."""
    return apply_fold(bba, make_ofi_processor(bucket_ms, allowed_lateness_s))


# --- streaming effective spread (operators/aggregates.effective_spread twin)

# is_q-major / ingest-minor tiebreak packed into one long so the disorder
# frontier keys on the batch sort prefix (sort_ts, is_q, ingest_ts):
# ingest_ts values are ms (< 2^50), so is_q*(1<<50)+ingest is collision-free
_ISQ_SHIFT = 1 << 50

ESPREAD_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("n_trades", T.LongType()),
        T.StructField("eff_spread_bps", T.DoubleType()),
        T.StructField("quoted_spread_bps", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

ESPREAD_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_k2", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_k2", T.ArrayType(T.LongType())),
        T.StructField("pend_b", T.ArrayType(T.DoubleType())),
        T.StructField("pend_a", T.ArrayType(T.DoubleType())),
        T.StructField("pend_bs", T.ArrayType(T.DoubleType())),
        T.StructField("pend_asz", T.ArrayType(T.DoubleType())),
        T.StructField("pend_px", T.ArrayType(T.DoubleType())),
        T.StructField("pend_ets", T.ArrayType(T.LongType())),
        T.StructField("qb", T.DoubleType()),
        T.StructField("qa", T.DoubleType()),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_n", T.LongType()),
        T.StructField("sum_eff", T.DoubleType()),
        T.StructField("sum_quoted", T.DoubleType()),
    ]
)


def make_espread_processor(allowed_lateness_s: int = 0):
    """Streaming effective/quoted spread — live twin of
    :func:`~..operators.aggregates.effective_spread`: folds the MERGED
    quote+trade stream per symbol in the batch sort order
    (sort_ts, is_q, ingest_ts, quote tuple), prices each trade against
    the last folded quote, accumulates the open minute bucket's spread
    sums as doubles in that exact order (the batch partial-avg fold),
    and emits one append-final row per CLOSED bucket equal to the batch
    row (property-tested).

    Quotes become available at event_ts + 1 (the strictly-before
    discipline); trades folded before any quote are unmatched and
    silently skipped, exactly like the batch filter.  The disorder
    frontier keys on (sort_ts, is_q·2⁵⁰ + ingest_ts) — the batch sort
    prefix — so bounded disorder reproduces the batch sequence wherever
    that prefix is unique (full-prefix ties are resolved by the quote
    tuple inside the pending pool, the batch tail key)."""

    def event_tuples(ev):
        for k, ts, ing, b, a, bs, asz, px in zip(
            ev["kind"], ev["event_ts"], ev["ingest_ts"], ev["bid_px"],
            ev["ask_px"], ev["bid_sz"], ev["ask_sz"], ev["price"],
        ):
            if int(k) == 0:
                yield (int(ts) + 1, int(ing), float(b), float(a),
                       float(bs), float(asz), -1.0, -1)
            else:
                yield (int(ts), _ISQ_SHIFT + int(ing), -1.0, -1.0,
                       -1.0, -1.0, float(px), int(ts))

    def fold(events, body):
        qb, qa, cur_b, cur_n, s_eff, s_q = body
        rows = []
        for _ts, k2, b, a, _bs, _asz, px, ets in events:
            if k2 < _ISQ_SHIFT:  # quote
                qb, qa = b, a
                continue
            if qb is None:  # trade before any quote: unmatched, skipped
                continue
            bkt = ets // 60000
            if cur_b is None:
                cur_b = bkt
            elif bkt != cur_b:
                rows.append((
                    cur_b, cur_n, _round6(s_eff / cur_n), _round6(s_q / cur_n)
                ))
                cur_b, cur_n, s_eff, s_q = bkt, 0, 0.0, 0.0
            mid = (qb + qa) / 2.0
            s_eff += 2.0 * abs(px - mid) / mid * 10000.0
            s_q += (qa - qb) / mid * 10000.0
            cur_n += 1
        return rows, (qb, qa, cur_b, cur_n, s_eff, s_q)

    return fold_processor(
        ESPREAD_STATE_SCHEMA, ESPREAD_OUTPUT_SCHEMA,
        ["kind", "event_ts", "ingest_ts", "bid_px", "ask_px", "bid_sz",
         "ask_sz", "price"],
        event_tuples, (None, None, None, 0, 0.0, 0.0), fold,
        allowed_lateness_s * 1000,
    )


def stream_effective_spread(
    merged: DataFrame, allowed_lateness_s: int = 0
) -> DataFrame:
    """Live effective/quoted spread: one append-final row per closed
    (symbol, minute) bucket over a merged quote+trade stream carrying
    (symbol, kind 0=quote/1=trade, event_ts, ingest_ts, bid_px, ask_px,
    bid_sz, ask_sz, price), equal to the batch `effective_spread` row
    for that bucket (property-tested)."""
    return apply_fold(merged, make_espread_processor(allowed_lateness_s))


# --- streaming ACF twin (round 7 seventh wave) -----------------------------

ACF_MAX_LAG_STREAM = 5

ACF_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("lag", T.IntegerType()),
        T.StructField("n_pairs", T.LongType()),
        T.StructField("acf", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

ACF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        T.StructField("prev_close", T.LongType()),
        # last ACF_MAX_LAG_STREAM Δcloses, newest last (1e-4 units)
        T.StructField("dp_ring", T.ArrayType(T.LongType())),
        # per-lag moment sums, index k-1: n, Σx, Σy, Σxy, Σx², Σy²
        T.StructField("m_n", T.ArrayType(T.LongType())),
        T.StructField("m_sx", T.ArrayType(T.LongType())),
        T.StructField("m_sy", T.ArrayType(T.LongType())),
        T.StructField("m_sxy", T.ArrayType(T.LongType())),
        T.StructField("m_sxx", T.ArrayType(T.LongType())),
        T.StructField("m_syy", T.ArrayType(T.LongType())),
    ]
)


def _acf_solve(n, sx_u, sy_u, sxy_u, sxx_u, syy_u):
    """Integer 1e-4 / 1e-8-unit moments → the batch twin's doubles."""
    sx = float(Fraction(sx_u, 10**4))
    sy = float(Fraction(sy_u, 10**4))
    sxy = float(Fraction(sxy_u, 10**8))
    sxx = float(Fraction(sxx_u, 10**8))
    syy = float(Fraction(syy_u, 10**8))
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    if varx <= 0 or vary <= 0:
        return None
    return _round6((n * sxy - sx * sy) / (varx * vary) ** 0.5)


def make_acf_processor(
    bucket_ms: int = 60_000,
    max_lag: int = ACF_MAX_LAG_STREAM,
    allowed_lateness_s: int = 0,
):
    """Live autocorrelation of bar close-to-close price changes — the
    streaming twin of operators/aggregates.acf_price_changes.

    State per symbol is O(max_lag): the open bucket's running close, the
    previous closed close, a Δclose ring buffer of the last max_lag
    values, and per-lag integer moment sums.  Prices fold on the 1e-4
    grid (UNITS — the vpin.py contract); every closed bucket appends its
    Δclose pairs to each lag's moments and emits the re-solved ACF rows,
    so the rows for the last closed bucket EQUAL the batch operator over
    bars restricted to closed buckets (property-tested across random
    tapes and micro-batch boundaries, including the NULL variance
    guards)."""

    def fold(events, body):
        cur_b, cur_close, prev_close, ring, *moments = body
        ring = list(ring)
        m_n, m_sx, m_sy, m_sxy, m_sxx, m_syy = (list(m) for m in moments)
        rows = []

        def close_bucket(b, close):
            nonlocal prev_close, ring
            if prev_close is not None:
                dp = close - prev_close
                for k in range(1, max_lag + 1):
                    if len(ring) >= k:
                        y = ring[-k]
                        i = k - 1
                        m_n[i] += 1
                        m_sx[i] += dp
                        m_sy[i] += y
                        m_sxy[i] += dp * y
                        m_sxx[i] += dp * dp
                        m_syy[i] += y * y
                ring.append(dp)
                if len(ring) > max_lag:
                    ring = ring[-max_lag:]
                for k in range(1, max_lag + 1):
                    i = k - 1
                    if m_n[i] > 0:
                        rows.append((
                            b, k, m_n[i],
                            _acf_solve(m_n[i], m_sx[i], m_sy[i],
                                       m_sxy[i], m_sxx[i], m_syy[i]),
                        ))
            prev_close = close

        cur_b, cur_close = walk_buckets(
            events, bucket_ms, cur_b, cur_close, _last_price, close_bucket
        )
        return rows, (cur_b, cur_close, prev_close, ring,
                      m_n, m_sx, m_sy, m_sxy, m_sxx, m_syy)

    return fold_processor(
        ACF_STATE_SCHEMA, ACF_OUTPUT_SCHEMA, _PRICE_COLS, _price_events,
        (None, None, None, ()) + ((0,) * max_lag,) * 6, fold,
        allowed_lateness_s * 1000,
    )


def stream_acf(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    max_lag: int = ACF_MAX_LAG_STREAM,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live serial-dependence profile: per closed minute bucket, one row
    per lag with the ACF re-solved over all closed buckets so far."""
    return apply_fold(
        trades, make_acf_processor(bucket_ms, max_lag, allowed_lateness_s)
    )


# --- streaming variance-ratio twin (round 7 seventh wave) ------------------

VR_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("n_short", T.LongType()),
        T.StructField("n_long", T.LongType()),
        T.StructField("var_1", T.DoubleType()),
        T.StructField("var_q", T.DoubleType()),
        T.StructField("variance_ratio", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

VR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        T.StructField("prev_close", T.LongType()),
        # last q-1 Δcloses (1e-4 units), newest last — the open q-sum tail
        T.StructField("dp_ring", T.ArrayType(T.LongType())),
        T.StructField("n_short", T.LongType()),
        T.StructField("sx_u", T.LongType()),
        T.StructField("sxx_u", T.LongType()),
        T.StructField("n_long", T.LongType()),
        T.StructField("sq_u", T.LongType()),
        T.StructField("sqq_u", T.LongType()),
    ]
)


def _vr_solve(n1, sx_u, sxx_u, nq, sq_u, sqq_u, q=None):
    sx = float(Fraction(sx_u, 10**4))
    sxx = float(Fraction(sxx_u, 10**8))
    if n1 > 0:
        var1 = (n1 * sxx - sx * sx) / (n1 * n1)
    else:
        var1 = None
    if nq > 0:
        sq = float(Fraction(sq_u, 10**4))
        sqq = float(Fraction(sqq_u, 10**8))
        varq = (nq * sqq - sq * sq) / (nq * nq)
    else:
        varq = None
    if not (n1 > 0 and nq > 0 and var1 > 0):
        return None, None, None
    if q is None:
        from bitcoin_datapipeline_spark.operators.aggregates import VR_HORIZON

        q = VR_HORIZON
    return (
        _round6(var1),
        _round6(varq),
        _round6(varq / (q * var1)),
    )


def make_vr_processor(
    bucket_ms: int = 60_000,
    q: int | None = None,
    allowed_lateness_s: int = 0,
):
    """Live Lo-MacKinlay variance ratio — the streaming twin of
    operators/aggregates.variance_ratio.  O(q) per-symbol state: the
    open bucket's running close, a Δclose tail of the last q−1 values
    (the open overlapping q-sum), and the integer moment sums for both
    margins.  Each closed bucket appends its Δclose, folds the
    completed q-sum when the tail is full, and emits the re-solved
    ratio — rows per closed bucket EQUAL the batch operator over bars
    restricted to closed buckets (property-tested)."""
    from bitcoin_datapipeline_spark.operators.aggregates import VR_HORIZON

    if q is None:
        q = VR_HORIZON

    def fold(events, body):
        (cur_b, cur_close, prev_close, ring,
         n1, sx_u, sxx_u, nq, sq_u, sqq_u) = body
        ring = list(ring)
        rows = []

        def close_bucket(b, close):
            nonlocal prev_close, ring, n1, sx_u, sxx_u, nq, sq_u, sqq_u
            if prev_close is not None:
                dp = close - prev_close
                n1 += 1
                sx_u += dp
                sxx_u += dp * dp
                ring.append(dp)
                if len(ring) == q:
                    qs = sum(ring)
                    nq += 1
                    sq_u += qs
                    sqq_u += qs * qs
                    ring = ring[1:]
                v1, vq, vr = _vr_solve(n1, sx_u, sxx_u, nq, sq_u, sqq_u, q)
                rows.append((b, n1, nq, v1, vq, vr))
            prev_close = close

        cur_b, cur_close = walk_buckets(
            events, bucket_ms, cur_b, cur_close, _last_price, close_bucket
        )
        return rows, (cur_b, cur_close, prev_close, ring,
                      n1, sx_u, sxx_u, nq, sq_u, sqq_u)

    return fold_processor(
        VR_STATE_SCHEMA, VR_OUTPUT_SCHEMA, _PRICE_COLS, _price_events,
        (None, None, None, (), 0, 0, 0, 0, 0, 0), fold,
        allowed_lateness_s * 1000,
    )


def stream_variance_ratio(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live variance ratio: one append-final row per closed minute
    bucket with VR(q) re-solved over all closed buckets so far."""
    return apply_fold(
        trades, make_vr_processor(bucket_ms, None, allowed_lateness_s)
    )


# --- streaming TWA-spread twin (round 8) ------------------------------------

TWA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("n_intervals", T.LongType()),
        T.StructField("quoted_ms", T.LongType()),
        T.StructField("twa_spread_bps", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

TWA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_ing", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_ing", T.ArrayType(T.LongType())),
        T.StructField("pend_bid", T.ArrayType(T.DoubleType())),
        T.StructField("pend_ask", T.ArrayType(T.DoubleType())),
        T.StructField("pend_bs", T.ArrayType(T.DoubleType())),
        T.StructField("pend_as", T.ArrayType(T.DoubleType())),
        # last folded quote: its start ts and its (double) spread in bps
        T.StructField("lq_ts", T.LongType()),
        T.StructField("lq_spread", T.DoubleType()),
        # the one still-open minute bucket's partial sums
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_n", T.LongType()),
        T.StructField("cur_w", T.LongType()),
        T.StructField("cur_sw", T.DoubleType()),
    ]
)


def make_twa_processor(allowed_lateness_s: int = 0):
    """Streaming time-weighted quoted spread — live twin of
    :func:`~..operators.aggregates.twa_spread` (the TAQ lifetime-weighted
    convention): each quote's spread is weighted by how long it stood,
    pro-rated across the minute buckets it spans.

    The interval a quote opens is CLOSED by the next quote, and quote
    coverage is contiguous per symbol, so at most ONE minute bucket is
    ever open: folding a quote at ``ts`` closes the previous quote's
    interval, credits each spanned bucket with its exact integer-ms
    overlap, and finalizes every bucket strictly below ``ts div 60000``
    — one append-final row per closed bucket, equal to the batch row
    (property-tested).  O(1) state per symbol: the last quote's (ts,
    spread) and the open bucket's (n, Σms, Σspread·ms).

    Exactness: weights are exact integer milliseconds; the spread and
    the weighted sum accumulate as doubles in the SAME deterministic
    quote order as the batch window sort (event_ts, ingest_ts, bid_px,
    ask_px, bid_sz, ask_sz — the full merge_fold pool key), so
    duplicate-instant quotes reproduce the batch zero-lifetime tie rule:
    the instant's lexicographically-last quote carries the time.

    cf. reference: extends the surface (live form of the engine's own
    batch TWA extension; the reference's BBA features are
    arrival-weighted, `feature_builder.py:220-225`)."""

    def event_tuples(ev):
        return (
            (int(ts), int(ing), float(b), float(a), float(bs), float(asz))
            for ts, ing, b, a, bs, asz in zip(
                ev["event_ts"], ev["ingest_ts"], ev["bid_px"],
                ev["ask_px"], ev["bid_sz"], ev["ask_sz"],
            )
        )

    def fold(events, body):
        lq_ts, lq_spread, cur_b, cur_n, cur_w, cur_sw = body
        rows = []
        for ts, _ing, b, a, _bs, _asz in events:
            if lq_ts is not None and ts > lq_ts:
                # close interval [lq_ts, ts) at the standing spread
                for bkt in range(lq_ts // 60000, (ts - 1) // 60000 + 1):
                    if cur_b is None:
                        cur_b = bkt
                    elif bkt != cur_b:
                        rows.append((cur_b, cur_n, cur_w,
                                     _round6(cur_sw / cur_w)))
                        cur_b, cur_n, cur_w, cur_sw = bkt, 0, 0, 0.0
                    ov = (min(ts, (bkt + 1) * 60000)
                          - max(lq_ts, bkt * 60000))
                    cur_n += 1
                    cur_w += ov
                    cur_sw += lq_spread * ov
                # buckets strictly below the new quote's bucket are final
                if cur_b is not None and cur_b < ts // 60000:
                    rows.append((cur_b, cur_n, cur_w,
                                 _round6(cur_sw / cur_w)))
                    cur_b, cur_n, cur_w, cur_sw = None, 0, 0, 0.0
            # duplicate-instant quotes: zero lifetime, the later quote in
            # fold order (the batch lexicographic-max tie rule) replaces
            lq_ts = ts
            lq_spread = (a - b) / ((b + a) / 2.0) * 10000.0
        return rows, (lq_ts, lq_spread, cur_b, cur_n, cur_w, cur_sw)

    return fold_processor(
        TWA_STATE_SCHEMA, TWA_OUTPUT_SCHEMA,
        ["event_ts", "ingest_ts", "bid_px", "ask_px", "bid_sz", "ask_sz"],
        event_tuples, (None, 0.0, None, 0, 0, 0.0), fold, allowed_lateness_s * 1000,
    )


def stream_twa_spread(
    quotes: DataFrame, allowed_lateness_s: int = 0
) -> DataFrame:
    """Live time-weighted quoted spread: one append-final row per closed
    (symbol, minute) bucket over a quote stream carrying (symbol,
    event_ts, ingest_ts, bid_px, ask_px, bid_sz, ask_sz), equal to the
    batch `twa_spread` row for that bucket (property-tested)."""
    return apply_fold(quotes, make_twa_processor(allowed_lateness_s))


# --- streaming RSI twin (round 8) -------------------------------------------

RSI_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("rsi", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

RSI_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        T.StructField("prev_close", T.LongType()),
        # last `period` Δcloses, newest last (1e-4 units)
        T.StructField("dc_ring", T.ArrayType(T.LongType())),
    ]
)


def make_rsi_processor(
    bucket_ms: int = 60_000,
    period: int | None = None,
    allowed_lateness_s: int = 0,
):
    """Live RSI — the streaming twin of operators/windows.rsi (Cutler
    SMA form, one division).  O(period) per-symbol state: the open
    bucket's running close and a ring of the last ``period`` bar
    Δcloses.  Each closed bucket appends its Δclose and, once the ring
    is full, emits 100·Σgains/(Σgains+Σlosses) over exact integer
    1e-4-grid sums — rows per closed bucket EQUAL the batch operator
    over bars restricted to closed buckets (property-tested; the batch
    warm-up gate maps to the ring-full condition, and a both-zero
    window emits NULL in both forms)."""
    from bitcoin_datapipeline_spark.operators.windows import RSI_PERIOD

    if period is None:
        period = RSI_PERIOD

    def fold(events, body):
        cur_b, cur_close, prev_close, ring = body
        ring = list(ring)
        rows = []

        def close_bucket(b, close):
            nonlocal prev_close, ring
            if prev_close is not None:
                ring.append(close - prev_close)
                if len(ring) > period:
                    ring = ring[1:]
                if len(ring) == period:
                    # exact integer sums -> the SAME doubles the batch
                    # decimal-sum casts produce (Fraction = correctly
                    # rounded decimal->double, the _vr_solve pattern)
                    g = float(Fraction(sum(d for d in ring if d > 0), UNITS))
                    l = float(Fraction(-sum(d for d in ring if d < 0), UNITS))
                    rsi_v = (
                        _round6(100.0 * g / (g + l)) if g + l > 0.0 else None
                    )
                    rows.append((b, rsi_v))
            prev_close = close

        cur_b, cur_close = walk_buckets(
            events, bucket_ms, cur_b, cur_close, _last_price, close_bucket
        )
        return rows, (cur_b, cur_close, prev_close, ring)

    return fold_processor(
        RSI_STATE_SCHEMA, RSI_OUTPUT_SCHEMA, _PRICE_COLS, _price_events,
        (None, None, None, ()), fold, allowed_lateness_s * 1000,
    )


def stream_rsi(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    period: int | None = None,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live RSI: one append-final row per closed minute bucket once the
    Δclose ring holds a full ``period``, equal to the batch
    windows.rsi row for that bucket (property-tested)."""
    return apply_fold(
        trades, make_rsi_processor(bucket_ms, period, allowed_lateness_s)
    )


# --- streaming ATR twin (round 8) -------------------------------------------

ATR_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("atr", T.DoubleType()),
        T.StructField("atr_norm", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

ATR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        # open bucket's running OHLC in 1e-4 units (TR needs high/low)
        T.StructField("cur_high", T.LongType()),
        T.StructField("cur_low", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        T.StructField("prev_close", T.LongType()),
        # last `period` true ranges, newest last (1e-4 units)
        T.StructField("tr_ring", T.ArrayType(T.LongType())),
    ]
)


def make_atr_processor(
    bucket_ms: int = 60_000,
    period: int | None = None,
    allowed_lateness_s: int = 0,
):
    """Live ATR — the streaming twin of operators/windows.atr: the open
    bucket accumulates high/low/close, each bucket close computes
    TR = max(h−l, |h−prev_c|, |l−prev_c|) in exact 1e-4 integers
    (Wilder's first-bar convention: no prev close → TR = h−l), and once
    the ring holds ``period`` TRs every close emits ATR = ring-mean and
    ATR/close — rows per closed bucket EQUAL the batch operator over
    bars restricted to closed buckets (property-tested)."""
    from bitcoin_datapipeline_spark.operators.windows import ATR_PERIOD

    if period is None:
        period = ATR_PERIOD

    def fold(events, body):
        cur_b, cur_h, cur_l, cur_c, prev_c, ring = body
        ring = list(ring)
        rows = []

        def close_bucket(b, bar):
            nonlocal prev_c, ring
            hi, lo, close = bar
            if prev_c is None:
                tr = hi - lo
            else:
                tr = max(hi - lo, abs(hi - prev_c), abs(lo - prev_c))
            ring.append(tr)
            if len(ring) > period:
                ring = ring[1:]
            if len(ring) == period:
                # batch: av = double(decimal sum)/n; r6(av), r6(av/close)
                s = float(Fraction(sum(ring), UNITS))
                av = s / period
                close_d = float(Fraction(close, UNITS))
                rows.append((b, _round6(av), _round6(av / close_d)))
            prev_c = close

        cur_b, (cur_h, cur_l, cur_c) = walk_buckets(
            events, bucket_ms, cur_b, (cur_h, cur_l, cur_c), _hlc,
            close_bucket,
        )
        return rows, (cur_b, cur_h, cur_l, cur_c, prev_c, ring)

    return fold_processor(
        ATR_STATE_SCHEMA, ATR_OUTPUT_SCHEMA, _PRICE_COLS, _price_events,
        (None, None, None, None, None, ()), fold, allowed_lateness_s * 1000,
    )


def stream_atr(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    period: int | None = None,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live ATR: one append-final row per closed minute bucket once the
    TR ring is full, equal to the batch windows.atr row
    (property-tested)."""
    return apply_fold(
        trades, make_atr_processor(bucket_ms, period, allowed_lateness_s)
    )


# --- streaming MACD twin (round 8) ------------------------------------------

MACD_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("macd", T.DoubleType()),
        T.StructField("signal", T.DoubleType()),
        T.StructField("histogram", T.DoubleType()),
        T.StructField("crossover", T.BooleanType()),
        T.StructField("n_in_window", T.LongType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

MACD_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        # last MACD_WINDOW bar closes, newest last (1e-4 units)
        T.StructField("close_ring", T.ArrayType(T.LongType())),
        # last MACD_SIGNAL_WINDOW macd values, newest last (doubles —
        # the batch signal EMA folds over the double macd column)
        T.StructField("macd_ring", T.ArrayType(T.DoubleType())),
        T.StructField("prev_hist", T.DoubleType()),
    ]
)


def _trunc_ewma_py(values, span: int):
    """The batch _trunc_ewma fold replayed in Python: element 0 is the
    NEWEST value; same weight expressions, same left-to-right IEEE adds
    — bit-identical to Spark's `aggregate` over the reversed
    collect_list."""
    alpha = 2.0 / (span + 1)
    decay = 1.0 - alpha
    num = 0.0
    den = 0.0
    for i, x in enumerate(values):
        w = decay ** float(i)
        num = num + x * w
        den = den + w
    return num / den


def make_macd_processor(
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
):
    """Live MACD(12, 26, 9) — the streaming twin of
    operators/windows.macd: per closed minute bucket, the truncated
    normalized EMAs fold over a ring of the last MACD_WINDOW closes
    (Fraction-exact integer->double conversion, then the SAME
    left-to-right weighted fold as the batch collect_list aggregate),
    the signal EMA folds over the ring of macd doubles both forms
    compute identically, and the crossover flag reads the ROUNDED
    histogram sign — rows per closed bucket EQUAL the batch operator
    over bars restricted to closed buckets (property-tested)."""
    from bitcoin_datapipeline_spark.operators.windows import (
        MACD_FAST,
        MACD_SIGNAL,
        MACD_SIGNAL_WINDOW,
        MACD_SLOW,
        MACD_WINDOW,
    )

    def fold(events, body):
        cur_b, cur_c, c_ring, m_ring, prev_hist = body
        c_ring, m_ring = list(c_ring), list(m_ring)
        rows = []

        def close_bucket(b, close):
            nonlocal c_ring, m_ring, prev_hist
            c_ring.append(close)
            if len(c_ring) > MACD_WINDOW:
                c_ring = c_ring[1:]
            # newest-first doubles, exactly the batch reversed list
            vals = [float(Fraction(c, UNITS)) for c in reversed(c_ring)]
            macd_raw = (
                _trunc_ewma_py(vals, MACD_FAST)
                - _trunc_ewma_py(vals, MACD_SLOW)
            )
            m_ring.append(macd_raw)
            if len(m_ring) > MACD_SIGNAL_WINDOW:
                m_ring = m_ring[1:]
            sig_raw = _trunc_ewma_py(list(reversed(m_ring)), MACD_SIGNAL)
            hist = _round6(macd_raw - sig_raw)
            if prev_hist is None:
                cross = None
            else:
                cross = (hist > 0) != (prev_hist > 0)
            rows.append((
                b, _round6(macd_raw), _round6(sig_raw), hist, cross,
                len(c_ring),
            ))
            prev_hist = hist

        cur_b, cur_c = walk_buckets(
            events, bucket_ms, cur_b, cur_c, _last_price, close_bucket
        )
        return rows, (cur_b, cur_c, c_ring, m_ring, prev_hist)

    return fold_processor(
        MACD_STATE_SCHEMA, MACD_OUTPUT_SCHEMA, _PRICE_COLS, _price_events,
        (None, None, (), (), None), fold, allowed_lateness_s * 1000,
    )


def stream_macd(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live MACD: one append-final row per closed minute bucket, equal
    to the batch windows.macd row (property-tested)."""
    return apply_fold(
        trades, make_macd_processor(bucket_ms, allowed_lateness_s)
    )


# --- streaming markout twin (round 8) ---------------------------------------

MARKOUT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("n_trades", T.LongType()),
        T.StructField("markout_1s_bps", T.DoubleType()),
        T.StructField("markout_10s_bps", T.DoubleType()),
        T.StructField("markout_60s_bps", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

MARKOUT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_k2", T.LongType()),
        T.StructField("n_late", T.LongType()),
        # disorder pool (merged events)
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_k2", T.ArrayType(T.LongType())),
        T.StructField("pend_bid", T.ArrayType(T.LongType())),
        T.StructField("pend_ask", T.ArrayType(T.LongType())),
        T.StructField("pend_px", T.ArrayType(T.LongType())),
        T.StructField("pend_mk", T.ArrayType(T.BooleanType())),
        # LOCF quote history (avail_ts ascending)
        T.StructField("q_avail", T.ArrayType(T.LongType())),
        T.StructField("q_bid", T.ArrayType(T.LongType())),
        T.StructField("q_ask", T.ArrayType(T.LongType())),
        # trades awaiting horizon mids
        T.StructField("t_ts", T.ArrayType(T.LongType())),
        T.StructField("t_px", T.ArrayType(T.LongType())),
        T.StructField("t_mk", T.ArrayType(T.BooleanType())),
        T.StructField("t_mid0", T.ArrayType(T.DoubleType())),
        T.StructField("t_mo", T.ArrayType(T.ArrayType(T.DoubleType()))),
        # identity dedup per un-emitted bucket
        T.StructField("seen_key", T.ArrayType(T.StringType())),
        # bucket accumulators
        T.StructField("bk_id", T.ArrayType(T.LongType())),
        T.StructField("bk_n", T.ArrayType(T.LongType())),
        T.StructField("bk_s", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)


def _mid(b_u: int, a_u: int) -> float:
    """Quote mid from exact integer units: the batch double (bid+ask)/2."""
    return (float(Fraction(b_u, UNITS)) + float(Fraction(a_u, UNITS))) / 2.0


def make_markout_processor(allowed_lateness_s: int = 0):
    """Live multi-horizon markouts — the streaming twin of
    operators/aggregates.markout, and the family's only DELAYED-emission
    processor: a trade's markout at horizon h is unknown until the fold
    frontier passes t + h, so trades wait in state with their mid_0 and
    progressively-filled horizon mids, buckets accumulate finalized
    markouts in trade order, and a (symbol, minute) row emits once the
    frontier clears bucket_end + max(horizon) — equal to the batch
    operator over the tape up to that point (property-tested).

    State per symbol: the bounded-lateness pool, the quote history
    needed for pending lookups (pruned to the oldest pending target,
    keeping its LOCF candidate — O(quotes per max-horizon window)),
    pending trades (O(trades per max-horizon window)), the per-bucket
    identity-dedup set (the batch distinct on (ts, price, maker)), and
    the un-emitted bucket sums.

    Hot-key shape (r10): pending trades live in ONE FIFO QUEUE PER
    HORIZON (a trade moves to queue j+1 after its j-th fill; completions
    pop from the last queue).  Trades enter in ts order and promotions
    happen in ts order, so every queue stays ts-sorted and each queue's
    next maturation target (front.ts + hs[j]) is its minimum — the
    per-event finalize probe is O(#horizons) front checks and total fill
    work is O(fills · log |quote history|), independent of how many
    trades are pending.  The previous form re-scanned the WHOLE pending
    list per event — O(events × pending) per micro-batch, which a
    90 %-one-symbol tape turned into an 8.6× throughput collapse
    (2.8 k rows/s vs 24.3 k balanced, the r10 skew streaming bench's one
    >3× outlier); the queue form restores parity (BENCH_STREAM_r10).

    Exactness: mids convert from exact integer units via Fraction (the
    batch double (bid+ask)/2); markout arithmetic is the same float
    expression; sums accumulate in trade order (the espread precedent —
    batch group-avg fold order agrees at the 6-dp grain).

    ``allowed_lateness_s`` must stay at or below the max horizon: the
    emission rule assumes a pooled trade cannot belong to a bucket whose
    finalization point the frontier has already passed."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        MARKOUT_HORIZONS_MS,
    )

    hs = sorted(MARKOUT_HORIZONS_MS)
    max_h = hs[-1]
    late_ms = allowed_lateness_s * 1000
    if late_ms > max_h:
        raise ValueError(
            "markout processor: allowed_lateness must be <= max horizon "
            f"({max_h} ms) for the emission rule to be safe"
        )

    def event_tuples(ev):
        for k, ts, ing, b, a, px, mk in zip(
            ev["kind"], ev["event_ts"], ev["ingest_ts"], ev["bid_px"],
            ev["ask_px"], ev["price"], ev["is_buyer_maker"],
        ):
            if int(k) == 0:
                yield (int(ts) + 1, int(ing),
                       int(round(float(b) * UNITS)),
                       int(round(float(a) * UNITS)), -1, False)
            else:
                yield (int(ts), _ISQ_SHIFT + int(ing), -1, -1,
                       int(round(float(px) * UNITS)), bool(mk))

    def fold(events, body):
        if not events:
            # the frontier did not move: nothing new matures or emits
            return [], body
        f_ts = events[-1][0]  # the frontier merge_fold advanced to
        (q_avail, q_bid, q_ask, t_ts, t_px, t_mk, t_mid0, t_mo,
         seen_key, bk_id, bk_n, bk_s) = body
        # each quote carries its mid, converted once when folded (and
        # once per stored quote on reload) instead of on every lookup
        q_hist = [(av, b, a, _mid(b, a))
                  for av, b, a in zip(q_avail, q_bid, q_ask)]
        # rebuild the per-horizon queues: len(mo) routes each trade,
        # and the saved flat order (queue-by-queue, ts-ascending
        # within) keeps every queue ts-sorted on reload
        queues = [deque() for _ in hs]
        for ts, px, mk, m0, mo in zip(t_ts, t_px, t_mk, t_mid0, t_mo):
            queues[len(mo)].append([ts, px, mk, m0, list(mo)])
        # identity-dedup keys grouped BY BUCKET (flat ts:px:mk state
        # strings, bucket = ts div 60000): emission then drops a whole
        # bucket's keys in O(1) instead of rescanning every key per
        # emitted bucket — the r10 skew streaming bench's profile put
        # 87% of the processor in that rescan on a hot-symbol tape
        seen = {}
        for k in seen_key:
            seen.setdefault(
                int(k.split(":")[0]) // 60000, set()
            ).add(k)
        buckets = {
            b: [n, list(s)] for b, n, s in zip(bk_id, bk_n, bk_s)
        }

        def mid_at(x):
            """Prevailing mid at instant x: last quote with avail <= x
            (None before the first quote) — the batch LOCF value."""
            lo, hi = 0, len(q_hist)
            while lo < hi:
                m = (lo + hi) // 2
                if q_hist[m][0] <= x:
                    lo = m + 1
                else:
                    hi = m
            return q_hist[lo - 1][3] if lo else None

        def finalize(upto):
            """Fill every pending horizon whose target < upto; move
            fully-finalized trades into their bucket sums (trade order —
            queue fronts mature in ts order, and promotion keeps every
            queue ts-sorted, so completions pop from the last queue in
            exactly the order the old whole-list scan produced them).
            O(#horizons) front probes when nothing matures; O(log
            |q_hist|) per fill otherwise."""
            for j, h in enumerate(hs):
                qj = queues[j]
                while qj and qj[0][0] + h < upto:
                    tr = qj.popleft()
                    ts, px, mk, m0, mo = tr
                    mh = mid_at(ts + h)
                    d = -1.0 if mk else 1.0
                    mo.append(2.0 * d * (mh - m0) / m0 * 10000.0)
                    if j + 1 == len(hs):
                        b = ts // 60000
                        acc = buckets.setdefault(b, [0, [0.0] * len(hs)])
                        acc[0] += 1
                        for i, v in enumerate(mo):
                            acc[1][i] = acc[1][i] + v
                    else:
                        # ascending j: a trade maturing several horizons
                        # in one call is re-examined this same pass
                        queues[j + 1].append(tr)

        for s_ts, k2, b_u, a_u, px_u, mk in events:
            finalize(s_ts)
            if k2 < _ISQ_SHIFT:  # quote
                q_hist.append((s_ts, b_u, a_u, _mid(b_u, a_u)))
            else:  # trade
                ident = f"{s_ts}:{px_u}:{int(mk)}"
                b_tr = s_ts // 60000
                if ident in seen.get(b_tr, ()):
                    continue
                m0 = mid_at(s_ts)
                if m0 is None:
                    continue  # before any quote: drops from every horizon
                seen.setdefault(b_tr, set()).add(ident)
                queues[0].append([s_ts, px_u, mk, m0, []])
        finalize(f_ts)

        rows = []
        for b in sorted(buckets):
            if f_ts >= (b + 1) * 60000 + max_h:
                n, sums = buckets.pop(b)
                rows.append((
                    b, n, _round6(sums[0] / n), _round6(sums[1] / n),
                    _round6(sums[2] / n),
                ))
                # identity keys of an emitted bucket can never recur
                # (the frontier is past the bucket) — O(1) per emission
                seen.pop(b, None)

        # prune quote history: keep everything a pending lookup can
        # still need (the oldest pending target's LOCF candidate onward).
        # Queue j's targets are ts + hs[j] with ts-sorted contents, so
        # the global minimum is the min over the queue fronts.
        fronts = [q[0][0] + hs[j] for j, q in enumerate(queues) if q]
        if fronts:
            min_target = min(fronts)
            cut = 0
            for i, q in enumerate(q_hist):
                if q[0] <= min_target:
                    cut = i
            q_hist = q_hist[cut:]
        elif q_hist:
            q_hist = q_hist[-1:]

        # flatten GLOBALLY ts-sorted (round 11, ADVICE r10): len(mo)
        # routes each trade back to its queue on reload and any
        # ts-ascending flat order keeps every queue ts-sorted, so the
        # global sort costs nothing semantically — and it makes the
        # checkpoint byte-layout match the pre-r10 whole-list format,
        # keeping ROLLBACK to pre-r10 code exact (the old finalize
        # accumulated bucket sums in flat-list order; a queue-major
        # layout could flip 6-dp rounding on that path)
        trades = sorted(
            (t for q in queues for t in q), key=lambda t: (t[0], len(t[4]))
        )
        return rows, (
            [q[0] for q in q_hist], [q[1] for q in q_hist],
            [q[2] for q in q_hist],
            [t[0] for t in trades], [t[1] for t in trades],
            [t[2] for t in trades], [t[3] for t in trades],
            [[float(v) for v in t[4]] for t in trades],
            sorted(k for s in seen.values() for k in s),
            sorted(buckets),
            [buckets[b][0] for b in sorted(buckets)],
            [[float(v) for v in buckets[b][1]] for b in sorted(buckets)],
        )

    return fold_processor(
        MARKOUT_STATE_SCHEMA, MARKOUT_OUTPUT_SCHEMA,
        ["kind", "event_ts", "ingest_ts", "bid_px", "ask_px", "price",
         "is_buyer_maker"],
        event_tuples, ((),) * 12, fold, late_ms,
    )


def stream_markout(
    merged: DataFrame, allowed_lateness_s: int = 0
) -> DataFrame:
    """Live adverse-selection curve: one append-final row per (symbol,
    minute) bucket once the frontier clears bucket_end + max horizon,
    equal to the batch `markout` row (property-tested).  Input carries
    (symbol, kind 0=quote/1=trade, event_ts, ingest_ts, bid_px, ask_px,
    price, is_buyer_maker)."""
    return apply_fold(merged, make_markout_processor(allowed_lateness_s))


# --- streaming stochastic-oscillator twin (round 8) --------------------------

STOCH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("k_pct", T.DoubleType()),
        T.StructField("d_pct", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

STOCH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_high", T.LongType()),
        T.StructField("cur_low", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        # last `period` closed bars' (high, low), newest last (1e-4)
        T.StructField("hi_ring", T.ArrayType(T.LongType())),
        T.StructField("lo_ring", T.ArrayType(T.LongType())),
        # last 3 emitted %K values in 1e-6 grid units (NULL for flat
        # windows — they occupy a ring slot but not the %D average)
        T.StructField("k_ring", T.ArrayType(T.LongType())),
    ]
)

_STOCH_NULL = -(1 << 62)  # flat-window %K sentinel inside the long ring


def make_stoch_processor(
    bucket_ms: int = 60_000,
    period: int | None = None,
    allowed_lateness_s: int = 0,
):
    """Live stochastic oscillator — the streaming twin of
    operators/windows.stochastic_k: the open bucket accumulates
    high/low/close in exact 1e-4 integers, closed bars push (high, low)
    into an O(period) ring, and once full every close emits
    %K = 100·(close − LL)/(HH − LL) (NULL on a flat window) plus
    %D = the 3-bar decimal-grid mean of the ROUNDED %K (the batch
    DECIMAL(18,6) window sum replayed on the integer grid) — rows per
    closed bucket EQUAL the batch operator over OHLC bars restricted to
    closed buckets (property-tested)."""
    from bitcoin_datapipeline_spark.operators.windows import STOCH_PERIOD

    if period is None:
        period = STOCH_PERIOD

    def fold(events, body):
        cur_b, cur_h, cur_l, cur_c, hi_ring, lo_ring, k_ring = body
        hi_ring, lo_ring, k_ring = list(hi_ring), list(lo_ring), list(k_ring)
        rows = []

        def close_bucket(b, bar):
            nonlocal hi_ring, lo_ring, k_ring
            hi, lo, close = bar
            hi_ring.append(hi)
            lo_ring.append(lo)
            if len(hi_ring) > period:
                hi_ring, lo_ring = hi_ring[1:], lo_ring[1:]
            if len(hi_ring) < period:
                return
            hh, ll = max(hi_ring), min(lo_ring)
            if hh > ll:
                # the SAME doubles as the batch bar columns
                k = _round6(
                    100.0
                    * (float(Fraction(close, UNITS))
                       - float(Fraction(ll, UNITS)))
                    / (float(Fraction(hh, UNITS))
                       - float(Fraction(ll, UNITS)))
                )
                k_ring.append(int(round(k * 10**6)))
            else:
                k = None
                k_ring.append(_STOCH_NULL)
            if len(k_ring) > 3:
                k_ring = k_ring[1:]
            vals = [u for u in k_ring if u != _STOCH_NULL]
            if vals:
                d = float(Fraction(sum(vals), 10**6)) / len(vals)
                d = _round6(d)
            else:
                d = None
            rows.append((b, k, d))

        cur_b, (cur_h, cur_l, cur_c) = walk_buckets(
            events, bucket_ms, cur_b, (cur_h, cur_l, cur_c), _hlc,
            close_bucket,
        )
        return rows, (cur_b, cur_h, cur_l, cur_c, hi_ring, lo_ring, k_ring)

    return fold_processor(
        STOCH_STATE_SCHEMA, STOCH_OUTPUT_SCHEMA, _PRICE_COLS, _price_events,
        (None, None, None, None, (), (), ()), fold, allowed_lateness_s * 1000,
    )


def stream_stochastic(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    period: int | None = None,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live stochastic %K/%D: one append-final row per closed minute
    bucket once the extremes ring is full, equal to the batch
    windows.stochastic_k row (property-tested)."""
    return apply_fold(
        trades, make_stoch_processor(bucket_ms, period, allowed_lateness_s)
    )


OBV_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("obv", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

OBV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("pend_qty", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        T.StructField("cur_vol", T.LongType()),
        T.StructField("prev_close", T.LongType()),
        # running signed-volume sum in 1e-4 units (exact integer)
        T.StructField("obv_units", T.LongType()),
    ]
)


def make_obv_processor(
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
):
    """Live On-Balance Volume — the streaming twin of
    operators/windows.obv.  O(1) per-symbol state: the open bucket's
    running (close, volume) partials, the previous bar close, and the
    running signed-volume prefix sum — all on exact integer 1e-4 grids
    (the qty/price grid, FIXTURES.md), so every emitted row EQUALS the
    batch operator's DECIMAL prefix sum over bars restricted to closed
    buckets (property-tested).  Disorder discipline: merge_fold
    bounded-lateness pool, hard-late drop-and-count."""

    def fold(events, body):
        cur_b, cur_close, cur_vol, prev_close, obv_u = body
        rows = []

        def close_bucket(b, bar):
            nonlocal prev_close, obv_u
            close, vol = bar
            if prev_close is None or close == prev_close:
                signed = 0
            elif close > prev_close:
                signed = vol
            else:
                signed = -vol
            obv_u += signed
            rows.append((
                b, float(Fraction(vol, UNITS)), float(Fraction(obv_u, UNITS))
            ))
            prev_close = close

        cur_b, (cur_close, cur_vol) = walk_buckets(
            events, bucket_ms, cur_b, (cur_close, cur_vol), _close_vol,
            close_bucket,
        )
        return rows, (cur_b, cur_close, cur_vol, prev_close, obv_u)

    return fold_processor(
        OBV_STATE_SCHEMA, OBV_OUTPUT_SCHEMA, _QTY_COLS, _qty_events,
        (None, None, 0, None, 0), fold, allowed_lateness_s * 1000,
    )


def stream_obv(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live OBV: one append-final row per closed minute bucket, equal to
    the batch windows.obv row for that bar (property-tested)."""
    return apply_fold(
        trades, make_obv_processor(bucket_ms, allowed_lateness_s)
    )


BOLL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("day", T.LongType()),
        T.StructField("n_eval", T.LongType()),
        T.StructField("n_upper_breach", T.LongType()),
        T.StructField("n_lower_breach", T.LongType()),
        T.StructField("mean_bandwidth", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

BOLL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        # last `period` closed-bar closes, newest last (1e-4 units)
        T.StructField("close_ring", T.ArrayType(T.LongType())),
        # open day's running scorecard
        T.StructField("cur_day", T.LongType()),
        T.StructField("day_n", T.LongType()),
        T.StructField("day_up", T.LongType()),
        T.StructField("day_lo", T.LongType()),
        T.StructField("day_bw_sum", T.DoubleType()),
    ]
)


def make_boll_processor(
    bucket_ms: int = 60_000,
    period: int | None = None,
    k: float | None = None,
    allowed_lateness_s: int = 0,
):
    """Live Bollinger-breach scorecard — the streaming twin of
    operators/windows.bollinger_breach.  O(period) per-symbol state:
    the open bucket's running close, a ring of the last ``period``
    closed-bar closes, and the open DAY's running scorecard.  Per
    closed bucket with a full ring, the band edges derive from exact
    integer 1e-4/1e-8 moment sums converted Fraction-exactly — the
    SAME doubles the batch DECIMAL(18,6)/(38,12) window sums cast to —
    so the breach compares cannot drift.  A day emits when a bucket of
    a LATER day closes (closed-periods-only, the markout convention);
    the open day never emits.  Batch-equality property-tested with the
    day restriction; mean_bandwidth compared at 1e-6 (double summation
    order differs across engines below the 6-dp rounding)."""
    from bitcoin_datapipeline_spark.operators.windows import (
        BOLL_K,
        BOLL_PERIOD,
    )

    if period is None:
        period = BOLL_PERIOD
    if k is None:
        k = BOLL_K
    # the day-scorecard twins derive the day as cur_b // buckets_per_day,
    # which equals the batch form's `bucket div 1440` ONLY when bucket_ms
    # divides a day exactly — a non-divisor width would silently emit
    # mismatched day rows, so fail loudly instead (ADVICE r9)
    assert 86_400_000 % bucket_ms == 0, (
        f"bucket_ms={bucket_ms} must divide 86_400_000 ms: the"
        " day-scorecard boundary otherwise diverges from the batch twin"
    )
    buckets_per_day = 86_400_000 // bucket_ms

    def fold(events, body):
        (cur_b, cur_close, ring,
         cur_day, day_n, day_up, day_lo, day_bw) = body
        ring = list(ring)
        rows = []

        def emit_day():
            nonlocal day_n, day_up, day_lo, day_bw
            if day_n > 0:
                rows.append((
                    cur_day, day_n, day_up, day_lo, _round6(day_bw / day_n)
                ))
            day_n = day_up = day_lo = 0
            day_bw = 0.0

        def close_bucket(b, close_u):
            nonlocal ring, cur_day, day_n, day_up, day_lo, day_bw
            day = b // buckets_per_day
            if cur_day is None:
                cur_day = day
            elif day != cur_day:
                emit_day()
                cur_day = day
            ring.append(close_u)
            if len(ring) > period:
                ring = ring[1:]
            if len(ring) == period:
                # exact moment sums -> the batch decimal-cast doubles
                s1 = float(Fraction(sum(ring), UNITS))
                s2 = float(Fraction(sum(c * c for c in ring), UNITS * UNITS))
                mean = s1 / period
                var = max(0.0, s2 / period - mean * mean)
                std = var ** 0.5
                close = float(Fraction(close_u, UNITS))
                day_n += 1
                if close > mean + k * std:
                    day_up += 1
                if close < mean - k * std:
                    day_lo += 1
                day_bw += 2.0 * k * std / mean

        cur_b, cur_close = walk_buckets(
            events, bucket_ms, cur_b, cur_close, _last_price, close_bucket
        )
        return rows, (cur_b, cur_close, ring,
                      cur_day, day_n, day_up, day_lo, day_bw)

    return fold_processor(
        BOLL_STATE_SCHEMA, BOLL_OUTPUT_SCHEMA, _PRICE_COLS, _price_events,
        (None, None, (), None, 0, 0, 0, 0.0), fold,
        allowed_lateness_s * 1000,
    )


def stream_bollinger(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    period: int | None = None,
    k: float | None = None,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live Bollinger-breach scorecard: one append-final row per closed
    (symbol, day) once a later day's bucket closes, equal to the batch
    windows.bollinger_breach row over bars restricted to closed buckets
    and completed days (property-tested)."""
    return apply_fold(
        trades, make_boll_processor(bucket_ms, period, k, allowed_lateness_s)
    )


MOM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("momentum", T.DoubleType()),
        T.StructField("acceleration", T.DoubleType()),
        T.StructField("volume_trend", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

MOM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("pend_qty", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        T.StructField("cur_vol", T.LongType()),
        T.StructField("prev_close", T.LongType()),
        T.StructField("prev_mom", T.LongType()),
        T.StructField("prev_vol", T.LongType()),
    ]
)


def make_momentum_processor(
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
):
    """Live momentum / acceleration / volume trend — the streaming twin
    of operators/windows.momentum (nested lags of first differences).
    O(1) per-symbol state: open-bucket (close, volume) partials plus the
    previous bar's close, momentum, and volume — all integer 1e-4 units,
    so the emitted differences are the batch DECIMAL-exact values
    (property-tested; the first bar's NULL momentum and the second
    bar's NULL acceleration included)."""

    def fold(events, body):
        cur_b, cur_close, cur_vol, prev_close, prev_mom, prev_vol = body
        rows = []

        def close_bucket(b, bar):
            nonlocal prev_close, prev_mom, prev_vol
            close, vol = bar
            mom = None if prev_close is None else close - prev_close
            accel = (
                None if mom is None or prev_mom is None else mom - prev_mom
            )
            vt = None if prev_vol is None else vol - prev_vol
            rows.append((
                b,
                float(Fraction(close, UNITS)),
                None if mom is None else float(Fraction(mom, UNITS)),
                None if accel is None else float(Fraction(accel, UNITS)),
                None if vt is None else float(Fraction(vt, UNITS)),
            ))
            prev_close, prev_mom, prev_vol = close, mom, vol

        cur_b, (cur_close, cur_vol) = walk_buckets(
            events, bucket_ms, cur_b, (cur_close, cur_vol), _close_vol,
            close_bucket,
        )
        return rows, (cur_b, cur_close, cur_vol,
                      prev_close, prev_mom, prev_vol)

    return fold_processor(
        MOM_STATE_SCHEMA, MOM_OUTPUT_SCHEMA, _QTY_COLS, _qty_events,
        (None, None, 0, None, None, None), fold, allowed_lateness_s * 1000,
    )


def stream_momentum(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live momentum/acceleration/volume-trend: one append-final row per
    closed minute bucket, equal to the batch windows.momentum row
    (property-tested)."""
    return apply_fold(
        trades, make_momentum_processor(bucket_ms, allowed_lateness_s)
    )


DD_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("n_bars", T.LongType()),
        T.StructField("max_drawdown", T.DoubleType()),
        T.StructField("trough_bucket", T.LongType()),
        T.StructField("peak_close", T.DoubleType()),
        T.StructField("trough_close", T.DoubleType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

DD_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("n_bars", T.LongType()),
        T.StructField("worst_dd", T.DoubleType()),
        T.StructField("worst_bucket", T.LongType()),
        T.StructField("worst_peak", T.LongType()),
        T.StructField("worst_close", T.LongType()),
    ]
)


def make_drawdown_processor(
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
):
    """Live maximum drawdown — the streaming twin of
    operators/windows.drawdown, emitted as a RUNNING summary: after
    every closed bucket, one row equal to the batch operator over the
    bars closed so far (the kyle/roll prefix-emission convention).
    O(1) per-symbol state: running integer peak, bar count, and the
    worst (dd, bucket, peak, close) tuple, compared with the SAME
    doubles the batch close/peak − 1.0 derives (Fraction-exact unit
    conversion, Python tuple order = the batch struct-min order since
    bucket is unique per symbol)."""

    def fold(events, body):
        (cur_b, cur_close, peak, n_bars,
         w_dd, w_b, w_peak, w_close) = body
        rows = []

        def close_bucket(b, close):
            nonlocal peak, n_bars, w_dd, w_b, w_peak, w_close
            peak = close if peak is None else max(peak, close)
            n_bars += 1
            close_d = float(Fraction(close, UNITS))
            peak_d = float(Fraction(peak, UNITS))
            dd = close_d / peak_d - 1.0
            cand = (dd, b, peak, close)
            if w_dd is None or cand < (w_dd, w_b, w_peak, w_close):
                w_dd, w_b, w_peak, w_close = cand
            rows.append((
                b,
                n_bars,
                _round6(w_dd),
                w_b,
                _round6(float(Fraction(w_peak, UNITS))),
                _round6(float(Fraction(w_close, UNITS))),
            ))

        cur_b, cur_close = walk_buckets(
            events, bucket_ms, cur_b, cur_close, _last_price, close_bucket
        )
        return rows, (cur_b, cur_close, peak, n_bars,
                      w_dd, w_b, w_peak, w_close)

    return fold_processor(
        DD_STATE_SCHEMA, DD_OUTPUT_SCHEMA, _PRICE_COLS, _price_events,
        (None, None, None, 0, None, None, None, None), fold,
        allowed_lateness_s * 1000,
    )


def stream_drawdown(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live running max-drawdown summary: one append row per closed
    bucket, equal to the batch windows.drawdown over the bars closed so
    far (property-tested)."""
    return apply_fold(
        trades, make_drawdown_processor(bucket_ms, allowed_lateness_s)
    )


CANDLE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("day", T.LongType()),
        T.StructField("n_bars", T.LongType()),
        T.StructField("n_flat", T.LongType()),
        T.StructField("n_doji", T.LongType()),
        T.StructField("n_hammer", T.LongType()),
        T.StructField("n_bull_engulf", T.LongType()),
        T.StructField("n_bear_engulf", T.LongType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

CANDLE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_o", T.LongType()),
        T.StructField("cur_h", T.LongType()),
        T.StructField("cur_l", T.LongType()),
        T.StructField("cur_c", T.LongType()),
        T.StructField("prev_open", T.LongType()),
        T.StructField("prev_close", T.LongType()),
        T.StructField("cur_day", T.LongType()),
        T.StructField("day_bars", T.LongType()),
        T.StructField("day_flat", T.LongType()),
        T.StructField("day_doji", T.LongType()),
        T.StructField("day_hammer", T.LongType()),
        T.StructField("day_bull", T.LongType()),
        T.StructField("day_bear", T.LongType()),
    ]
)


def make_candle_processor(
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
):
    """Live candlestick-pattern scorecard — the streaming twin of
    operators/aggregates.candle_patterns.  O(1) per-symbol state: the
    open bucket's OHLC partials, the previous CLOSED bar's (open,
    close), and the open day's six counters.  Pattern predicates
    replicate the batch DOUBLE compares exactly (Fraction-exact unit
    conversion then the same IEEE arithmetic, including the inexact
    0.1 doji fraction); a day emits when a later day's bucket closes
    (the bollinger closed-periods convention)."""
    from bitcoin_datapipeline_spark.operators.aggregates import (
        DOJI_BODY_FRAC,
    )

    # the day-scorecard twins derive the day as cur_b // buckets_per_day,
    # which equals the batch form's `bucket div 1440` ONLY when bucket_ms
    # divides a day exactly — a non-divisor width would silently emit
    # mismatched day rows, so fail loudly instead (ADVICE r9)
    assert 86_400_000 % bucket_ms == 0, (
        f"bucket_ms={bucket_ms} must divide 86_400_000 ms: the"
        " day-scorecard boundary otherwise diverges from the batch twin"
    )
    buckets_per_day = 86_400_000 // bucket_ms

    def absorb(bar, run):
        hi, lo, close = _hlc(None if bar is None else bar[1:], run)
        return (run[0][2] if bar is None else bar[0]), hi, lo, close

    def fold(events, body):
        (cur_b, cur_o, cur_h, cur_l, cur_c, prev_o, prev_c, cur_day,
         d_bars, d_flat, d_doji, d_hammer, d_bull, d_bear) = body
        rows = []

        def emit_day():
            nonlocal d_bars, d_flat, d_doji, d_hammer, d_bull, d_bear
            if d_bars > 0:
                rows.append((
                    cur_day, d_bars, d_flat, d_doji, d_hammer, d_bull, d_bear
                ))
            d_bars = d_flat = d_doji = d_hammer = d_bull = d_bear = 0

        def close_bucket(b, bar):
            nonlocal prev_o, prev_c, cur_day
            nonlocal d_bars, d_flat, d_doji, d_hammer, d_bull, d_bear
            day = b // buckets_per_day
            if cur_day is None:
                cur_day = day
            elif day != cur_day:
                emit_day()
                cur_day = day
            o, h, l, c = (float(Fraction(u, UNITS)) for u in bar)  # noqa: E741
            real_body = abs(c - o)
            rng = h - l
            lower = min(o, c) - l
            upper = h - max(o, c)
            d_bars += 1
            if rng == 0.0:
                d_flat += 1
            if rng > 0.0 and real_body <= DOJI_BODY_FRAC * rng:
                d_doji += 1
            if (rng > 0.0 and lower >= 2.0 * real_body
                    and upper <= real_body):
                d_hammer += 1
            if prev_c is not None:
                po = float(Fraction(prev_o, UNITS))
                pc = float(Fraction(prev_c, UNITS))
                if pc < po and c > o and o <= pc and c >= po:
                    d_bull += 1
                if pc > po and c < o and o >= pc and c <= po:
                    d_bear += 1
            prev_o, prev_c = bar[0], bar[3]

        cur_b, (cur_o, cur_h, cur_l, cur_c) = walk_buckets(
            events, bucket_ms, cur_b, (cur_o, cur_h, cur_l, cur_c), absorb,
            close_bucket,
        )
        return rows, (cur_b, cur_o, cur_h, cur_l, cur_c, prev_o, prev_c,
                      cur_day, d_bars, d_flat, d_doji, d_hammer, d_bull,
                      d_bear)

    return fold_processor(
        CANDLE_STATE_SCHEMA, CANDLE_OUTPUT_SCHEMA, _PRICE_COLS,
        _price_events, (None,) * 8 + (0,) * 6, fold,
        allowed_lateness_s * 1000,
    )


def stream_candle_patterns(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live candlestick-pattern scorecard: one append-final row per
    completed (symbol, day), equal to the batch
    aggregates.candle_patterns row over bars restricted to closed
    buckets (property-tested)."""
    return apply_fold(
        trades, make_candle_processor(bucket_ms, allowed_lateness_s)
    )


RVOL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volatility", T.DoubleType()),
        T.StructField("n_in_window", T.LongType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

RVOL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("frontier_ts", T.LongType()),
        T.StructField("frontier_tid", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_ts", T.ArrayType(T.LongType())),
        T.StructField("pend_tid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.LongType())),
        T.StructField("cur_bucket", T.LongType()),
        T.StructField("cur_close", T.LongType()),
        # last `nbars` closed-bar closes, newest last (1e-4 units)
        T.StructField("close_ring", T.ArrayType(T.LongType())),
    ]
)


def make_rolling_vol_processor(
    bucket_ms: int = 60_000,
    nbars: int = 10,
    allowed_lateness_s: int = 0,
):
    """Live trailing-window close volatility — the streaming twin of
    operators/windows.rolling_volatility (W7).  O(nbars) per-symbol
    state: the open bucket's running close plus a ring of the last
    ``nbars`` closed-bar closes.  Every closed bucket emits the sample
    stddev over the ring from EXACT integer moment sums
    (var = (nΣx² − (Σx)²)/(n(n−1)) as a Fraction, one float sqrt) —
    within double noise of the batch stddev_samp, far below the 6-dp
    rounding grain, so rows EQUAL the batch operator over bars
    restricted to closed buckets (property-tested; the single-bar NULL
    included)."""

    def fold(events, body):
        cur_b, cur_close, ring = body
        ring = list(ring)
        rows = []

        def close_bucket(b, close):
            nonlocal ring
            ring.append(close)
            if len(ring) > nbars:
                ring = ring[1:]
            n = len(ring)
            if n >= 2:
                sx = sum(ring)
                sxx = sum(c * c for c in ring)
                var = Fraction(n * sxx - sx * sx,
                               n * (n - 1) * UNITS * UNITS)
                vol = _round6(float(var) ** 0.5)
            else:
                vol = None
            rows.append((b, float(Fraction(close, UNITS)), vol, n))

        cur_b, cur_close = walk_buckets(
            events, bucket_ms, cur_b, cur_close, _last_price, close_bucket
        )
        return rows, (cur_b, cur_close, ring)

    return fold_processor(
        RVOL_STATE_SCHEMA, RVOL_OUTPUT_SCHEMA, _PRICE_COLS, _price_events,
        (None, None, ()), fold, allowed_lateness_s * 1000,
    )


def stream_rolling_volatility(
    trades: DataFrame,
    bucket_ms: int = 60_000,
    nbars: int = 10,
    allowed_lateness_s: int = 0,
) -> DataFrame:
    """Live trailing-window volatility (W7 twin): one append-final row
    per closed minute bucket, equal to the batch
    windows.rolling_volatility row (property-tested)."""
    return apply_fold(
        trades, make_rolling_vol_processor(bucket_ms, nbars, allowed_lateness_s)
    )
