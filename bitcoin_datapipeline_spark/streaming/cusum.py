"""Streaming CUSUM — the live form of operators/aggregates.cusum_path.

A CUSUM monitor is only useful LIVE: the statistic exists to raise a
level-shift alarm while the shift is happening.  The batch closed form
(prefix sum − running min) translates to O(1) per-symbol state — exactly
the three running quantities the closed form names:

- the prefix sum P in INTEGER 1e-6 units (``price_change`` is the
  6-dp-rounded bar column, so integer units are exact and every emitted
  statistic is bit-reproducible against the batch twin's DECIMAL(38,6)
  cumsum);
- the running min(P) and max(P) in the same units;
- the two cumulative breach counts.

The threshold ``h_abs`` is a FIXED, offline-calibrated constant (the
σ-based q_cusum audit is the calibration study); it is snapped to the
same 1e-6 grid so the breach compare is an exact integer compare — which
agrees with the batch twin's decimal-cast-double strict compare because
nearest-double conversion is monotone and injective on the grid's range.

Disorder tolerance reuses the shared ``merge_fold`` discipline
(streaming/disorder.py): bars inside ``allowed_lateness_buckets`` wait in
a bounded pending pool and fold in bucket order; bars at or behind the
folded frontier are dropped AND counted (``late_dropped`` on every row),
with lateness 0 the strictest in-order policy.

One row per folded bar, append-mode (rows are final).  Rounding follows
the engine-wide convention (``_round6`` == operators.r6 bit-for-bit).

cf. reference: extends the surface — the live-monitor twin of q_cusum /
q_cusum_path, same bounded-state contract as streaming/vpin.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from ..operators.aggregates import CUSUM_H_ABS
from .disorder import _NO_FRONTIER, apply_fold, merge_fold
from .vpin import _round6

# price_change grid: 1e-6 (the engine-wide r6 bar convention); integer
# units are exact because the column is rounded to 6 dp on both engines
UNITS_P = 1_000_000


CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("s_up", T.DoubleType()),
        T.StructField("s_dn", T.DoubleType()),
        T.StructField("breach_up", T.BooleanType()),
        T.StructField("breach_dn", T.BooleanType()),
        T.StructField("n_breach_up_cum", T.LongType()),
        T.StructField("n_breach_dn_cum", T.LongType()),
        T.StructField("late_dropped", T.LongType()),
    ]
)

CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("p_units", T.LongType()),
        T.StructField("pmin_units", T.LongType()),
        T.StructField("pmax_units", T.LongType()),
        T.StructField("seen", T.BooleanType()),
        T.StructField("cum_up", T.LongType()),
        T.StructField("cum_dn", T.LongType()),
        T.StructField("frontier_b", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("pend_b", T.ArrayType(T.LongType())),
        T.StructField("pend_x", T.ArrayType(T.LongType())),
    ]
)


def make_cusum_processor(
    h_abs: float = CUSUM_H_ABS,
    allowed_lateness_buckets: int = 0,
):
    h_units = int(round(float(h_abs) * UNITS_P))

    def fn(key, pdfs, state: GroupState):
        symbol = key[0]
        chunks = [
            pdf[["bucket", "price_change"]] for pdf in pdfs if len(pdf)
        ]
        if not chunks:
            yield pd.DataFrame(
                [], columns=[f.name for f in CUSUM_OUTPUT_SCHEMA.fields]
            )
            return
        ev = pd.concat(chunks, ignore_index=True)
        if state.exists:
            (p, pmin, pmax, seen, cum_up, cum_dn,
             f_b, n_late, pend_b, pend_x) = state.get
            pend = list(zip(pend_b, pend_b, pend_x))
        else:
            p, pmin, pmax, seen = 0, 0, 0, False
            cum_up, cum_dn = 0, 0
            f_b, n_late = _NO_FRONTIER, 0
            pend = []

        new = (
            (int(b), int(b), int(round(float(x) * UNITS_P)))
            for b, x in zip(ev["bucket"], ev["price_change"])
        )
        fold, pend, (f_b, _), late_inc = merge_fold(
            new, pend, (f_b, f_b), allowed_lateness_buckets
        )
        n_late += late_inc

        rows = []
        for b, _tb, xu in fold:
            p += xu
            if not seen:
                pmin = pmax = p
                seen = True
            else:
                pmin, pmax = min(pmin, p), max(pmax, p)
            su, sd = p - pmin, pmax - p
            bu, bd = su > h_units, sd > h_units
            cum_up += 1 if bu else 0
            cum_dn += 1 if bd else 0
            rows.append((
                symbol,
                int(b),
                _round6(su / UNITS_P),
                _round6(sd / UNITS_P),
                bool(bu),
                bool(bd),
                int(cum_up),
                int(cum_dn),
                int(n_late),
            ))

        state.update((
            int(p), int(pmin), int(pmax), bool(seen),
            int(cum_up), int(cum_dn),
            int(f_b), int(n_late),
            [t[0] for t in pend], [t[2] for t in pend],
        ))
        yield pd.DataFrame(
            rows, columns=[f.name for f in CUSUM_OUTPUT_SCHEMA.fields]
        )

    # the schemas apply_fold reads.  The body stays off fold_processor:
    # its one frontier field keys merge_fold on (bucket, bucket) while
    # the pool keeps a single copy of the bucket
    fn.state_schema = CUSUM_STATE_SCHEMA
    fn.output_schema = CUSUM_OUTPUT_SCHEMA
    return fn


def stream_cusum(
    bars: DataFrame,
    h_abs: float = CUSUM_H_ABS,
    allowed_lateness_buckets: int = 0,
) -> DataFrame:
    """Incremental CUSUM path (see module docstring).  Emits one final
    row per folded bar, statistics rounded exactly like the batch twin;
    batch-equivalence pinned in tests/test_properties.py across random
    micro-batch boundaries."""
    return apply_fold(
        bars, make_cusum_processor(h_abs, allowed_lateness_buckets)
    )
