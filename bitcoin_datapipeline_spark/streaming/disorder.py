"""Shared bounded-lateness fold discipline, and the fold skeleton every
event-keyed stateful processor runs on (streaming/impact.py and
streaming/vpin.py).

A real SBE feed reorders at ms scale.  Every processor that folds trades
into an ORDER-SENSITIVE clock (volume clock, minute buckets, consecutive
Δp pairs) needs the same three rules:

1. events inside the ``allowed_lateness`` window WAIT in a bounded
   pending pool and fold in (event_ts, tiebreak) order once the horizon
   (newest observed ts − lateness) passes them — bounded disorder then
   reproduces the batch twin exactly;
2. events at or behind the FOLDED frontier (the max folded sort key) are
   hard-late: dropped AND counted, never silently folded out of order;
3. with lateness 0 the whole pool folds through the newest event — the
   strictest policy, byte-compatible with an in-order feed.

``merge_fold`` implements all three over opaque event tuples whose first
two fields are the (event_ts, tiebreak) sort key.  ``fold_processor``
wraps it in the stateful grouped-map function a processor hands to
``applyInPandasWithState`` (``apply_fold``): it keeps the pool, frontier
and late count in the processor's state row, and the processor supplies
only its events, its body state and its fold.  ``walk_buckets`` is the
time-bucket clock most folds share.
"""

from __future__ import annotations

from bisect import bisect_left

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_NO_FRONTIER = -(1 << 62)


def merge_fold(
    new_events,
    pend: list,
    frontier: tuple[int, int],
    late_ms: int,
):
    """Merge ``new_events`` (iterable of tuples keyed by fields [0:2])
    into the pending pool, drop-and-count hard-late ones, and split off
    the sorted fold list at the lateness horizon.

    Returns ``(fold, pend, frontier, n_late)`` — events to fold now (in
    key order), the remaining pool, the advanced frontier, and how many
    arrivals were behind the old frontier."""
    n_late = 0
    for ev in new_events:
        if (ev[0], ev[1]) <= frontier:
            n_late += 1
        else:
            pend.append(ev)
    if not pend:
        return [], pend, frontier, n_late
    horizon = max(e[0] for e in pend) - late_ms
    pend.sort()
    keep_from = len(pend)
    for i, e in enumerate(pend):
        if e[0] > horizon:
            keep_from = i
            break
    fold, pend = pend[:keep_from], pend[keep_from:]
    if fold:
        frontier = (fold[-1][0], fold[-1][1])
    return fold, pend, frontier, n_late


def fold_processor(
    state_schema,
    output_schema,
    columns: list[str],
    event_tuples,
    body_init: tuple,
    fold,
    late_ms: int,
):
    """The per-key function of one merge_fold processor.

    The processor declares:

    - ``columns``: the input columns it reads;
    - ``event_tuples(frame)``: its events over those columns, keyed by
      fields [0:2] as merge_fold requires;
    - ``body_init``: the body state of a new key (empty arrays as ``()``,
      so no fold can mutate a shared default);
    - ``fold(events, body) -> (rows, body)``: its fold over the whole
      sorted list merge_fold releases, once per micro-batch;
    - its schemas.

    The body is every state field other than the two ``frontier_*``
    fields, ``n_late`` and the ``pend_*`` arrays (one per event-tuple
    field), in schema order.  Those are found by name, so the fields may
    sit anywhere in the state schema, which each processor keeps as its
    own checkpoint format.  Each fold row is emitted as
    ``(key, *row, late_dropped)``, matching the output schema's first
    and last columns; the frame is object-typed so a None stays SQL NULL
    (pandas would turn it into NaN in a float64 column)."""
    names = state_schema.fieldNames()
    f_at = [i for i, n in enumerate(names) if n.startswith("frontier_")]
    late_at = names.index("n_late")
    pend_at = [i for i, n in enumerate(names) if n.startswith("pend_")]
    body_at = [
        i for i in range(len(names)) if i not in {*f_at, late_at, *pend_at}
    ]
    assert len(f_at) == 2 and len(body_init) == len(body_at), names
    out_cols = output_schema.fieldNames()
    assert out_cols[-1] == "late_dropped", out_cols

    def fn(key, pdfs, state: GroupState):
        chunks = [pdf[columns] for pdf in pdfs if len(pdf)]
        if not chunks:
            yield pd.DataFrame([], columns=out_cols)
            return
        ev = pd.concat(chunks, ignore_index=True)
        if state.exists:
            st = state.get
            frontier = (st[f_at[0]], st[f_at[1]])
            n_late = st[late_at]
            pend = list(zip(*(st[i] for i in pend_at)))
            body = tuple(st[i] for i in body_at)
        else:
            frontier = (_NO_FRONTIER, _NO_FRONTIER)
            n_late, pend, body = 0, [], body_init
        todo, pend, frontier, late_inc = merge_fold(
            event_tuples(ev), pend, frontier, late_ms
        )
        n_late += late_inc
        rows, body = fold(todo, body)

        new = [None] * len(names)
        new[f_at[0]], new[f_at[1]] = frontier
        new[late_at] = n_late
        for j, i in enumerate(pend_at):
            new[i] = [e[j] for e in pend]
        for i, v in zip(body_at, body):
            new[i] = v
        state.update(tuple(new))
        yield pd.DataFrame(
            [(key[0], *r, n_late) for r in rows], columns=out_cols, dtype=object
        )

    fn.state_schema = state_schema
    fn.output_schema = output_schema
    return fn


def apply_fold(df: DataFrame, fn) -> DataFrame:
    """Run a ``fold_processor`` function per symbol, append mode."""
    return df.groupBy("symbol").applyInPandasWithState(
        fn,
        outputStructType=fn.output_schema,
        stateStructType=fn.state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def walk_buckets(events, bucket_ms: int, cur_b, bar, absorb, close):
    """Fold sorted events onto the ``ts div bucket_ms`` clock, one run of
    same-bucket events at a time.

    ``cur_b`` is the open bucket (None before the first event) and
    ``bar`` its partial.  ``absorb(bar, run)`` returns the partial after
    ``run``; ``bar`` is None when ``run`` opens a new bucket.
    ``close(bucket, bar)`` is called for every open bucket a later event
    closes.  Run ends are found by bisection, so the walk does no Python
    work per event.  Returns the new ``(cur_b, bar)``."""
    i = 0
    while i < len(events):
        b = events[i][0] // bucket_ms
        j = bisect_left(events, ((b + 1) * bucket_ms,), i)
        if b != cur_b:
            if cur_b is not None:
                close(cur_b, bar)
            cur_b, bar = b, None
        bar = absorb(bar, events[i:j])
        i = j
    return cur_b, bar
