"""Checkpoint compatibility of the merge_fold stream processors.

- The state and output schemas are pinned: a state schema is the
  processor's checkpoint format, so any change to one breaks resuming
  from existing checkpoints.
- Restart equivalence: every processor gives the same rows when a tape
  is split over two ``availableNow`` runs on one checkpoint (state
  reloaded from the default HDFS-backed state store) as when the same
  micro-batches run in one uninterrupted query.
"""

from __future__ import annotations

import importlib
import json
import os
import random
from collections import Counter

import pytest

_STREAMING = "bitcoin_datapipeline_spark.streaming."
_PINNED = os.path.join(os.path.dirname(__file__), "stream_schemas.json")


def test_checkpoint_schemas_unchanged():
    with open(_PINNED) as f:
        pinned = json.load(f)
    current = {}
    for mod in ("impact", "vpin", "cusum"):
        m = importlib.import_module(_STREAMING + mod)
        for name in dir(m):
            if name.endswith(("_STATE_SCHEMA", "_OUTPUT_SCHEMA")):
                current[f"{mod}.{name}"] = getattr(m, name).json()
    assert current == pinned


_SCHEMAS = {
    "trades": "symbol string, event_ts long, trade_id long, price double,"
              " qty double, is_buyer_maker boolean",
    "quotes": "symbol string, event_ts long, ingest_ts long, bid_px double,"
              " ask_px double, bid_sz double, ask_sz double",
    "merged": "symbol string, kind int, event_ts long, ingest_ts long,"
              " bid_px double, ask_px double, bid_sz double, ask_sz double,"
              " price double, is_buyer_maker boolean",
    "bars": "symbol string, bucket long, price_change double",
}

# (module, input kind, builder kwargs); every processor buffers disorder
# so its pending pool is non-empty when the first run stops
_LATE = {"allowed_lateness_s": 5}
_CASES = {
    "stream_kyle_lambda": ("impact", "trades", _LATE),
    "stream_roll_spread": ("impact", "trades", _LATE),
    "stream_ofi": ("impact", "quotes", _LATE),
    "stream_effective_spread": ("impact", "merged", _LATE),
    "stream_acf": ("impact", "trades", _LATE),
    "stream_variance_ratio": ("impact", "trades", _LATE),
    "stream_twa_spread": ("impact", "quotes", _LATE),
    "stream_rsi": ("impact", "trades", _LATE),
    "stream_atr": ("impact", "trades", _LATE),
    "stream_macd": ("impact", "trades", _LATE),
    "stream_markout": ("impact", "merged", _LATE),
    "stream_stochastic": ("impact", "trades", _LATE),
    "stream_obv": ("impact", "trades", _LATE),
    "stream_bollinger": ("impact", "trades", _LATE),
    "stream_momentum": ("impact", "trades", _LATE),
    "stream_drawdown": ("impact", "trades", _LATE),
    "stream_candle_patterns": ("impact", "trades", _LATE),
    "stream_rolling_volatility": ("impact", "trades", _LATE),
    "stream_vpin": ("vpin", "trades", dict(_LATE, bucket_volume=20)),
    "stream_cusum": ("cusum", "bars", {"allowed_lateness_buckets": 1}),
}


def _tape(kind: str):
    """Two seeded parts of one tape for two symbols: ~50 h of events a
    few minutes apart (so day-scorecard processors close a day), with the
    second part carrying a hard-late event behind the first part's
    frontier."""
    rng = random.Random(7)
    rows = []
    for sym in ("A", "B"):
        px = 100.0
        for i in range(1_200):
            ts = i * 150_000 + rng.randrange(0, 120_000)
            px = round(max(1.0, px + rng.choice((-0.5, -0.1, 0.1, 0.5))), 2)
            if kind == "trades":
                rows.append((sym, ts, i, px, float(rng.randint(1, 9)),
                             rng.random() < 0.5))
            elif kind == "quotes":
                rows.append((sym, ts, ts + 1, px, round(px + 0.1, 2),
                             float(rng.randint(1, 9)),
                             float(rng.randint(1, 9))))
            elif kind == "merged":
                rows.append((sym, 0, ts, ts + 1, px, round(px + 0.1, 2),
                             1.0, 1.0, None, None))
                rows.append((sym, 1, ts + 500, ts + 501, None, None, None,
                             None, round(px + 0.05, 2), rng.random() < 0.5))
            else:
                rows.append((sym, i, round(rng.uniform(-0.3, 0.3), 6)))
    rows.sort(key=lambda r: (r[2], r[0]) if kind == "merged" else r[1])
    cut = len(rows) // 2
    first, second = rows[:cut], rows[cut:]
    late = list(first[len(first) // 2])
    if kind != "bars":  # a distinct tiebreak: late, not a duplicate
        late[3 if kind == "merged" else 2] += 10**6
    second.append(tuple(late))
    return first, second


def _write(spark, rows, kind, path, mtime):
    spark.createDataFrame(rows, _SCHEMAS[kind]).coalesce(1).write.parquet(
        path
    )
    for name in os.listdir(path):
        os.utime(os.path.join(path, name), (mtime, mtime))


def _run(spark, builder, kind, src, ckpt):
    got = []
    stream = (
        spark.readStream.schema(spark.createDataFrame([], _SCHEMAS[kind]).schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        builder(stream)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return got


@pytest.mark.parametrize("name", sorted(_CASES))
def test_restart_matches_uninterrupted_run(spark, tmp_path, name):
    mod, kind, kw = _CASES[name]
    fn = getattr(importlib.import_module(_STREAMING + mod), name)

    def builder(df):
        return fn(df, **kw)

    first, second = _tape(kind)
    t0 = 1_700_000_000

    split = str(tmp_path / "split")
    _write(spark, first, kind, os.path.join(split, "p1"), t0)
    before = _run(spark, builder, kind, split, str(tmp_path / "ckpt_split"))
    _write(spark, second, kind, os.path.join(split, "p2"), t0 + 60)
    after = _run(spark, builder, kind, split, str(tmp_path / "ckpt_split"))

    whole = str(tmp_path / "whole")
    _write(spark, first, kind, os.path.join(whole, "p1"), t0)
    _write(spark, second, kind, os.path.join(whole, "p2"), t0 + 60)
    want = _run(spark, builder, kind, whole, str(tmp_path / "ckpt_whole"))

    assert before and after, name  # rows on both sides of the restart
    assert Counter(map(tuple, before + after)) == Counter(map(tuple, want))
