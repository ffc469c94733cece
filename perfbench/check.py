"""Answer checks, run untimed after the measured passes.

Batch queries are compared with their DuckDB ``oracle_sql`` twins using the
canonical comparison of ``tools/check_oracle.py`` (row count, column-name
set, order-insensitive values with floats at 6 dp).  Oracle answers are
cached as DuckDB returned them, per query and oracle text, in the input
directory they were computed from, so a repeated seed runs DuckDB once and
regenerated inputs drop them.  Streaming processors are compared with their
batch twins.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import duckdb

from tools.check_oracle import _fast_capable, normalize_frame, normalize_frame_fast


def diff(got, want) -> str | None:
    """None when two pandas frames agree under the canonical comparison,
    else a one-line reason.  As in ``tools/check_oracle.py``, the fast
    normalization is used only when both frames allow it, so the two sides
    are always put in the same form."""
    if _fast_capable(got) and _fast_capable(want):
        norm = normalize_frame_fast
    else:
        norm = normalize_frame
    (gn, gcols, grows), (wn, wcols, wrows) = norm(got), norm(want)
    if gn != wn:
        return f"rows {gn} != {wn}"
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    pairs = [(a, b) for a, b in zip(grows, wrows) if a != b]
    if pairs:
        return f"{len(pairs)}/{gn} rows differ, first {pairs[0][0]!r} != {pairs[0][1]!r}"[:400]
    return None


class Oracle:
    """DuckDB over the workload's generated parquet files."""

    def __init__(self, data_dir: str, tmp_dir: str) -> None:
        self.data_dir = data_dir
        self.cache_dir = os.path.join(data_dir, "oracle")
        self.tmp_dir = tmp_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            con = duckdb.connect()
            con.sql("SET memory_limit='2GB'")
            con.sql("SET threads=2")
            con.sql(f"SET temp_directory='{self.tmp_dir}'")
            for f in sorted(os.listdir(self.data_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(self.data_dir, f)
                    con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
            self._con = con
        return self._con

    def answer(self, name: str, sql: str):
        key = hashlib.sha256(f"{name}\0{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        pdf = self._connect().sql(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(pdf, fh)
        os.replace(tmp, path)
        return pdf

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


# -- streaming twins -------------------------------------------------------
def stream_twin(name: str, trades, streamed, last_ts_ms: int):
    """Batch twin of one streaming processor's emitted rows, as a pair of
    (streamed, expected) Spark frames with the same columns.  ``trades`` is
    the full valid-trade tape the stream read; ``last_ts_ms`` its newest
    event time, which fixes the final watermark."""
    from pyspark.sql import functions as F

    if name == "stream_dedup":
        from bitcoin_datapipeline_spark.operators.dedup import dedup_trades

        cols = ["symbol", "trade_id"]
        return streamed.select(*cols), dedup_trades(trades).select(*cols)
    if name == "stream_bars_1m":
        # append mode emits a bar once the 10-minute watermark passes its end
        wm = F.timestamp_millis(F.lit(last_ts_ms - 10 * 60_000))
        t = trades.withColumn("event_time", F.timestamp_millis("event_ts"))
        want = (
            t.groupBy("symbol", F.window("event_time", "1 minute").alias("win"))
            .agg(
                F.min_by("price", "event_ts").alias("open"),
                F.max("price").alias("high"),
                F.min("price").alias("low"),
                F.max_by("price", "event_ts").alias("close"),
                F.sum("qty").alias("volume"),
                F.count("*").alias("trade_count"),
            )
            .filter(F.col("win.end") <= wm)
            .select("symbol", F.col("win.start").alias("bar_start"), "open",
                    "high", "low", "close", "volume", "trade_count")
        )
        got = streamed.select("symbol", "bar_start", "open", "high", "low",
                              "close", "volume", "trade_count")
        return got, want
    if name == "stream_grid_returns":
        from bitcoin_datapipeline_spark.operators import grid as batch_grid

        last_sec = trades.groupBy("symbol").agg(
            F.expr("max(event_ts div 1000)").alias("last_sec")
        )
        want = (
            batch_grid.grid_returns(
                batch_grid.locf_resample(trades, step_s=1, slice_s=None),
                horizons_s=(1, 5, 10),
            )
            .join(last_sec, "symbol")
            .filter(F.col("feature_ts") <= F.col("last_sec"))
            .select("symbol", "feature_ts", "price", "ret_1s", "ret_5s", "ret_10s")
        )
        got = streamed.select(
            "symbol",
            "feature_ts",
            *[F.round(c, 6).alias(c) for c in ("price", "ret_1s", "ret_5s", "ret_10s")],
        )
        return got, want
    raise KeyError(name)
