"""Workload definitions and the runners that run them.

A batch operation is one query: construct the DataFrame, compute its
``executedPlan``, collect it (``toPandas``).  The collected answers of the
latest pass are the ones checked against the oracle, so the check covers
exactly what was timed.  A batch operation named ``query@sub`` runs the
query over the ``sub`` directory of the seed's inputs (the hot-key tape)
instead of the main one.  A streaming operation is one micro-batch (its
``triggerExecution``); a streaming pass runs every processor through a fresh
checkpointed ``availableNow`` stream.  A pass runs every operation of
the workload once, in the seed's order.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import statistics
import time
import traceback
import uuid
from dataclasses import dataclass

from perfbench import trace as T


STREAM_FILES_PER_TRIGGER = 4
# A warm pass takes 5-10 s on a 4-core host, close to the run length, so
# the pass count is fixed rather than left to flip between one and two with
# the host's speed.
MIN_WARM_PASSES = 2
STREAM_FIELDS = ("batches", "batch_s", "add_batch_s", "wal_commit_s",
                 "state_commit_s", "state_rows", "state_bytes", "rows_out")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _err(exc: BaseException) -> str:
    """One-line summary of an exception for the failure list."""
    lines = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {lines[0][:200] if lines else ''}"


class Layers:
    """Accumulates traced per-operation records into per-layer metrics
    (sums per traced pass; storage as the largest amount held)."""

    def __init__(self) -> None:
        self.sums: dict[str, float] = {}
        self.peaks: dict[str, float] = {}
        self.records: list[dict] = []

    def add(self, key: str, value: float) -> None:
        self.sums[key] = self.sums.get(key, 0.0) + float(value)

    def peak(self, key: str, value: float) -> None:
        self.peaks[key] = max(self.peaks.get(key, 0.0), float(value))

    @staticmethod
    def unit(key: str) -> str:
        if key.endswith("_s"):
            return "s"
        return "bytes" if "bytes" in key else "count"

    def metrics(self, passes: int) -> dict[str, tuple[float, str]]:
        keys = [f"{m}.{f}" for m in T.MODULES for f in ("calls", "self_s", "jobs")]
        keys += ["entry.build_s", "entry.build_jobs", "catalyst.plan_s",
                 "catalyst.exchanges", "catalyst.sorts", "catalyst.broadcasts",
                 "exec.run_s", "exec.result_rows", "asof.sliced_ops", "asof.single_ops"]
        keys += [f"exec.{f}" for f in T.EXEC_FIELDS]
        keys += [f"streaming.{f}" for f in STREAM_FIELDS]
        out = {k: (self.sums.get(k, 0.0) / max(passes, 1), self.unit(k)) for k in keys}
        for k in ("storage.rdds_held", "storage.bytes_held", "exec.peak_exec_mem_bytes"):
            out[k] = (self.peaks.get(k, 0.0), self.unit(k))
        return out


class Runner:
    """Shared pass loop: one cold pass, then warm passes until the deadline
    and at least MIN_WARM_PASSES untraced ones (alternating untraced and
    traced when tracing)."""

    def __init__(self, wl, spark, entry, data_dir, info, seed, dirs, tracer):
        self.spark = spark
        self.entry = entry
        self.data_dir = data_dir
        self.info = info
        self.dirs = dirs
        self.tracer = tracer
        self.order = list(wl.operations)
        random.Random(seed).shuffle(self.order)
        self.attempted = 0
        self.failures: list[str] = []
        self.layers = Layers()

    @property
    def sc(self):
        return self.spark.sparkContext

    def prepare(self) -> None:
        pass

    def measure(self, seconds: float, trace: bool) -> dict:
        cold_wall, _ = self.run_pass("cold", traced=False)
        walls, traced_walls, op_s, groups = [], [], [], []
        deadline = time.perf_counter() + seconds
        k = 0
        while True:
            traced = trace and k % 2 == 1
            group = f"warm{k}"
            wall, ops = self.run_pass(group, traced=traced)
            if traced:
                traced_walls.append(wall)
            else:
                walls.append(wall)
                op_s.extend(ops)
                groups.append(group)
            k += 1
            if (time.perf_counter() >= deadline and len(walls) >= MIN_WARM_PASSES
                    and (not trace or traced_walls)):
                break
        out = {
            "cold_suite_s": cold_wall,
            "suite_s": walls,
            "op_s": op_s,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "failures": list(self.failures),
            "ingest_rows_per_s": self.ingest_rate(groups, walls),
        }
        if trace:
            layers = self.layers.metrics(len(traced_walls))
            untraced, traced_med = statistics.median(walls), statistics.median(traced_walls)
            layers["trace.overhead_s"] = (traced_med - untraced, "s")
            layers["trace.suite_s"] = (traced_med, "s")
            layers["trace.untraced_suite_s"] = (untraced, "s")
            out["layers"] = layers
            out["records"] = self.layers.records
        return out

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        if exc is not None:
            traceback.print_exception(exc)
            what = f"{what}: {_err(exc)}"
        self.failures.append(what)


class BatchRunner(Runner):
    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.qs = self.entry.queries()
        self.oracles = self.entry.oracle_sql()
        self.answers: dict = {}
        from bitcoin_datapipeline_spark.operators import text

        self._release = (text.release_components, text.release_lsh_sigs)

    def release(self, df) -> None:
        """Drop checkpoint blocks a query result holds (the engine's
        lifecycle handles; a no-op for most queries)."""
        for fn in self._release:
            fn(df)

    def source(self, op: str) -> tuple[str, str]:
        """(query name, input directory) of one operation."""
        name, _, sub = op.partition("@")
        return name, os.path.join(self.data_dir, sub) if sub else self.data_dir

    def run_pass(self, group: str, traced: bool) -> tuple[float, list[float]]:
        ops = []
        t_pass = time.perf_counter()
        for name in self.order:
            self.attempted += 1
            try:
                if traced:
                    ops.append(self.traced_op(name, group))
                else:
                    self.sc.setJobGroup(group, name)
                    query, src = self.source(name)
                    t0 = time.perf_counter()
                    df = self.qs[query](self.spark, src)
                    df._jdf.queryExecution().executedPlan()
                    self.answers[name] = df.toPandas()
                    ops.append(time.perf_counter() - t0)
                    self.release(df)
                log(f"{group} {name} {ops[-1]:.3f}s")
            except Exception as exc:  # one failed query must not stop the run
                self.fail(f"{name} ({group})", exc)
        return time.perf_counter() - t_pass, ops

    def traced_op(self, name: str, group: str) -> float:
        tr, L = self.tracer, self.layers
        op_id = f"{group}/{name}"
        tr.begin(op_id)
        try:
            query, src = self.source(name)
            t0 = time.perf_counter()
            df = self.qs[query](self.spark, src)
            t1 = time.perf_counter()
            self.sc.setJobGroup(f"{op_id}/exec", name)
            jplan = df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            self.answers[name] = df.toPandas()
            t3 = time.perf_counter()
        finally:
            spans = tr.end()
        sc = self.sc
        rdds, held = T.storage_held(sc)  # before the lifecycle release
        self.release(df)
        mods = T.module_stats(spans, sc)
        build_jobs = len(sc.statusTracker().getJobIdsForGroup(f"{op_id}/build"))
        build_jobs += sum(m["jobs"] for m in mods.values())
        shape = T.plan_shape(jplan)
        ex = T.exec_stats(sc, f"{op_id}/exec")
        names = [s["name"] for s in spans]
        asof = None
        if any(n.endswith("_adaptive") for n in names):
            asof = "sliced" if any(n.endswith("_sliced") for n in names) else "single"
            L.add(f"asof.{asof}_ops", 1)
        L.add("entry.build_s", t1 - t0)
        L.add("entry.build_jobs", build_jobs)
        L.add("catalyst.plan_s", t2 - t1)
        for k, v in shape.items():
            L.add(f"catalyst.{k}", v)
        L.add("exec.run_s", t3 - t2)
        L.add("exec.result_rows", len(self.answers[name]))
        for k, v in ex.items():
            if k == "peak_exec_mem_bytes":
                L.peak(f"exec.{k}", v)
            else:
                L.add(f"exec.{k}", v)
        for m, st in mods.items():
            for k, v in st.items():
                L.add(f"{m}.{k}", v)
        L.peak("storage.rdds_held", rdds)
        L.peak("storage.bytes_held", held)
        L.records.append({
            "op": op_id, "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
            "rows": len(self.answers[name]), "build_jobs": build_jobs, "plan": shape, "exec": ex,
            "modules": mods, "storage": {"rdds": rdds, "bytes": held},
            "asof_path": asof, "spans": spans,
        })
        return t3 - t0

    def ingest_rate(self, groups, walls) -> float:
        return T.input_records(self.sc, groups) / sum(walls)

    def check(self) -> dict:
        """Compare each query's latest collected answer with its DuckDB twin."""
        from perfbench.check import Oracle, diff

        oracles: dict[str, Oracle] = {}
        failures = []
        try:
            for op in self.order:
                if op not in self.answers:
                    failures.append(f"{op} (oracle check): no completed run")
                    continue
                name, src = self.source(op)
                if src not in oracles:
                    oracles[src] = Oracle(src, self.dirs["tmp"])
                try:
                    why = diff(self.answers[op], oracles[src].answer(name, self.oracles[name]))
                except Exception as exc:
                    traceback.print_exception(exc)
                    why = _err(exc)
                if why is not None:
                    failures.append(f"{op} (oracle check): {why}")
        finally:
            for oracle in oracles.values():
                oracle.close()
        return {"attempted": len(self.order), "failed": len(failures), "failures": failures}


class StreamRunner(Runner):
    def prepare(self) -> None:
        """Write the valid-trade tape as time-ordered parquet files cut at
        the seed's positions, each cut moved forward to the next whole
        second so no second spans two micro-batches (cached with the
        generated inputs); each trigger reads STREAM_FILES_PER_TRIGGER
        files."""
        from bitcoin_datapipeline_spark.functions.normalize import valid_trades
        from bitcoin_datapipeline_spark.tables import table

        self.trades = valid_trades(table(self.spark, self.data_dir, "events"))
        self.src_dir = os.path.join(self.data_dir, "stream_trades")
        if not os.path.exists(os.path.join(self.src_dir, "_done")):
            import numpy as np
            import pyarrow as pa
            import pyarrow.parquet as pq

            pdf = self.trades.toPandas().sort_values(["event_ts", "trade_id"], kind="stable")
            sec = (pdf["event_ts"] // 1000).to_numpy()
            cuts = []
            for c in self.info["file_cuts"]:
                c = int(c * len(pdf) / self.info["rows"]["events"])
                while 0 < c < len(pdf) and sec[c] == sec[c - 1]:
                    c += 1
                cuts.append(c)
            tmp = self.src_dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            base = time.time() - 1000
            for i, part in enumerate(np.split(np.arange(len(pdf)), sorted(set(cuts)))):
                if len(part):
                    path = os.path.join(tmp, f"part-{i:05d}.parquet")
                    pq.write_table(pa.Table.from_pandas(pdf.iloc[part], preserve_index=False), path)
                    os.utime(path, (base + i, base + i))
            open(os.path.join(tmp, "_done"), "w").close()
            shutil.rmtree(self.src_dir, ignore_errors=True)
            os.replace(tmp, self.src_dir)
        self.schema = self.spark.read.parquet(self.src_dir).schema
        self.last_ts_ms = self.trades.agg({"event_ts": "max"}).collect()[0][0]
        self.ingest_rows = 0
        self.ingest_s = 0.0
        self.checked_sinks: dict[str, str] = {}

    def _start(self, name: str, sink: str):
        from bitcoin_datapipeline_spark.streaming import grid, ops

        builders = {
            "stream_dedup": ops.stream_dedup,
            "stream_bars_1m": ops.stream_bars_1m,
            "stream_grid_returns": grid.stream_grid_returns,
        }
        src = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", STREAM_FILES_PER_TRIGGER)
            .parquet(self.src_dir)
        )
        ckpt = os.path.join(self.dirs["ckpt"], uuid.uuid4().hex)
        q = (
            builders[name](src)
            .writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        return q, ckpt

    def run_pass(self, group: str, traced: bool) -> tuple[float, list[float]]:
        """Every processor writes to an in-memory sink; the sinks of the
        latest untraced warm pass are kept for the batch-twin check."""
        ops = []
        t_pass = time.perf_counter()
        for name in self.order:
            self.attempted += 1
            sink = f"{group}_{name}"
            q = ckpt = None
            keep = False
            try:
                if traced:
                    self.tracer.begin(f"{group}/{name}")
                t0 = time.perf_counter()
                try:
                    q, ckpt = self._start(name, sink)
                finally:
                    spans = self.tracer.end() if traced else []
                q.awaitTermination()
                wall = time.perf_counter() - t0
                progress = [p for p in q.recentProgress if int(p["numInputRows"]) > 0]
                batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
                ops.extend(batch_s)
                log(f"{group} {name} {wall:.3f}s batches={[round(b, 3) for b in batch_s]}")
                if group.startswith("warm") and not traced:
                    self.ingest_rows += sum(int(p["numInputRows"]) for p in progress)
                    self.ingest_s += sum(batch_s)
                    old = self.checked_sinks.get(name)
                    if old:
                        self.spark.catalog.dropTempView(old)
                    self.checked_sinks[name] = sink
                    keep = True
                if traced:
                    self._trace_stream(name, group, q, spans, wall)
            except Exception as exc:  # a terminated stream counts as failed
                self.fail(f"{name} ({group})", exc)
            finally:
                if q is not None and q.isActive:
                    q.stop()
                if ckpt:
                    shutil.rmtree(ckpt, ignore_errors=True)
                if not keep:
                    self.spark.catalog.dropTempView(sink)
        return time.perf_counter() - t_pass, ops

    def _trace_stream(self, name, group, q, spans, wall) -> None:
        L, sc = self.layers, self.sc
        prog = list(q.recentProgress)
        d = [p["durationMs"] for p in prog]
        states = [s for p in prog for s in p.get("stateOperators", [])]
        last = prog[-1].get("stateOperators", []) if prog else []
        L.add("streaming.batches", sum(1 for p in prog if int(p["numInputRows"]) > 0))
        L.add("streaming.batch_s", sum(x.get("triggerExecution", 0) for x in d) / 1e3)
        L.add("streaming.add_batch_s", sum(x.get("addBatch", 0) for x in d) / 1e3)
        L.add("streaming.wal_commit_s",
              sum(x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d) / 1e3)
        L.add("streaming.state_commit_s", sum(int(s.get("commitTimeMs", 0)) for s in states) / 1e3)
        L.add("streaming.state_rows", sum(int(s.get("numRowsTotal", 0)) for s in last))
        L.add("streaming.state_bytes", sum(int(s.get("memoryUsedBytes", 0)) for s in last))
        L.add("streaming.rows_out",
              sum(int((p.get("sink") or {}).get("numOutputRows", 0) or 0) for p in prog))
        mods = T.module_stats(spans, sc)
        for m, st in mods.items():
            for k, v in st.items():
                L.add(f"{m}.{k}", v)
        ex = T.exec_stats(sc, str(q.runId))
        for k, v in ex.items():
            if k == "peak_exec_mem_bytes":
                L.peak(f"exec.{k}", v)
            else:
                L.add(f"exec.{k}", v)
        L.add("exec.run_s", wall)
        rdds, held = T.storage_held(sc)
        L.peak("storage.rdds_held", rdds)
        L.peak("storage.bytes_held", held)
        L.records.append({"op": f"{group}/{name}", "wall_s": wall, "exec": ex,
                          "progress": prog, "modules": mods, "spans": spans})

    def ingest_rate(self, groups, walls) -> float:
        return self.ingest_rows / self.ingest_s if self.ingest_s else 0.0

    def check(self) -> dict:
        """Compare each processor's output from the latest warm pass with
        its batch twin over the same tape."""
        from perfbench.check import diff, stream_twin

        failures = []
        for name in self.order:
            sink = self.checked_sinks.get(name)
            if sink is None:
                failures.append(f"{name} (batch-twin check): no completed warm pass")
                continue
            try:
                got, want = stream_twin(name, self.trades, self.spark.table(sink),
                                        self.last_ts_ms)
                why = diff(got.toPandas(), want.toPandas())
            except Exception as exc:
                traceback.print_exception(exc)
                why = _err(exc)
            finally:
                self.spark.catalog.dropTempView(sink)
            if why is not None:
                failures.append(f"{name} (batch-twin check): {why}")
        return {"attempted": len(self.order), "failed": len(failures), "failures": failures}


@dataclass(frozen=True)
class Workload:
    name: str
    tables: tuple[str, ...]
    operations: tuple[str, ...]
    runner_cls: type

    def runner(self, *args) -> Runner:
        return self.runner_cls(self, *args)


WORKLOADS = {
    w.name: w
    for w in (
        # latency-bound batch queries at small scale: the tape (normalize,
        # dedup, klines, windows, as-of joins, single-sort as-of spread, gold
        # labels), the hot-key tape (the skew gauge picks the time-sliced
        # as-of path), the star schema (relational aggregate, correlated
        # subquery) and the corpus (materialized LSH pair aggregates, media
        # metadata, IVF ANN with a trained quantizer)
        Workload(
            "tabular",
            ("events", "hot/events", "lineitem", "orders", "customer", "nation",
             "region", "supplier", "part", "documents", "embeddings"),
            (
                "q_kline_parse", "q_rsi", "q_asof_price", "q_effective_spread",
                "q_effective_spread@hot", "q_gold_label_balance",
                "q_pricing_summary", "q_waiting_suppliers",
                "q_doc_minhash_calibration", "q_multimodal_meta",
                "q_embed_ann_ivf_prod",
            ),
            BatchRunner,
        ),
        # state store and checkpoint log on the write side
        Workload(
            "stream",
            ("events",),
            ("stream_dedup", "stream_bars_1m", "stream_grid_returns"),
            StreamRunner,
        ),
    )
}
