"""Benchmark for the engine: workloads, answer checks, per-layer trace.

Run one workload (from the root of a checkout, or from anywhere):

    python3 perfbench/run.py --workload tabular --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/workloads.py``): ``tabular`` (batch queries over
the tape, the star schema and the corpus) and ``stream`` (checkpointed
streaming processors).  The seed generates the inputs (``perfbench/gen.py``)
and orders the operations; generated inputs are cached per seed under
``.bench_run/``, which also holds Spark's local dir, warehouse, checkpoints,
stream input files, DuckDB answers and the result record of every run.

One run: set up (engine import, session, table reads, registry) once from
process start and five more times in the same JVM; one cold pass over the
workload's operations; warm passes until ``--seconds`` have elapsed (two
at least); then the answers of the latest pass are checked (batch: against
the DuckDB oracle; stream: against batch twins).  With ``--trace 0`` the last stdout
line carries the end-to-end metrics; with ``--trace 1`` warm passes
alternate untraced and traced, and the line carries the per-layer metrics
(read from Spark's status store and from spans recorded around the
engine's public functions) plus the tracing overhead.

Compare two sets of runs (each a directory of result records):

    python3 perfbench/run.py compare DIR_A DIR_B
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".bench_run")
SETUP_REPS = 5
WATCHDOG_S = 170  # a run must end within 180 s; a hung one exits non-zero


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- environment -------------------------------------------------------------
def prepare_environment() -> dict[str, str]:
    """Route every temporary path of Spark, the JVM, the Python workers and
    DuckDB under the run directory, and put the checkout on the workers'
    import path, so a run works from any directory and writes nowhere else."""
    dirs = {k: os.path.join(RUN_DIR, k) for k in ("tmp", "local", "warehouse",
                                                  "ckpt", "derby", "results",
                                                  "traces", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    java_opts = (f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['derby']}"
                 " -XX:-UsePerfData")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "JAVA_TOOL_OPTIONS": java_opts,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                f"--conf spark.local.dir={dirs['local']}",
                f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
                f"--conf spark.checkpoint.dir={dirs['ckpt']}",
                f"--conf 'spark.driver.extraJavaOptions={java_opts}'",
                "--conf spark.ui.retainedJobs=100000",
                "--conf spark.ui.retainedStages=100000",
                "pyspark-shell",
            ]
        ),
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return dirs


# -- set-up --------------------------------------------------------------------
def purge_engine_modules() -> None:
    for name in list(sys.modules):
        if name == "__spark_entry__" or name.startswith("bitcoin_datapipeline_spark"):
            del sys.modules[name]


def setup(wl, data_dir: str, trace: bool):
    """One set-up: (re)import the engine and its registry, build the
    session, read the workload's tables.  Returns the session, the entry
    module, the tracer (or None) and the seconds ``get_spark`` took."""
    purge_engine_modules()
    tracer = None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()  # before __spark_entry__ is imported
    import __spark_entry__ as entry
    from bitcoin_datapipeline_spark.session import get_spark
    from bitcoin_datapipeline_spark.tables import table

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t0
    for t in wl.tables:
        sub, name = os.path.split(t)
        table(spark, os.path.join(data_dir, sub) if sub else data_dir, name).schema  # noqa: B018
    entry.queries()
    return spark, entry, tracer, session_s


def warm_jvm(spark) -> None:
    """One generic shuffle aggregate collected through Arrow, so the JIT
    warm-up of Spark itself lands in the first set-up rather than in the
    first query of the cold pass (which then shows the workload's own
    first-run costs: codegen, the skew gauge, quantizer training)."""
    spark.range(0, 200_000, 1, 4).selectExpr("id % 97 AS k", "id").groupBy(
        "k"
    ).sum("id").toPandas()


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # still running after 30 s
            proc.kill()
            proc.wait()


def start_watchdog() -> threading.Timer:
    def expire() -> None:
        log(f"perfbench: run exceeded {WATCHDOG_S}s, aborting")
        import signal

        try:
            with open(f"/proc/{os.getpid()}/task/{os.getpid()}/children") as fh:
                for pid in fh.read().split():
                    os.kill(int(pid), signal.SIGKILL)
        finally:
            os._exit(3)

    timer = threading.Timer(WATCHDOG_S, expire)
    timer.daemon = True
    timer.start()
    return timer


# -- reporting -----------------------------------------------------------------
def percentile_tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with fewer than eleven samples, the maximum."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def write_atomic(path: str, payload: dict) -> None:
    """Write a JSON record atomically; a failure is reported, never raised,
    so reporting cannot abort a finished run."""
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(payload, fh, indent=1, default=str)
        os.replace(tmp, path)
    except Exception:  # reporting boundary
        log(f"perfbench: could not write {path}:\n{traceback.format_exc()}")


def print_report(title: str, metrics: dict[str, dict]) -> None:
    try:
        print(f"# {title}")
        for name, m in metrics.items():
            print(f"{name:<36} {m['value']:>16.6g} {m['unit']}")
    except Exception:  # reporting boundary
        log(f"perfbench: report failed:\n{traceback.format_exc()}")


# -- main --------------------------------------------------------------------
def run(args) -> int:
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"perfbench: no engine at {ROOT} (__spark_entry__.py missing)")
        return 2
    dirs = prepare_environment()
    from perfbench import gen, workloads
    from perfbench.proc import PeakMemory

    wl = workloads.WORKLOADS[args.workload]
    data_dir, info, gen_s = gen.generate(wl.name, args.seed, dirs["data"])
    trace = bool(args.trace)

    spark = None
    try:
        with PeakMemory() as mem:  # the program's memory: set-up and timed passes
            setups, session_starts = [], []
            launch_s = None
            entry = tracer = None
            for i in range(SETUP_REPS + 1):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark, entry, tracer, session_s = setup(wl, data_dir, trace)
                t1 = time.perf_counter()
                session_starts.append(session_s)
                if i == 0:
                    warm_jvm(spark)
                    launch_s = time.perf_counter() - T_PROCESS - gen_s
                else:
                    setups.append(t1 - t0)
            log(f"phase generate {gen_s:.2f}s")
            runner = wl.runner(spark, entry, data_dir, info, args.seed, dirs, tracer)
            log(f"phase setup done at {time.perf_counter() - T_PROCESS:.2f}s")
            runner.prepare()
            result = runner.measure(args.seconds, trace)
            log(f"phase measure done at {time.perf_counter() - T_PROCESS:.2f}s")
        peak_rss_mb = mem.peak_kb / 1024.0
        checks = runner.check()
        log(f"phase check done at {time.perf_counter() - T_PROCESS:.2f}s")
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()

    attempted = result["attempted"] + checks["attempted"]
    failed = result["failed"] + checks["failed"]
    failures = result["failures"] + checks["failures"]
    error_rate = failed / attempted if attempted else 1.0
    tail, tail_pct, tail_n = percentile_tail(result["op_s"])
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_suite_s": (result["cold_suite_s"], "s"),
        "suite_s": (statistics.median(result["suite_s"]), "s"),
        "op_p50_s": (statistics.median(result["op_s"]), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "ingest_rows_per_s": (result["ingest_rows_per_s"], "rows/s"),
    }
    if trace:
        layer = dict(result["layers"])
        layer["session.start_s"] = (statistics.median(session_starts[1:]), "s")
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}

    details = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(trace),
        "generate_s": gen_s,
        "launch_s": launch_s,
        "inputs": info.get("rows"),
        "setup_samples_s": setups,
        "op_tail_s": tail,
        "op_tail_percentile": tail_pct,
        "op_samples": tail_n,
        "warm_passes": len(result["suite_s"]),
        "error_rate": error_rate,
        "failures": failures,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "metrics": metrics,
    }
    if trace and metrics["entry.build_s"]["value"] > 0:  # batch workloads
        # where a traced operation's time goes, and how many stages ran one task
        parts = {k: metrics[k]["value"] for k in ("entry.build_s", "catalyst.plan_s", "exec.run_s")}
        total = sum(parts.values())
        details["profile"] = {k: v / total for k, v in parts.items()}
        details["profile"]["single_task_stage_share"] = (
            metrics["exec.single_task_stages"]["value"] / max(metrics["exec.stages"]["value"], 1.0))
    if trace:
        details["not_exercised"] = sorted(
            k.removesuffix(".calls")
            for k, m in metrics.items()
            if k.endswith(".calls") and m["value"] == 0
        )
    stamp = time.strftime("%Y%m%dT%H%M%S")
    write_atomic(
        os.path.join(dirs["results"], f"{wl.name}-s{args.seed}-t{int(trace)}-{stamp}-{os.getpid()}.json"),
        details,
    )
    if trace and result.get("records"):
        write_atomic(
            os.path.join(dirs["traces"], f"{wl.name}-s{args.seed}-{stamp}-{os.getpid()}.json"),
            {"workload": wl.name, "seed": args.seed, "operations": result["records"]},
        )
    print_report(f"{wl.name} seed={args.seed} trace={int(trace)}", metrics)
    print(f"# attempted={attempted} failed={failed} error_rate={error_rate:.6g}"
          f" op_tail_s={tail:.6g} (p{tail_pct:.1f} of {tail_n} samples)")
    if trace:
        if "profile" in details:
            print("# traced pass shares: " + " ".join(
                f"{k}={v:.3f}" for k, v in details["profile"].items()))
        print(f"# layers not exercised by this workload: {', '.join(details['not_exercised'])}")
    for f in failures:
        print(f"# FAILED {f}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    sys.path.insert(0, ROOT)
    if argv[:1] == ["compare"]:
        from perfbench.compare import main as compare_main

        return compare_main(argv[1:])
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    start_watchdog()
    try:
        return run(args)
    except Exception:
        log(f"perfbench: run failed:\n{traceback.format_exc()}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
