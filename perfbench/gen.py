"""Seeded input generator for the benchmark workloads.

Every table is drawn from ``numpy.random.default_rng(seed)`` and written as
parquet with the column layout the engine's ``tables.table`` reader and the
DuckDB oracle views expect (``events.ts`` as TIMESTAMP(MICROS), TPC-H-ish
star schema, ``documents`` with planted near-duplicates, unit-norm
``embeddings``).  The same seed always gives the same inputs; the program
under test receives only the written directory.

Outputs are cached by (workload, seed) under the run directory, so a repeated
seed costs nothing; the generation time of a fresh seed is returned to the
caller and reported apart from set-up time.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts.  Small on purpose: at these sizes most stages run one task,
# so the batch workloads measure construction, planning and stage latency
# (the regime the engine's headline runs in), and a whole run fits well
# inside its time budget on a 4-core host.
TABULAR_EVENTS = 10_000
HOT_EVENTS = 10_000
HOT_SHARE = 0.9  # well past the engine's 0.5 skew-gauge threshold
STREAM_EVENTS = 24_000
STREAM_SPAN_S = 3600  # keeps the streaming per-second grid small
STREAM_FILES = 8
CORPUS_DOCS = 300
CORPUS_VECTORS = 1_000
EMBED_DIMS = 64
TPCH_CUSTOMERS = 1_000  # sf0.007-sized star schema

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EPOCH_2024_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
WORDS = np.array(
    (
        "join hash row batch scan column customer filter small slow merge order "
        "vector line table data agg value key stream window a spark part group "
        "big sort query fast the"
    ).split()
)
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
CACHED_SEEDS_PER_WORKLOAD = 4


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def events_table(rng: np.random.Generator, n: int, span_us: int,
                 hot_share: float | None = None) -> pa.Table:
    """The generic event tape the engine normalizes into trades and quotes:
    monotone ids (the planted duplicate/maker/source patterns are id
    residues), sorted uniform timestamps, five event types (symbols).
    With ``hot_share``, one seed-chosen type carries that share of the
    events and the other four split the rest evenly."""
    event_id = np.arange(n, dtype=np.int64)
    ts = np.sort(rng.integers(0, span_us, n)) + EPOCH_2024_US
    p = None
    if hot_share is not None:
        p = np.full(len(EVENT_TYPES), (1.0 - hot_share) / (len(EVENT_TYPES) - 1))
        p[rng.integers(0, len(EVENT_TYPES))] = hot_share
    etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=p)]
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": event_id,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, n * 15 // 1000), n).astype(np.int64),
            "event_type": pa.array(etype, pa.string()),
            "value": value,
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k], pa.string()),
        }
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start_days: int, n_days: int, n: int):
    day0 = np.datetime64("1995-01-01", "D") + start_days
    d = day0 + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def tpch_tables(rng: np.random.Generator, n_cust: int) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema (per customer: 10 orders, 40 line items,
    4/3 parts, 1/15 supplier) with uniform FKs."""
    n_supp, n_part = n_cust // 15, n_cust * 4 // 3
    n_ord, n_li = n_cust * 10, n_cust * 40
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    adj = np.array("red blue small hot old new big green".split())
    noun = np.array("widget bolt ring plate rod anvil gear pipe".split())
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": seg[rng.integers(0, 5, n_cust)],
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": np.char.add(
                    np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                    noun[rng.integers(0, 8, n_part)],
                ),
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": np.array(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
                )[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _dates(rng, 0, 2405, n_ord),
                "o_orderpriority": np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                )[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _dates(rng, 1, 2500, n_li),
            }
        ),
    }
    return out


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Token soup over a 30-word vocabulary, 10-100 tokens per document,
    with 5 % planted near-duplicates (an earlier text plus a ``dup``
    token) — the shape the shingle/LSH/BM25 families are written for."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dims: int) -> pa.Table:
    m = rng.standard_normal((n, dims)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _build(workload: str, seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed % 2**63, sum(map(ord, workload))])
    info: dict = {}
    tables: dict[str, pa.Table] = {}
    if workload == "tabular":
        tables["events"] = events_table(rng, TABULAR_EVENTS, 30 * DAY_US)
        tables.update(tpch_tables(rng, TPCH_CUSTOMERS))
        tables["documents"] = documents_table(rng, CORPUS_DOCS)
        tables["embeddings"] = embeddings_table(rng, CORPUS_VECTORS, EMBED_DIMS)
        # a second tape where one symbol dominates, so the skew gauge sends
        # the adaptive as-of queries down their time-sliced path
        tables["hot/events"] = events_table(rng, HOT_EVENTS, 30 * DAY_US, HOT_SHARE)
    elif workload == "stream":
        ev = events_table(rng, STREAM_EVENTS, STREAM_SPAN_S * 1_000_000)
        tables["events"] = ev
        # the seed sets the micro-batch boundaries: STREAM_FILES time-ordered
        # chunks cut at seeded row positions (snapped to whole seconds when
        # the files are written)
        cuts = np.sort(rng.choice(np.arange(1, STREAM_EVENTS), STREAM_FILES - 1,
                                  replace=False))
        info["file_cuts"] = cuts.tolist()
    else:
        raise ValueError(f"unknown workload {workload!r}")
    for name, t in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _write(t, path)
    info["rows"] = {name: t.num_rows for name, t in tables.items()}
    return info


def generate(workload: str, seed: int, cache_root: str) -> tuple[str, dict, float]:
    """Return (data_dir, info, seconds spent generating) for one workload
    and seed, generating into ``cache_root`` unless already cached."""
    final = os.path.join(cache_root, f"{workload}-{seed}")
    meta = os.path.join(final, "info.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return final, json.load(fh), 0.0
    t0 = time.perf_counter()
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = _build(workload, seed, tmp)
    with open(os.path.join(tmp, "info.json"), "w") as fh:
        json.dump(info, fh)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    _prune(cache_root, workload, keep=final)
    return final, info, time.perf_counter() - t0


def _prune(cache_root: str, workload: str, keep: str) -> None:
    """Keep only the most recently generated seeds of one workload."""
    dirs = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if d.startswith(f"{workload}-") and ".tmp" not in d
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[CACHED_SEEDS_PER_WORKLOAD:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
