"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry in ``__spark_entry__.py`` on Spark and its
``oracle_sql()`` twin on DuckDB at the given scale factor, then compares:
row count, column-name set, and order-insensitive values (columns sorted by
name, rows sorted lexicographically, exact match for non-floats, tiny-eps
for floats — stricter than a hash so mismatches are debuggable).

Usage:  python tools/check_oracle.py [--sf /root/testdata/sf0.01] [--only q_bars_1m,...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _fast_capable(df):
    """True when every column has a vectorizable canonical form (numeric,
    bool, datetime, or pure-string object) — lists/Decimals/bytes fall
    back to the reference per-cell path."""
    import pandas as pd

    for c in df.columns:
        s = df[c]
        if (pd.api.types.is_float_dtype(s) or pd.api.types.is_integer_dtype(s)
                or pd.api.types.is_bool_dtype(s)
                or pd.api.types.is_datetime64_any_dtype(s)):
            continue
        if s.dtype == object:
            kind = pd.api.types.infer_dtype(s, skipna=True)
            # kinds whose cells the reference path tags "v|str(cell)" —
            # floats are excluded (they'd tag "f|"), so str() is exact
            if kind in ("string", "empty", "boolean", "integer"):
                continue
        return False
    return True


def normalize_frame_fast(df):
    """Vectorized twin of normalize_frame for fast-capable frames: each
    cell becomes a type-tagged STRING ('N' null, 'f|<shortest-repr of the
    6-dp-rounded double>', 'v|<str>>') — the same equivalence classes as
    the reference tuples (both engines' float outputs are already
    6-dp-rounded by the r6 policy, so round-then-shortest-repr equality
    coincides with the reference's round-then-float equality; signed zero
    is normalized).  Rows are joined on the \\x1f unit separator and
    sorted as flat numpy strings — any deterministic total order yields
    the same multiset-equality verdict.  Per-cell Python is gone: the sf1
    grid queries (2.1M rows x 21 cols) drop from ~300 s to seconds.

    Injectivity of the joined encoding: every 'v'-tagged cell is LENGTH-
    PREFIXED ('v<len>|<payload>'), so a payload containing the \\x1f
    separator cannot shift cell boundaries (decode left-to-right: 'N'
    and 'f|…' end at the next separator — their alphabets exclude \\x1f —
    and a 'v' cell's extent is given by its length prefix).  Without the
    prefix, ('a\\x1fb', 'c') and ('a', 'b\\x1fc') would join identically —
    a false PASS in the correctness gate.  The prefix applies to ALL
    v-cells (ints included) so int 5 and string '5' stay EQUAL, matching
    the reference path's ('v', str(cell)) equivalence classes."""
    import numpy as np
    import pandas as pd

    def vtag(vals):
        lens = np.char.str_len(vals).astype("U")
        return np.char.add(
            np.char.add(np.char.add("v", lens), "|"), vals
        )

    cols = sorted(df.columns)
    parts = []
    for c in cols:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            v = np.round(s.to_numpy(dtype="float64"), 6)
            v = np.where(v == 0.0, 0.0, v)  # -0.0 == 0.0 in the reference
            col = np.char.add("f|", v.astype("U32"))
            col = np.where(np.isnan(s.to_numpy(dtype="float64")), "N", col)
        elif pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
            if s.isna().any():  # nullable Int64/boolean dtypes
                col = np.where(
                    s.isna().to_numpy(), "N",
                    vtag(s.astype(object).astype(str).to_numpy(dtype="U")),
                )
            else:
                col = vtag(s.to_numpy().astype("U"))
        elif pd.api.types.is_datetime64_any_dtype(s):
            # pd .astype(str) prints pd.Timestamp text — unit-independent
            col = np.where(
                s.isna().to_numpy(), "N",
                vtag(s.astype(str).to_numpy(dtype="U")),
            )
        else:  # pure-string object column (checked by _fast_capable)
            mask = s.isna().to_numpy()
            vals = s.fillna("").astype(str).to_numpy(dtype="U")
            col = np.where(mask, "N", vtag(vals))
        parts.append(col.astype("U"))
    if not parts:
        return len(df), cols, []
    rows = parts[0]
    for p in parts[1:]:
        rows = np.char.add(np.char.add(rows, "\x1f"), p)
    return len(df), cols, np.sort(rows).tolist()


def normalize_frame(df):
    """pandas DataFrame → (nrows, sorted cols, canonical sorted rows)."""
    import pandas as pd  # noqa: F401

    cols = sorted(df.columns)
    df = df[cols]

    def canon(v):
        if v is None:
            return ("N",)
        if isinstance(v, float):
            if math.isnan(v):
                return ("N",)
            return ("f", round(v, 6))
        if isinstance(v, (list, tuple)):
            return ("l", tuple(canon(x) for x in v))
        try:
            if v != v:  # NaN-like (pd.NA etc.)
                return ("N",)
        except Exception:
            pass
        return ("v", str(v))

    rows = sorted(tuple(canon(v) for v in row) for row in df.itertuples(index=False, name=None))
    return len(df), cols, rows


def connect_oracle(sf_dir: str):
    """DuckDB session configured the way every oracle consumer needs it —
    shared by this checker and tools/ab_normalize.py so the audit tool
    cannot drift onto differently-configured views.

    Large-SF sweeps: cap the oracle engine and give it a spill dir so a
    memory-hungry oracle plan degrades to disk instead of an OOM kill
    taking the whole sweep down (observed with max(STRUCT) aggregates
    at sf1 before they were rewritten to window dedups).  Spark-written
    tables are DIRECTORIES of part files (the .scale_data sets) — DuckDB
    needs the glob form for those."""
    con = duckdb.connect()
    con.sql("SET memory_limit='48GB'")
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--json", default=None,
                    help="also write per-query results to this JSON file")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from bitcoin_datapipeline_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = connect_oracle(args.sf)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}

    def record(name, status, dt, rows=None, detail=None):
        """One query's result; ``sec`` is its whole time, split into the
        Spark side (construct + collect), the DuckDB side and the
        canonical compare (each None when that step did not run)."""
        results[name] = {
            "status": status,
            "sec": round(dt, 1),
            "spark_sec": spark_sec,
            "duckdb_sec": duckdb_sec,
            "compare_sec": compare_sec,
            "rows": rows,
            "detail": detail,
        }

    for name, fn in qs.items():
        if only and name not in only:
            continue
        spark_sec = duckdb_sec = compare_sec = None
        t0 = time.time()
        try:
            frame = fn(spark, args.sf)
            sdf = frame.toPandas()
            # queries that retain checkpoint blocks (dedup_components,
            # and since r12 the materialized-sigs LSH consumers) expose a
            # lifecycle handle — release once materialized so a full
            # sweep leaves storage empty (no-op for everything else)
            from bitcoin_datapipeline_spark.operators.text import (
                release_components,
                release_lsh_sigs,
            )

            release_components(frame)
            release_lsh_sigs(frame)
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            record(name, "fail", time.time() - t0, detail="spark raised")
            n_fail += 1
            continue
        t_spark = time.time()
        spark_sec = round(t_spark - t0, 2)
        if name not in oracles:
            dt = time.time() - t0
            print(f"rows-only {name}: {len(sdf)} rows ({dt:.1f}s)")
            record(name, "rows_only", dt, rows=len(sdf))
            n_rows_only += 1
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb raised\n{traceback.format_exc()}")
            record(name, "fail", time.time() - t0, detail="duckdb raised")
            n_fail += 1
            continue
        t_duck = time.time()
        duckdb_sec = round(t_duck - t_spark, 2)

        # vectorized canonical compare when both frames allow it (the
        # reference per-cell path remains for list/Decimal columns and is
        # A/B-verified equivalent by tools/ab_normalize.py)
        if _fast_capable(sdf) and _fast_capable(ddf):
            sn, scols, srows = normalize_frame_fast(sdf)
            dn, dcols, drows = normalize_frame_fast(ddf)
        else:
            sn, scols, srows = normalize_frame(sdf)
            dn, dcols, drows = normalize_frame(ddf)
        compare_sec = round(time.time() - t_duck, 2)
        dt = time.time() - t0
        if sn != dn:
            print(f"FAIL {name}: rows spark={sn} duck={dn} ({dt:.1f}s)")
            record(name, "fail", dt, rows=sn, detail=f"rows spark={sn} duck={dn}")
            n_fail += 1
        elif scols != dcols:
            print(f"FAIL {name}: cols spark={scols} duck={dcols} ({dt:.1f}s)")
            record(name, "fail", dt, rows=sn, detail="column-set mismatch")
            n_fail += 1
        elif srows != drows:
            bad = sum(1 for a, b in zip(srows, drows) if a != b)
            print(f"FAIL {name}: {bad}/{sn} row mismatches ({dt:.1f}s)")
            for a, b in list(zip(srows, drows))[:500]:
                if a != b:
                    print(f"  spark: {a}\n  duck : {b}")
                    break
            record(name, "fail", dt, rows=sn, detail=f"{bad}/{sn} row mismatches")
            n_fail += 1
        else:
            print(f"PASS {name}: {sn} rows, {len(scols)} cols ({dt:.1f}s)")
            record(name, "pass", dt, rows=sn)
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if args.json:
        import json

        with open(args.json, "w") as fh:
            json.dump(
                {
                    "sf": args.sf,
                    "pass": n_pass,
                    "fail": n_fail,
                    "rows_only": n_rows_only,
                    "queries": results,
                },
                fh,
                indent=1,
            )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
