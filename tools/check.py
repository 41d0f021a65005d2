"""Local differential harness mirroring the driver's t2 correctness gate.

Runs each registered query on Spark and its oracle SQL on DuckDB over the
same parquet fixtures, then compares row count, column names/dtypes, and
order-insensitive values.

Usage:
    python -m tools.check [--sf /root/testdata/sf0.01] [name ...]
    python -m tools.check --prefix agg_
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

from hive_processor_spark import get_spark, oracles, queries
from hive_processor_spark.engine import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def reject_nonscalar(df: pd.DataFrame) -> None:
    """Fail loudly on list/dict/ndarray cell values.

    The external driver's canonicalizer sorts rows with pandas
    ``sort_values``-style machinery, which raises ``TypeError: unhashable
    type`` on ARRAY/MAP/STRUCT outputs — so any query emitting them is a
    guaranteed driver FAIL even though naive stringification compares fine
    locally. Mirror the driver: refuse them here too (round-2 verdict #2/#3).
    """
    for c in df.columns:
        if df[c].dtype == object and len(df):
            sample = df[c].head(50)
            for v in sample:
                if isinstance(v, (list, dict, set, np.ndarray)):
                    raise TypeError(
                        f"non-scalar output column {c!r}: {type(v).__name__} "
                        "values would crash the driver canonicalizer — "
                        "serialize to a sorted string (§2.3 discipline)"
                    )


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, datetimes at µs, rows sorted."""
    reject_nonscalar(df)
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.floor("us").astype("datetime64[us]")
    if len(df):
        key = df.astype(str).apply(lambda r: "\x00".join(r.values), axis=1)
        df = df.iloc[np.argsort(key.values, kind="stable")].reset_index(drop=True)
    return df


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        problems.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
        return problems
    s, o = canon(sdf), canon(odf)
    for c in s.columns:
        if str(s[c].dtype) != str(o[c].dtype):
            problems.append(f"dtype[{c}]: spark={s[c].dtype} oracle={o[c].dtype}")
    for c in s.columns:
        sv, ov = s[c].values, o[c].values
        if pd.api.types.is_float_dtype(s[c]) and pd.api.types.is_float_dtype(o[c]):
            both_nan = pd.isna(sv) & pd.isna(ov)
            eq = (sv == ov) | both_nan
            if not eq.all():
                close = np.isclose(
                    sv.astype(float), ov.astype(float), rtol=1e-9, atol=1e-12, equal_nan=True
                )
                bad = ~close
                if bad.any():
                    i = int(np.argmax(bad))
                    problems.append(
                        f"value[{c}] row {i}: spark={sv[i]!r} oracle={ov[i]!r}"
                    )
                else:
                    i = int(np.argmax(~eq))
                    problems.append(
                        f"CLOSE-only[{c}] row {i}: spark={sv[i]!r} oracle={ov[i]!r} (ulp drift — tighten!)"
                    )
        else:
            eq = pd.Series(sv).astype(str).values == pd.Series(ov).astype(str).values
            if not eq.all():
                i = int(np.argmax(~eq))
                problems.append(f"value[{c}] row {i}: spark={sv[i]!r} oracle={ov[i]!r}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--prefix", default=None)
    ap.add_argument(
        "--json-out",
        default=None,
        help="write per-query {status, rows, secs, problems} records to this "
        "path — the committed full-gate artifact (CHECK_r{N}.json)",
    )
    args = ap.parse_args()

    qs, ors = queries(), oracles()
    names = args.names or [
        n for n in qs if args.prefix is None or n.startswith(args.prefix)
    ]
    spark = get_spark(
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
    )
    con = duck_connect(args.sf)

    n_pass = n_fail = n_rowsonly = 0
    records: dict[str, dict] = {}
    for name in names:
        if name not in qs:
            print(f"?? {name}: not registered")
            records[name] = {"status": "fail", "problems": ["not registered"]}
            n_fail += 1
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            records[name] = {"status": "fail", "problems": ["spark raised"]}
            n_fail += 1
            continue
        if name not in ors:
            secs = round(time.time() - t0, 2)
            print(f"ROWS {name}: {len(sdf)} rows (Tier R, no oracle) [{secs}s]")
            records[name] = {"status": "rows-only", "rows": len(sdf), "secs": secs}
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(ors[name]).df()
        except Exception:
            print(f"FAIL {name}: oracle raised\n{traceback.format_exc()}")
            records[name] = {"status": "fail", "problems": ["oracle raised"]}
            n_fail += 1
            continue
        try:
            problems = compare(sdf, odf)
        except TypeError as e:
            problems = [f"canonicalizer rejected output: {e}"]
        secs = round(time.time() - t0, 2)
        if problems:
            print(f"FAIL {name} [{secs}s]")
            for p in problems[:6]:
                print(f"     {p}")
            records[name] = {"status": "fail", "rows": len(sdf), "secs": secs,
                             "problems": problems[:6]}
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows [{secs}s]")
            records[name] = {"status": "pass", "rows": len(sdf), "secs": secs}
            n_pass += 1
    print(f"\n== {n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail ==")
    if args.json_out:
        summary = {
            "sf": args.sf,
            "n_pass": n_pass,
            "n_rows_only": n_rowsonly,
            "n_fail": n_fail,
            "queries": records,
        }
        with open(args.json_out, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
        print(f"wrote {args.json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
