#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: oracle_check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (Spark result) and runs the
matching SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the
parquet tables in <sfDir>. Compares: row count, schema (column names),
and exact values after sorting columns by name and rows by all columns.

This is a DEV TOOL ONLY (driver-side python deps); the Scala library has
no dependency on it.
"""
import json
import sys
import glob
import math

import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for stable compare
    import datetime
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object and len(df) and isinstance(
                df[c].dropna().iloc[0] if df[c].dropna().size else None,
                datetime.date):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        a = list(a) if a is not None else None
        b = list(b) if b is not None else None
        if a is None or b is None or len(a) != len(b):
            return False
        return all(values_equal(x, y) for x, y in zip(a, b))
    return a == b


def main(sf_dir: str, out_dir: str) -> int:
    # imported here so norm/values_equal load without DuckDB
    import duckdb
    con = duckdb.connect()
    import os
    for t in TABLES:
        # driver testdata ships single files; ScaleSynth corpora are
        # Spark-written DIRECTORIES of part files — glob those
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        if t == "events":
            # Driver testdata stores ts as TIMESTAMP(NANOS); a
            # Spark-written synth corpus stores BIGINT nanos (Spark 4 has
            # no nanos type — graft reads with nanosAsLong and normalizes
            # in Tables.events: timestamp_micros(ts DIV 1000)). Mirror
            # that normalization here so ts-based oracles run unchanged
            # at every rung of the scale ladder.
            # fetchone() is None on an empty events table (ADVICE r14):
            # guard it so the whole oracle gate doesn't crash on a corpus
            # with no events rows — the view rewrite is just skipped.
            row = con.execute(
                "SELECT typeof(ts) FROM events LIMIT 1").fetchone()
            if row is not None and row[0] == "BIGINT":
                con.execute("DROP VIEW events")
                con.execute(
                    "CREATE VIEW events AS SELECT event_id, "
                    "make_timestamp(ts // 1000) AS ts, user_id, "
                    f"event_type, value, props FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            exp = norm(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns spark={list(got.columns)} duckdb={list(exp.columns)}")
            n_fail += 1
            continue
        # dtype-sensitive, like the driver's hash compare: an uncast DuckDB
        # SUM() comes back as HUGEINT (object/float dtype) and must fail
        # here even when the values look equal.
        bad_dtypes = [(c, str(got[c].dtype), str(exp[c].dtype))
                      for c in got.columns
                      if str(got[c].dtype) != str(exp[c].dtype)]
        if bad_dtypes:
            print(f"FAIL {name}: dtypes (col, spark, duckdb): {bad_dtypes}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows spark={len(got)} duckdb={len(exp)}")
            n_fail += 1
            continue
        bad = None
        for i in range(len(got)):
            for c in got.columns:
                if not values_equal(got[c].iloc[i], exp[c].iloc[i]):
                    bad = (i, c, got[c].iloc[i], exp[c].iloc[i])
                    break
            if bad:
                break
        if bad:
            i, c, g, e = bad
            print(f"FAIL {name}: row {i} col {c}: spark={g!r} duckdb={e!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
