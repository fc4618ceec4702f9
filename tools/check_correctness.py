#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check_correctness.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify),
runs the matching oracle_sql.json entry in DuckDB with the sf tables
registered as views, sorts columns by name and rows by all columns,
and value-compares. Exit 1 on any mismatch.
"""
import datetime
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df: pd.DataFrame) -> pd.DataFrame:
    # pandas reads parquet date32 (Spark DATE) as object-of-datetime.date
    # while DuckDB returns datetime64 for the same values; the driver's
    # gate canonicalizes these together (q_retention passes it), so the
    # replica must too — promote date objects to datetime64 before any
    # kind comparison
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(
                df[c].dropna().iloc[0] if df[c].notna().any() else None,
                datetime.date):
            df[c] = pd.to_datetime(df[c])
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)

def kinds(df: pd.DataFrame):
    """Canonical dtype class per column: width-insensitive (int32==int64)
    but kind-sensitive (int != float != object), mirroring the driver's
    value-hash, which distinguishes e.g. a DuckDB HUGEINT window-sum
    (object/float) from Spark's BIGINT."""
    return [df[c].dtype.kind for c in df.columns]

def destring(df: pd.DataFrame) -> pd.DataFrame:
    # value-compare normalization, applied only AFTER kinds() matched
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df

def main():
    # optional 3rd arg: also write the driver-artifact-shaped JSON
    # (name -> {rows_match, schema_match, hash_match, spark_rows,
    # oracle_rows, err}) — the builder-run correctness twin the r18
    # verdict asked for after the driver's own CORRECTNESS_r18.json
    # arrived empty (next-round item #2)
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    json_out = sys.argv[3] if len(sys.argv) > 3 else None
    report = {}
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = []
    def record(name, rows_m, schema_m, hash_m, s_rows, o_rows, err):
        report[name] = {"rows_match": rows_m, "schema_match": schema_m,
                        "hash_match": hash_m, "spark_rows": s_rows,
                        "oracle_rows": o_rows, "err": err}
    for name in sorted(oracles):
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            failures.append((name, "no spark result written"))
            record(name, False, False, False, 0, None,
                   "no spark result written")
            continue
        spark_df = canon(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            duck_df = canon(con.sql(oracles[name]).df())
        except Exception as e:
            failures.append((name, f"oracle error: {e}"))
            record(name, False, False, False, len(spark_df), None,
                   f"oracle error: {e}"[:300])
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            failures.append((name, f"schema: spark={list(spark_df.columns)} duck={list(duck_df.columns)}"))
            record(name, len(spark_df) == len(duck_df), False, False,
                   len(spark_df), len(duck_df), "schema mismatch")
            continue
        if len(spark_df) != len(duck_df):
            failures.append((name, f"rows: spark={len(spark_df)} duck={len(duck_df)}"))
            record(name, False, True, False, len(spark_df), len(duck_df),
                   "row count mismatch")
            continue
        if kinds(spark_df) != kinds(duck_df):
            failures.append((name, "dtype kinds: spark="
                             f"{list(zip(spark_df.columns, kinds(spark_df)))} "
                             f"duck={list(zip(duck_df.columns, kinds(duck_df)))}"))
            record(name, True, False, False, len(spark_df), len(duck_df),
                   "dtype kind mismatch")
            continue
        try:
            pd.testing.assert_frame_equal(destring(spark_df), destring(duck_df),
                                          check_dtype=False, check_exact=True)
            print(f"PASS {name} ({len(spark_df)} rows)")
            record(name, True, True, True, len(spark_df), len(duck_df),
                   None)
        except AssertionError as e:
            failures.append((name, str(e)[:500]))
            record(name, True, True, False, len(spark_df), len(duck_df),
                   "value mismatch")
    for name, msg in failures:
        print(f"FAIL {name}: {msg}")
    print(f"{len(oracles)-len(failures)}/{len(oracles)} queries match")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"wrote {json_out} ({len(report)} entries)")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
