#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate.

Usage: python3 tools/verify_local.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
corresponding oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB over
the same sf tables, and compares: schema (column names), LOGICAL COLUMN
TYPES, row count, and the multiset of rows (sorted by all columns, values
compared exactly; floats must match to the last bit unless FLOAT_TOL is set).

Each query prints one verdict line: `OK` (match), `FAIL` (a mismatch in
schema, types, row count or values) or `ERROR` (DuckDB raised while reading
the dump or running the oracle: out of memory, disk full, a bad statement).
An error says nothing about the engine's result, so it is never reported as
a mismatch. The summary counts matches and errors; the exit status is 1 if
any query failed or errored.

The type check exists because the driver's hash compare is type-sensitive
while Python value compare is not: DuckDB `sum(BIGINT)` is HUGEINT, whose
values fetch as plain ints locally (== the Spark BIGINT) yet hash differently
in the driver. Round 5 shipped exactly that skew in repetition_score; every
oracle must now produce the same DuckDB logical type as the Spark parquet.

Dev-only tool (mirrors the driver harness); the shipped engine is pure
Scala/Spark.
"""
import datetime
import json
import os
import math
import shutil
import sys
import tempfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
FLOAT_TOL = 0.0  # driver compare is assumed exact; keep 0

# Logical types considered interchangeable for the driver's value hash.
# Timestamps only: Spark writes parquet TIMESTAMP as µs-adjusted-to-UTC,
# which DuckDB surfaces as TIMESTAMP WITH TIME ZONE, while the same instants
# computed by oracle SQL over the raw tables are plain TIMESTAMP — both sides
# carry identical µs-since-epoch values. Integer widths are NOT aliased:
# BIGINT vs HUGEINT is precisely the skew this check exists to catch.
_TYPE_ALIASES = [
    {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
]


def types_compatible(a, b):
    if a == b:
        return True
    return any(a in s and b in s for s in _TYPE_ALIASES)


def norm_val(v):
    """Normalize a fetched value for comparison. Timestamps: the alias
    above admits TIMESTAMP vs TIMESTAMP WITH TIME ZONE, but DuckDB fetches
    those as naive vs tz-aware datetimes, which NEVER compare equal in
    Python — normalize both to epoch microseconds (naive treated as UTC,
    which is what Spark's µs-adjusted-to-UTC parquet encoding carries)."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        # timedelta fields are exact ints; float .timestamp() loses µs
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    return v


def main(sf_dir, out_dir):
    # DuckDB spills to ./.tmp under the cwd by default; keep the spill
    # beside the dump instead, and remove it on exit
    spill = tempfile.mkdtemp(prefix=".duckdb-spill-", dir=out_dir)
    try:
        return compare(sf_dir, out_dir, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def compare(sf_dir, out_dir, spill):
    con = duckdb.connect(config={"temp_directory": spill})
    for t in TABLES:
        # driver testdata is one file per table; generated scale-up dirs
        # (GenScale) are <table>.parquet/part-*.parquet directories
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = 0
    failures = []
    errors = []
    for name, sql in sorted(oracle.items()):
        try:
            grel = con.sql(
                f"SELECT * FROM parquet_scan('{out_dir}/{name}/*.parquet')")
            got_cols = list(grel.columns)
            got_types = [str(t) for t in grel.types]
            got = grel.fetchall()
            erel = con.sql(sql)
            exp_cols = list(erel.columns)
            exp_types = [str(t) for t in erel.types]
            exp = erel.fetchall()
        except Exception as e:
            errors.append((name, str(e)))
            continue
        if sorted(got_cols) != sorted(exp_cols):
            failures.append((name, f"schema: spark={sorted(got_cols)} oracle={sorted(exp_cols)}"))
            continue
        gmap = dict(zip(got_cols, got_types))
        emap = dict(zip(exp_cols, exp_types))
        bad_types = [(c, gmap[c], emap[c]) for c in exp_cols
                     if not types_compatible(gmap[c], emap[c])]
        if bad_types:
            failures.append((name, "type: " + "; ".join(
                f"{c}: spark={g} oracle={e}" for c, g, e in bad_types)))
            continue
        # reorder spark columns into oracle column order; sort with a
        # None-safe key (NULLs first) — Python can't compare None to str
        def skey(row):
            return tuple((v is not None, v) for v in row)
        perm = [got_cols.index(c) for c in exp_cols]
        got_r = sorted((tuple(norm_val(r[i]) for i in perm) for r in got), key=skey)
        exp_r = sorted((tuple(norm_val(v) for v in r) for r in exp), key=skey)
        if len(got_r) != len(exp_r):
            failures.append((name, f"rowcount: spark={len(got_r)} oracle={len(exp_r)}"))
            continue
        bad = None
        for a, b in zip(got_r, exp_r):
            for x, y in zip(a, b):
                if isinstance(x, float) and isinstance(y, float):
                    if x != y and not (math.isnan(x) and math.isnan(y)):
                        if FLOAT_TOL and abs(x - y) <= FLOAT_TOL:
                            continue
                        bad = (a, b, x, y)
                        break
                elif x != y:
                    bad = (a, b, x, y)
                    break
            if bad:
                break
        if bad:
            failures.append((name, f"value: spark_row={bad[0]} oracle_row={bad[1]} ({bad[2]!r} != {bad[3]!r})"))
        else:
            n_ok += 1
            print(f"OK    {name} ({len(got_r)} rows)")
    for name, msg in failures:
        print(f"FAIL  {name}: {msg}")
    for name, msg in errors:
        print(f"ERROR {name}: {msg}")
    print(f"\n{n_ok}/{len(oracle)} queries match, {len(errors)} errors")
    return 0 if not failures and not errors else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
