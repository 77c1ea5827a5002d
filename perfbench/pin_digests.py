#!/usr/bin/env python3
"""Pin the `etl_queries` result digests for one input scale.

    python3 perfbench/pin_digests.py 0.01

Runs every query once, checks each result against the registry's DuckDB
oracle SQL on the same generated tables (columns sorted by name, rows by
all columns, floats within 1e-9, as tools/check_oracle.py does), and
only when every query matches writes `expected/etl_sf<scale>.json`,
which the benchmark compares each timed result against.
"""
import glob
import json
import os
import shutil
import sys
import tempfile
import time

import duckdb
import numpy as np

import datagen
import run


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def same(a, b):
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind != y.dtype.kind:
            return False
        if x.dtype.kind in "fc":
            if not np.allclose(x.astype(float).fillna(-9e99),
                               y.astype(float).fillna(-9e99), rtol=1e-9, atol=1e-9):
                return False
        elif not x.astype(str).equals(y.astype(str)):
            return False
    return True


def main(scale):
    classes, bench = run.build()
    os.makedirs(run.BUILD, exist_ok=True)
    d = tempfile.mkdtemp(prefix="pin-", dir=run.BUILD)
    try:
        data, out, work = (os.path.join(d, x) for x in ("data", "out", "work"))
        os.makedirs(out)
        os.makedirs(work)
        datagen.write(data, scale)
        run.run_jvm(f"{bench}:{classes}:{os.path.join(run.SPARK_JARS, '*')}", d, {
            "workload": "pin", "data": data, "work": work, "out": out,
            "seconds": 0, "trace": 0, "setups": 1, "t0": time.time() * 1000}, 600)
        con = duckdb.connect()
        for t in datagen.tables(0.001):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        digests = json.load(open(os.path.join(out, "digests.json")))
        bad = []
        for name in sorted(digests):
            sql = open(os.path.join(out, f"{name}.sql")).read()
            got = con.execute("SELECT * FROM read_parquet(?)",
                              [glob.glob(f"{out}/{name}/*.parquet")]).fetchdf()
            if not sql or not same(canon(got), canon(con.execute(sql).fetchdf())):
                bad.append(name)
            print(("FAIL " if name in bad else "ok   ") + f"{name} ({len(got)} rows)")
        if bad:
            sys.exit(f"{len(bad)} queries disagree with the oracle: {bad}")
        dest = os.path.join(run.HERE, "expected", f"etl_sf{scale:g}.json")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "w") as fh:
            json.dump(digests, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"{len(digests)} digests pinned to {dest}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main(float(sys.argv[1]))
