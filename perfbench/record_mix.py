#!/usr/bin/env python3
"""Record the analytics_mix expected values, checked against DuckDB.

    python3 perfbench/record_mix.py [--sf 0.01 --sf 0.001]

For each scale factor: builds the benchmark, generates the tables, runs
every mix line once in Spark (`perfbench.Main --record`), runs the
line's oracle SQL (`SparkEntry.oracleSql`) in DuckDB over the same
parquet files, and compares the two row multisets value by value
(columns sorted by name, floats to 1e-9). Only if every line matches
does it write the row counts and the Spark-side order-insensitive
checksums to `perfbench/expected/mix.json`, which the benchmark's
runtime check reads.
"""
import argparse
import glob
import json
import math
import os
import sys
import time

import duckdb

import run

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def rows_of(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if data else []


def same_cell(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def sort_key(row):
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)


def compare(spark_tbl, duck_tbl):
    sc, sr = rows_of(spark_tbl)
    dc, dr = rows_of(duck_tbl)
    if sc != dc:
        return f"columns {sc} vs oracle {dc}"
    if len(sr) != len(dr):
        return f"{len(sr)} rows vs oracle {len(dr)}"
    for a, b in zip(sorted(sr, key=sort_key), sorted(dr, key=sort_key)):
        if len(a) != len(b) or not all(same_cell(x, y) for x, y in zip(a, b)):
            return f"row {a} vs oracle {b}"
    return None


def record(sf, classes):
    data = run.tables(sf)
    out = os.path.join(run.BUILD, "record", f"sf{sf}")
    os.makedirs(out, exist_ok=True)
    code, stdout = run.launch(classes, os.path.join(run.BUILD, "work", f"record-{sf}"),
                              1800, ["--record", out, "--data", os.path.dirname(data),
                                     "--mix-sf", sf])
    if code != 0:
        sys.exit(f"record run for sf{sf} exited {code}")
    with open(os.path.join(out, "record.json")) as f:
        rec = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = 0
    for line, r in rec.items():
        files = sorted(glob.glob(os.path.join(out, line, "*.parquet")))
        spark_tbl = con.execute(f"SELECT * FROM read_parquet({json.dumps(files)})").arrow()
        duck_tbl = con.execute(r["oracle_sql"]).arrow()
        err = compare(spark_tbl, duck_tbl)
        print(f"[{'OK' if err is None else 'FAIL'}] sf{sf} {line}: {r['rows']} rows"
              + ("" if err is None else f" — {err}"))
        bad += err is not None
    if bad:
        sys.exit(f"{bad} lines disagree with their DuckDB oracle at sf{sf}")
    return {line: {"rows": r["rows"], "checksum": r["checksum"]} for line, r in rec.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", action="append")
    sfs = ap.parse_args().sf or ["0.01", "0.001"]
    classes = run.build()
    path = os.path.join(run.HERE, "expected", "mix.json")
    expected = {}
    if os.path.exists(path):
        with open(path) as f:
            expected = json.load(f)
    for sf in sfs:
        expected[f"sf{sf}"] = record(sf, classes)
    expected["provenance"] = {
        "recorded_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "git_sha": run.source_id(),
        "generator_seed": run.GEN_SEED,
        "duckdb": duckdb.__version__,
        "checked": "every row of every line equals its DuckDB oracle",
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
