#!/usr/bin/env python3
"""Derives expected.json: each inventory key's row count and fingerprint
from its DuckDB twin (SparkEntry.oracleSql) over the generated tables.

Run once from the repository root after changing the inventory's keys,
table scale or generator; the benchmark compares every timed result
with these values.

    python3 perfbench/derive_expected.py

DuckDB writes each twin's result to parquet, and the benchmark JVM
fingerprints those files with the same code (Fingerprint.scala) that
fingerprints the timed results. HUGEINT columns are cast to BIGINT
first: DuckDB's parquet writer would turn them into DOUBLE.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen_tables  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    out = build.build_dir()
    classes, _ = build.build(out)
    work = os.path.join(out, "derive")
    shutil.rmtree(work, ignore_errors=True)
    java, home = build.java_cmd(classes, work)
    oracle_file = os.path.join(work, "oracle.json")
    subprocess.run(java + ["--oracle-out", oracle_file], check=True, cwd=home)
    with open(oracle_file) as f:
        oracle = json.load(f)
    tables = os.path.join(work, "tables")
    gen_tables.generate(tables, float(oracle["sf"]), int(oracle["data_seed"]))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    results = os.path.join(work, "results")
    os.makedirs(results)
    for key, sql in sorted(oracle["sql"].items()):
        rel = con.sql(sql.strip().rstrip(";"))
        cols = ", ".join(f'CAST("{c}" AS BIGINT) AS "{c}"' if str(t) == "HUGEINT" else f'"{c}"'
                         for c, t in zip(rel.columns, rel.types))
        rel.project(cols).write_parquet(os.path.join(results, f"{key}.parquet"))
    fp_file = os.path.join(work, "fingerprints.json")
    subprocess.run(java + ["--fingerprint-dir", results, "--out", fp_file], check=True, cwd=home)
    with open(fp_file) as f:
        keys = dict(sorted(json.load(f).items()))
    for key, v in keys.items():
        print(f"{key:28s} rows={v['rows']:<8s} fp={v['fp']}")
    with open(os.path.join(BENCH, "expected.json"), "w") as f:
        json.dump({"sf": oracle["sf"], "data_seed": oracle["data_seed"], "keys": keys}, f, indent=1)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
