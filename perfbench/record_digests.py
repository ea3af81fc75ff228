#!/usr/bin/env python3
"""Re-record query_digests.tsv after checking every query against DuckDB.

Usage, from the root of a checkout: python3 perfbench/record_digests.py

Runs each query_mix query once on the generated tables, writes its result
as parquet, runs the query's registered oracle SQL (SparkEntry.oracleSql)
in DuckDB over the same tables, and compares them exactly: columns sorted
by name, rows sorted, equal values and equal dtype kinds. Only when every
query matches are the digests written. Needs the duckdb and pandas Python
packages; the benchmark run itself does not.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def main():
    run.build()
    data = run.tables()
    out = os.path.join(run.BUILD, "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    with open(run.LAUNCH) as fh:
        lines = fh.read().splitlines()
    subprocess.run(["java", run.JVM_HEAP] + lines[1:] +
                   [f"-Dlog4j.configurationFile={run.HERE}/log4j2.properties",
                    f"-Djava.io.tmpdir={out}/tmp", "-cp", lines[0],
                    "perfbench.Main", "--record", data, out], check=True, cwd=out)
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for f in os.listdir(data):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    bad = 0
    digests = [l.split("\t")[0] for l in open(os.path.join(out, "digests.tsv")) if l.strip()]
    for q in digests:
        if q not in oracle:
            print(f"FAIL {q}: no oracle SQL"); bad += 1; continue
        s = normalize(pd.read_parquet(os.path.join(out, q)))
        d = normalize(con.execute(oracle[q]).df())
        same = (list(s.columns) == list(d.columns) and len(s) == len(d) and
                all(s[c].dtype.kind == d[c].dtype.kind for c in s.columns) and
                s.astype(object).where(s.notna(), None).equals(
                    d.astype(object).where(d.notna(), None)))
        print(f"{'PASS' if same else 'FAIL'} {q} ({len(s)} rows)")
        bad += not same
    if bad:
        sys.exit(f"{bad} queries disagree with DuckDB; digests not recorded")
    shutil.copy(os.path.join(out, "digests.tsv"), os.path.join(run.HERE, "query_digests.tsv"))
    shutil.rmtree(out)
    print("query_digests.tsv recorded")


if __name__ == "__main__":
    main()
