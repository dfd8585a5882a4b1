#!/usr/bin/env python3
"""Regenerates the expected results in query_mix.json.

Usage (from the repository root): python3 perfbench/make_digests.py

Runs every query of the frozen list once on the benchmark's data set,
records its row count and order-insensitive digest, and cross-checks the
Spark result against the query's DuckDB oracle (SparkEntry.oracleSql)
where one exists. Only a result the oracle confirms keeps its digest;
queries without an oracle are checked on row count alone. Exits non-zero,
leaving query_mix.json untouched, if any oracle disagrees.
"""
import json
import math
import pathlib
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    """Comparable form of one cell, shared by both engines' frames."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "tolist"):
        return cell(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float) and v == int(v) and abs(v) < 2 ** 53:
        return int(v)
    return v


def rows(df):
    df = df[sorted(df.columns)]
    return sorted((tuple(cell(v) for v in r) for r in df.itertuples(index=False)),
                  key=repr)


def main():
    spec_path = HERE / "query_mix.json"
    spec = json.loads(spec_path.read_text())
    data = HERE / spec["data"]
    out = build.OUT / "digests"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    jar = build.build()
    subprocess.run(build.java_command(jar, "perfbench.Main", [
        "--mode", "digests", "--bench-dir", str(HERE), "--out", str(out)]),
        cwd=build.ROOT, check=True)
    got = json.loads((out / "digests.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for q in spec["queries"]:
        name = q["name"]
        g = got[name]
        q["rows"] = g["rows"]
        q["digest"] = None
        if "oracle_sql" not in g:
            print(f"rows-only {name}: {g['rows']} rows")
            continue
        spark_df = pd.read_parquet(out / "results" / name)
        duck_df = con.execute(g["oracle_sql"]).df()
        same = (sorted(spark_df.columns) == sorted(duck_df.columns)
                and rows(spark_df) == rows(duck_df))
        print(f"{'ok  ' if same else 'FAIL'} {name}: {g['rows']} rows")
        if same:
            q["digest"] = g["digest"]
        else:
            bad.append(name)
    if bad:
        print(f"oracle disagrees on {', '.join(bad)}", file=sys.stderr)
        return 1
    spec_path.write_text(json.dumps(spec, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
