#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Runs each oracle_sql.json entry in DuckDB against views over the sfDir
parquet tables, loads the corresponding Spark result parquet, sorts columns
by name (mirroring the driver), and compares cell values.
"""
import duckdb, sys, json, glob
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# DuckDB's default memory limit is 80% of RAM, so on a shared host one
# runaway oracle can crowd out every other process. Bounded, an oracle
# spills to TEMP_DIR and, past the limit, fails alone.
MEMORY_LIMIT = "6GB"
TEMP_DIR = "/tmp/check_oracle_duckdb"

def norm(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    return df

def norm_val(v):
    if v is None:
        return None
    if isinstance(v, float) and v != v:  # NaN (incl. null-as-NaN)
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, float):
        return float(v)
    return v

def cells(df):
    return [tuple(norm_val(v) for v in row)
            for row in df.itertuples(index=False)]

def kind(dtype):
    """Collapse a pandas dtype to a comparison class: 'i' ints (any
    width, signed or not), 'f' floats, else the raw numpy kind."""
    k = dtype.kind
    return "i" if k in ("i", "u") else k

def dtype_check(duck, spark):
    """TOTAL strict dtype comparison (round 16; float-vs-int strict
    since round 15): the driver hashes TYPED values, so any dtype-kind
    divergence (DuckDB HUGEINT -> float64 from an un-CAST windowed/
    summed BIGINT was how q198 shipped red in round 14) fails its hash
    even when Python `==` says 53.0 == 53. Round 15's full sweep showed
    zero remaining kind-mismatch warnings, so the former WARN tier is
    now a FAIL too; only int width (int32 vs int64 — the driver accepts
    the existing width differences) stays tolerated via kind()."""
    errs = []
    for c in duck.columns:
        dk, sk = kind(duck[c].dtype), kind(spark[c].dtype)
        if dk == sk:
            continue
        tag = (" (float-vs-int: driver typed hash would reject)"
               if {dk, sk} == {"f", "i"} else " (kind mismatch)")
        errs.append(f"col {c}: duck={duck[c].dtype} spark={spark[c].dtype}"
                    + tag)
    return errs

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                 "temp_directory": TEMP_DIR})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_fail = 0
    # Verify.scala records throwing queries in errors.json; surface them
    # here so a crashed query can never read as "just absent" (round 8:
    # q114 crashed and silently vanished from the correctness artifact).
    try:
        errors = json.load(open(f"{outdir}/errors.json"))
    except FileNotFoundError:
        errors = {}
    for name, e in sorted(errors.items()):
        print(f"ERR  {name}: {e['err'][:200]}")
        n_fail += 1
    for name in sorted(oracle):
        if name in errors:
            continue  # already counted as ERR above
        try:
            duck = norm(con.execute(oracle[name]).df())
            files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
            spark = norm(pd.concat([pd.read_parquet(p) for p in files],
                                   ignore_index=True))
            if list(duck.columns) != list(spark.columns):
                raise AssertionError(
                    f"columns: duck={list(duck.columns)} spark={list(spark.columns)}")
            derrs = dtype_check(duck, spark)
            if derrs:
                raise AssertionError("dtype: " + "; ".join(derrs))
            dc, sc = cells(duck), cells(spark)
            if len(dc) != len(sc):
                raise AssertionError(f"rowcount: duck={len(dc)} spark={len(sc)}")
            for i, (a, b) in enumerate(zip(dc, sc)):
                if a != b:
                    raise AssertionError(f"row {i}: duck={a} spark={b}")
            print(f"OK   {name} ({len(dc)} rows)")
            n_ok += 1
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
    print(f"\n{n_ok} ok, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
