#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate.

Usage: python3 tools/driver_sim.py [sfDir] [outDir] [--skip-verify] [names...]

1. runs graft.Verify (sbt runMain) at sfDir -> outDir/<name> parquet + oracle_sql.json;
   given names, Verify dumps only those queries
2. for each query: creates DuckDB views over sfDir tables, runs the oracle SQL,
   loads the Spark result, sorts columns by name + rows, compares values.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def compare(name, spark_rows, duck_rows, spark_cols, duck_cols):
    if sorted(spark_cols) != sorted(duck_cols):
        return f"SCHEMA mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s = sorted(tuple(norm(r[i]) for i in order) for r in spark_rows)
    d = sorted(tuple(norm(r[i]) for i in dorder) for r in duck_rows)
    if len(s) != len(d):
        return f"ROWCOUNT mismatch: spark={len(s)} duck={len(d)}"
    for i, (a, b) in enumerate(zip(s, d)):
        if a != b:
            return f"VALUE mismatch at sorted row {i}:\n  spark={a}\n  duck ={b}"
    return None


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = set(args[2:])

    if "--skip-verify" not in flags:
        r = subprocess.run(
            ["sbt", "-batch",
             " ".join(["runMain graft.Verify", sf_dir, out_dir, *sorted(only)])],
            cwd=Path(__file__).resolve().parent.parent,
            capture_output=True, text=True, timeout=3600)
        tail = "\n".join((r.stdout + r.stderr).splitlines()[-30:])
        if r.returncode != 0:
            print(f"[driver_sim] Verify FAILED:\n{tail}")
            sys.exit(1)
        for line in (r.stdout + r.stderr).splitlines():
            if "[verify]" in line:
                print(line)

    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    con = duckdb.connect()
    # an in-memory duckdb cannot spill window/join state without a temp
    # directory, and the heaviest election-unrolling oracles (q157's
    # four-election chain) need >RAM at the 10x replica — give the
    # replay a spill path and a bounded budget so it completes instead
    # of OOMing (slow is fine; this is a correctness replay)
    Path("/tmp/duckdb_spill").mkdir(exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute("SET memory_limit='48GB'")
    for t in TABLES:
        # testdata ships one file per table; Spark-written replicas
        # (ScaleUp) ship a DIRECTORY of part files under the same name
        p = Path(sf_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    ok, bad, noracle = [], [], []
    for name in sorted(set(list(oracle) +
                           [p.name for p in Path(out_dir).iterdir() if p.is_dir()])):
        if only and name not in only:
            continue
        res_dir = Path(out_dir, name)
        if not res_dir.is_dir():
            bad.append((name, "NO RESULT parquet (query failed in Verify)"))
            continue
        sp = con.execute(f"SELECT * FROM '{res_dir}/*.parquet'")
        spark_cols = [d[0] for d in sp.description]
        spark_rows = sp.fetchall()
        if name not in oracle:
            noracle.append((name, len(spark_rows)))
            continue
        try:
            dk = con.execute(oracle[name])
            duck_cols = [d[0] for d in dk.description]
            duck_rows = dk.fetchall()
        except Exception as e:
            bad.append((name, f"ORACLE SQL ERROR: {e}"))
            continue
        err = compare(name, spark_rows, duck_rows, spark_cols, duck_cols)
        if err:
            bad.append((name, err))
        else:
            ok.append((name, len(spark_rows)))

    for name, n in ok:
        print(f"  PASS  {name} ({n} rows)")
    for name, n in noracle:
        print(f"  ROWS  {name} (no oracle, {n} rows)")
    for name, err in bad:
        print(f"  FAIL  {name}: {err}")
    print(f"[driver_sim] {len(ok)} pass, {len(noracle)} rows-only, {len(bad)} FAIL")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
