#!/usr/bin/env python3
"""Capture goldens.json for the analytics and loops panels.

For each table variant v (the panels read tables(seed % variants)), this
generates the tables, runs every panel query twice in capture mode (a
fresh JVM each time; the two row counts and typed hashes must agree, so a
nondeterministic query cannot become a golden), and cross-checks each
query that has oracle SQL against DuckDB over the same tables. Run it on
the commit whose outputs are taken as correct:

  python3 graftbench/goldens.py
"""
import json
import math
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def capture(classpath, tables_dir, work, out_dir):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "capture.json")
    args = ["--workload", "capture", "--seed", "0", "--seconds", "0", "--inputs",
            os.path.dirname(tables_dir), "--work", work, "--out", result, "--capture", out_dir]
    code = run.run_jvm(run.jvm_command(classpath, work, args), os.path.join(work, "jvm.log"))
    if code != 0:
        raise SystemExit(f"capture failed ({code}); see {work}/jvm.log")
    with open(result) as f:
        return json.load(f)


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def oracle_mismatch(con, sql, result_dir):
    """None when DuckDB's oracle result equals the captured Spark result."""
    want = con.execute(sql).fetch_arrow_table()
    got = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").fetch_arrow_table()
    cols = sorted(want.column_names)
    if cols != sorted(got.column_names):
        return f"columns differ: oracle={cols} spark={sorted(got.column_names)}"
    if want.num_rows != got.num_rows:
        return f"rows differ: oracle={want.num_rows} spark={got.num_rows}"
    w = list(zip(*[want.column(c).to_pylist() for c in cols]))
    g = list(zip(*[got.column(c).to_pylist() for c in cols]))
    if all(same(list(x), list(y)) for x, y in zip(w, g)):
        return None
    key = lambda r: repr(r)  # noqa: E731
    if all(same(list(x), list(y)) for x, y in zip(sorted(w, key=key), sorted(g, key=key))):
        return None
    return "values differ"


def main():
    classpath = run.build.build()
    work = os.path.join(run.ROOT, ".graftbench_work", "goldens")
    shutil.rmtree(work, ignore_errors=True)
    goldens = {"variants": run.TABLE_VARIANTS, "tables": {}, "oracle_checked": []}
    failures = []
    for v in range(run.TABLE_VARIANTS):
        tables_dir = os.path.join(work, f"v{v}", "inputs", "tables")
        run.gen.tables(v, tables_dir)
        first = capture(classpath, tables_dir, os.path.join(work, f"v{v}", "a"), os.path.join(work, f"v{v}", "out"))
        second = capture(classpath, tables_dir, os.path.join(work, f"v{v}", "b"), os.path.join(work, f"v{v}", "out_b"))
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        entry = {}
        for q, g in sorted(first.items()):
            if (g["rows"], g["hash"]) != (second[q]["rows"], second[q]["hash"]):
                failures.append(f"v{v} {q}: two captures disagree")
                continue
            if g["oracle"]:
                why = oracle_mismatch(con, g["oracle"], os.path.join(work, f"v{v}", "out", q))
                if why:
                    failures.append(f"v{v} {q}: oracle {why}")
                    continue
                if q not in goldens["oracle_checked"]:
                    goldens["oracle_checked"].append(q)
            entry[q] = {"rows": g["rows"], "hash": g["hash"]}
            print(f"v{v} {q}: rows={g['rows']}{' oracle ok' if g['oracle'] else ''}")
        goldens["tables"][str(v)] = entry
    goldens["oracle_checked"].sort()
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    for msg in failures:
        print("FAIL", msg)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
