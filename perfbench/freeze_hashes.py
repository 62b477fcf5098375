#!/usr/bin/env python3
"""Freezes the catalog_core result hashes the benchmark's gate compares against.

    python3 perfbench/freeze_hashes.py

For each input variant (the seed picks one), runs catalog_core once,
evaluates every query's DuckDB oracle SQL over the same generated tables
(the tools/check.py comparison: row count, column names, hash over sorted
canonical values) and writes perfbench/catalog_hashes.json only if every
result matches its oracle. Re-run it when the generator or a catalog query
changes on purpose; a tree whose results do not match is refused.
"""
import json
import os
import shutil
import sys

import run

VARIANTS = 4


def oracle_hashes(work):
    import duckdb
    with open(os.path.join(work, "tables_dir")) as f:
        tables = f.read().strip()
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    out = {}
    for q, sql in sorted(oracle.items()):
        rows = con.execute(sql).fetchall()
        out[q] = run.table_hash(rows, [c[0] for c in con.description])
    return out


def main():
    frozen = {}
    bad = []
    for v in range(VARIANTS):
        res, work, _ = run.run_jvm("catalog_core", v, 1, 0)
        if res is None or res["failed"]:
            sys.exit(f"variant {v}: catalog_core failed: {res and res['failures']}")
        got, exp = run.result_hashes(work), oracle_hashes(work)
        bad += [f"variant {v}: {q}" for q in exp if got.get(q) != exp[q]]
        frozen[str(v)] = got
        print(f"variant {v}: {sum(got.get(q) == exp[q] for q in exp)}/{len(exp)} match the oracle")
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit("oracle mismatch, hashes not frozen:\n  " + "\n  ".join(bad))
    with open(run.HASHES, "w") as f:
        json.dump(frozen, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {os.path.relpath(run.HASHES, run.build.ROOT)}")


if __name__ == "__main__":
    main()
