#!/usr/bin/env python3
"""Regenerate perfbench/goldens.json: the expected output row count of
every benchmark query, computed by DuckDB from the query's oracle SQL
(graft.queries.Registry.oracleSql) over the benchmark's tables; each
tier's row count from a from-scratch night in a fresh store; and the
documents in an LSH pair (d3's oracle), which are never held back as
stream arrivals.

    python3 perfbench/make_goldens.py

Run from the root of a checkout. Rerun it when the tables in
perfbench/data/, a workload's query list or a query's oracle SQL changes.
"""
import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    classes, _ = run.build()
    work = os.path.join(run.ROOT, ".bench_work", f"goldens-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        shutil.copytree(run.DATA, data)
        dump = os.path.join(work, "goldens_input.json")
        code = run.run_java(run.java_cmd(classes, work, "perfbench.Goldens", [data, work, dump]), work)
        if code != 0:
            run.fail(f"perfbench.Goldens exited with code {code}")
        with open(dump) as fh:
            inputs = json.load(fh)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        goldens = {q: con.sql(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
                   for q, sql in sorted(inputs["sql"].items())}
        goldens.update(inputs["tiers"])
        # documents sharing an LSH band with another: the stream gate
        # would drop them as duplicates, so they are never held back
        pairs = con.sql(inputs["sql"]["d3_lsh_pairs"]).fetchall()
        goldens["near_dup_docs"] = sorted({d for p in pairs for d in p})
    finally:
        run.remove_work(work)
    with open(os.path.join(HERE, "goldens.json"), "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
