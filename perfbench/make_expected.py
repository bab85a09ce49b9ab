#!/usr/bin/env python3
"""Recompute the benchmark's kept expectations (run from the repo root):

  * oracle_digests.json -- the DuckDB oracle digest and row count of every
    pool query over the generated analytics tables;
  * expected/q102.json  -- the fixture recording keys, top and torrent rows of
    one ETL tick over the checked-in fixtures (q102's state), taken from
    the program's q102 output after scripts/check.py confirms it equals
    the q102 oracle.

    python3 perfbench/make_expected.py
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

import gen
import run


def java(cp, *args):
    subprocess.run(["java", *run.ADD_OPENS, f"-Xmx{run.HEAP}", "-cp", cp, *args], check=True,
                   env=dict(os.environ, SPARK_GRAFT_CPUS=str(run.CORES)))


def main():
    cp = run.build()
    tpch = run.tpch_dir()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        reg_path = os.path.join(tmp, "registry.json")
        java(cp, "perfbench.Main", "registry", reg_path)
        with open(reg_path) as f:
            oracle = {r["name"]: r["oracle"] for r in json.load(f)}
        con = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tpch}/{t}.parquet'")
        digests, rows = {}, {}
        for name in sorted(run.analytics_pool()):
            out = os.path.join(tmp, name)
            con.execute(f"COPY ({oracle[name]}) TO '{out}.parquet' (FORMAT PARQUET)")
            digests[name] = run.canon_digest(con, f"{out}.parquet")
            rows[name] = con.sql(f"SELECT count(*) FROM '{out}.parquet'").fetchone()[0]
        with open(os.path.join(run.HERE, "oracle_digests.json"), "w") as f:
            json.dump({"generator_version": gen.VERSION, "tpch_seed": gen.TPCH_SEED,
                       "digests": digests, "rows": rows}, f, indent=1, sort_keys=True)
            f.write("\n")

        vout = os.path.join(tmp, "q102")
        java(cp, "graft.tools.VerifyOne", tpch, vout, "q102_etl_tick")
        subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "check.py"), tpch, vout],
                       check=True)
        rows = con.sql(f"SELECT tbl, PartitionKey, RowKey, digest "
                       f"FROM '{vout}/q102_etl_tick/*.parquet'").fetchall()
        expected = {
            "recordings": sorted([pk, rk] for t, pk, rk, _ in rows if t == "recordings"),
            "top": sorted(list(r) for r in rows if r[0] == "top"),
            "torrents": sorted(list(r) for r in rows if r[0] == "torrents")}
        os.makedirs(os.path.join(run.HERE, "expected"), exist_ok=True)
        with open(os.path.join(run.HERE, "expected", "q102.json"), "w") as f:
            json.dump(expected, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
