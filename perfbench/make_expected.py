#!/usr/bin/env python3
"""Derive perfbench/expected.json: the DuckDB oracle's result hash for every
query op of the benchmark, on the benchmark's generated tables.

    python3 perfbench/make_expected.py

Runs `graft.Verify` for the benchmark's ops (its parquet dump and the
registries' oracle SQL), evaluates each oracle query in DuckDB over the
same tables, and hashes both results by the rule of perfbench/outcheck.py.
Only oracle hashes are written; the run stops if Spark's dump disagrees.
"""
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import outcheck  # noqa: E402
import plan  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    cp, sf_dir, src_hash = build.ensure_built()
    ops = plan.INTERACTIVE_OPS + plan.DEDUP_BATCH_OPS
    out = build.build_dir() / "expected-run"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY=",".join(ops),
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    cmd = [build.java_bin(), *build.jvm_opts(), f"-Djava.io.tmpdir={out / 'tmp'}",
           "-cp", os.pathsep.join(cp), "graft.Verify", str(sf_dir), str(out / "dump")]
    subprocess.run(cmd, check=True, env=env, cwd=str(out),
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    oracle = json.loads((out / "dump" / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    expected, bad = {}, []
    for name in ops:
        if name not in oracle:
            bad.append(f"{name}: no oracle SQL")
            continue
        want = outcheck.sql_hash(con, oracle[name])
        got = outcheck.parquet_hash(con, out / "dump" / name)
        rows = con.execute(f"SELECT count(*) FROM ({oracle[name]})").fetchone()[0]
        expected[name] = {"sha256": want, "rows": rows}
        print(f"{'OK  ' if got == want else 'FAIL'} {name}: {rows} rows")
        if got != want:
            bad.append(f"{name}: spark {got[:12]} != oracle {want[:12]}")
    shutil.rmtree(out, ignore_errors=True)
    if bad:
        sys.exit("\n".join(bad))
    doc = {"program_src_hash": src_hash, "sf": build.SF, "ops": expected}
    (Path(__file__).resolve().parent / "expected.json").write_text(
        json.dumps(doc, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
