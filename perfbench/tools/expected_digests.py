#!/usr/bin/env python3
"""Regenerates perfbench/expected_digests.json from the DuckDB oracle.

    python3 perfbench/tools/expected_digests.py    (from the checkout root)

Runs graft.Verify over perfbench/data/sf0.01 to dump the oracle SQL and
the engine's results, evaluates each oracle query in DuckDB over the
same tables, and stores the oracle's result digest per query. It also
reports every query whose engine result differs from the oracle; the
benchmark counts those as failed ops. Needs a build (any run.py call).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import duckdb  # noqa: E402
import run  # noqa: E402
from digest import frame_digest, parquet_digest  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    classpath, _ = run.build()
    data = os.path.join(HERE, "data", "sf0.01")
    out = tempfile.mkdtemp(dir=os.path.join(run.BUILD))
    cmd = (["java"] + [x for p in run.JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{run.driver_heap()}", "-Dspark.ui.enabled=false",
              "-cp", classpath, "graft.Verify", data, out])
    subprocess.run(cmd, check=True, env=dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count())))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    digests, differ = {}, []
    for q, sql in sorted(oracle.items()):
        digests[q] = frame_digest(con.execute(sql).df())
        try:
            if parquet_digest(con, os.path.join(out, q)) != digests[q]:
                differ.append(q)
        except FileNotFoundError:
            differ.append(q)
    with open(os.path.join(HERE, "expected_digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(out, ignore_errors=True)
    print(f"{len(digests)} oracle digests written; engine differs on {len(differ)}: {differ}")


if __name__ == "__main__":
    main()
