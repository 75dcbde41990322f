#!/usr/bin/env python3
"""Regenerates ``expected/digests.json``: the digest of each benchmarked
query's DuckDB oracle result over the benchmark fixture. Never edit that
file by hand; rerun this instead, from the root of a checkout:

    python3 perfbench/gen_expected.py

The oracle SQL comes from ``graft.SparkEntry.oracleSql`` (dumped by the
harness JVM); the digest is ``canon.digest`` over DuckDB's rows. A query
whose oracle fails is recorded with its error and no digest, so the
benchmark counts it as failed.
"""
import json
import sys
import tempfile
import threading
import time
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import canon  # noqa: E402
import run  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
ORACLE_TIMEOUT_S = 300


def main():
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.ROOT) as tmp:
        work = Path(tmp)
        out = work / "oracle_sql.json"
        run.run_jvm(cp, work, ["--dump-oracle", str(out)])
        oracle = json.loads(out.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{run.FIXTURE}/{t}.parquet'")
    queries = {}
    for name, sql in sorted(oracle.items()):
        t0 = time.time()
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            if sql is None:
                raise RuntimeError("no oracle SQL registered")
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            columns, digest = canon.digest(cols, cur.fetchall())
            queries[name] = {"columns": columns, "digest": digest}
            status = digest
        except Exception as e:  # recorded, never dropped
            queries[name] = {"error": str(e).splitlines()[0][:300]}
            status = "FAILED " + queries[name]["error"]
        finally:
            timer.cancel()
        print(f"{name}: {status} ({time.time() - t0:.1f} s)", file=sys.stderr)
    doc = {"fixture": Path(run.FIXTURE).name, "duckdb": duckdb.__version__,
           "generator": "perfbench/gen_expected.py", "queries": queries}
    (HERE / "expected" / "digests.json").write_text(json.dumps(doc, indent=1) + "\n")


if __name__ == "__main__":
    main()
