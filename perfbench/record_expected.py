#!/usr/bin/env python3
"""Re-record perfbench/expected/query_mix.json, validated against the
DuckDB oracle.

    python3 perfbench/record_expected.py [--seed N]

Runs the query_mix workload once, fingerprints every query result of
its untimed pass, runs each query's oracle SQL (SparkEntry.oracleSql)
in DuckDB over the same sf0.1 tables, and writes the expectations only
if every engine result equals its oracle result in the canonical form
of tools/check_oracle.py. Run from the root of a checkout."""
import argparse
import json
import os
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from lib import fingerprint  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    import duckdb
    root = os.getcwd()
    cp = run.build(root)
    oracle_file = os.path.join(root, run.BUILD, "oracle_sql.json")
    a = types.SimpleNamespace(workload="query_mix", seed=args.seed, seconds=1.0)
    res = run.run_harness(root, cp, a, False, time.time() + 600,
                          extra=("--oracle-out", oracle_file))
    with open(oracle_file) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(run.SF_DIR, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    bad = 0
    for q in sorted(oracles):
        t0 = time.time()
        cur = con.execute(oracles[q])
        want = fingerprint.fingerprint(cur.fetchall(), [d[0] for d in cur.description])
        got = res["fingerprints"].get(q)
        why = fingerprint.compare(got, want) if got else "engine failed: %s" % res["result_errors"].get(q)
        print("%s: %s (%d rows, oracle %.1fs)" % (q, why or "OK", want["rows"], time.time() - t0))
        bad += bool(why)
    if bad:
        sys.exit("%d queries differ from the oracle; expectations not written" % bad)
    out = {"validated_against": "DuckDB oracle (SparkEntry.oracleSql) over the sf0.1 tables",
           "queries": {q: res["fingerprints"][q] for q in sorted(oracles)}}
    with open(os.path.join(HERE, "expected", "query_mix.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
