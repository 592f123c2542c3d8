#!/usr/bin/env python3
"""Make the benchmark's expected row counts.

Run from the repository root:

    python3 perfbench/oracle.py

For every query of every workload it runs the query's oracle SQL in
DuckDB over the benchmark's data and stores the row count in
`perfbench/expected_counts.json`, keyed by the SHA-256 of that SQL.
A row whose SQL hash is unchanged keeps its stored count, so only
changed rows are rerun. Queries with no oracle SQL get the count the
engine itself returns, recorded once and kept until removed by hand.
"""
import json
import os
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    workloads = run.load_json("workloads.json")
    path = os.path.join(HERE, "expected_counts.json")
    stored = run.load_json("expected_counts.json")
    data = run.DATA
    wanted = sorted({q for w in workloads.values() for q in w["queries"]})

    run.build()
    os.makedirs(run.OUT, exist_ok=True)
    dump = os.path.join(run.OUT, "oracle.json")
    run.java(["--mode", "oracle", "--out", dump], timeout=600)
    with open(dump) as f:
        oracle = json.load(f)["oracle"]

    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                    % (t, os.path.join(HERE, data), t))
    rows = {}
    no_oracle = []
    for q in wanted:
        sql = oracle.get(q)
        old = stored["rows"].get(q)
        digest = run.sql_hash(sql)
        if old is not None and old["sql_sha256"] == digest:
            rows[q] = old
        elif sql is None:
            no_oracle.append(q)
        else:
            t0 = time.monotonic()
            n = con.execute("SELECT count(*) FROM (%s)"
                            % sql.strip().rstrip(";")).fetchone()[0]
            run.log("%s: %d rows (%.1f s)" % (q, n, time.monotonic() - t0))
            rows[q] = {"sql_sha256": digest, "rows": n, "source": "duckdb"}

    if no_oracle:
        # Count what the engine returns on a cold first pass.
        plan = os.path.join(run.OUT, "no_oracle.plan")
        raw = os.path.join(run.OUT, "no_oracle.raw.json")
        with open(plan, "w") as f:
            f.write("".join("q %s\nreset\n" % q for q in no_oracle))
        run.java(["--mode", "run", "--data", os.path.join(HERE, data),
                  "--plan", plan, "--out", raw, "--cores", str(run.CORES),
                  "--warmups", "0", "--seconds", "0", "--max-seconds", "0",
                  "--min-samples", "0",
                  "--trace", "0"], timeout=600)
        with open(raw) as f:
            first = json.load(f)["passes"][0]
        for q in first["queries"]:
            if q["error"] is not None:
                raise SystemExit("%s failed: %s" % (q["name"], q["error"]))
            run.log("%s: %d rows (engine, no oracle SQL)" % (q["name"], q["rows"]))
            rows[q["name"]] = {"sql_sha256": None, "rows": q["rows"],
                               "source": "engine"}

    with open(path, "w") as f:
        json.dump({"data": data, "rows": rows}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
