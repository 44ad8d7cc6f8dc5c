#!/usr/bin/env python3
"""Records the row counts and digests that perfbench/run.py checks.

    python3 perfbench/record.py [workload ...]

Runs each workload once (seed 1), digests every query's check output,
and for each query with an entry in SparkEntry.oracleSql confirms that
DuckDB's result for that SQL on the same tables has the same row count
and digest. A query whose digest disagrees with DuckDB is reported and
nothing is written. Rows-only queries record their row count only.
"""
import json
import os
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import digest  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    workloads = sys.argv[1:] or sorted(run.WORKLOADS)
    path = os.path.join(HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    bad = []
    for w in workloads:
        res, _, run_dir = run.run_harness(root, w, 1, 0, 0)
        try:
            out = os.path.join(run_dir, "out")
            oracle = json.load(open(os.path.join(out, "oracle.json")))
            con = digest.connect()
            for q in res["queries"]:
                if q in res["check_errors"]:
                    bad.append(f"{q}: check pass threw {res['check_errors'][q]}")
                    continue
                got = digest.spark_output(con, out, q)
                rows, dig = (0, None) if got is None else digest.table_digest(*got)
                entry = {"rows": rows}
                if q in oracle:
                    rel = con.sql(oracle[q])
                    o_rows, o_dig = digest.table_digest(rel.columns, rel.fetchall())
                    if (o_rows, o_dig) != (rows, dig):
                        bad.append(f"{q}: spark {rows} rows {dig}, duckdb {o_rows} rows {o_dig}")
                        continue
                    entry["digest"] = dig
                expected[q] = entry
                print(f"{w:13s} {q:32s} {rows:6d} {'oracle ' + dig if 'digest' in entry else 'rows-only'}")
        finally:
            run.cleanup(run_dir)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        sys.exit(1)
    with open(path, "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
