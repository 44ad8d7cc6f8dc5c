#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (SURVEY §6).

Reads the Verify output dir (per-query parquet + oracle_sql.json),
runs each oracle SQL in DuckDB against the sf parquet tables, and
compares: row count, column names, and sorted-row value hash.

DuckDB spills to a private temp directory that is removed on exit,
never to `.tmp/` under the working directory. An oracle whose spill
there passes SPILL_LIMIT is interrupted and fails instead of filling
the disk (g2_pagerank's does, at sf0.01). The bound is kept here, not
by DuckDB's `max_temp_directory_size`: DuckDB 1.0.0 accepts that
setting but does not enforce it (a sort spilled 3 GB under a 200 MB
limit). DuckDB's memory is bounded at MEMORY_LIMIT instead of its
default of 80% of RAM, so one oracle cannot crowd out the rest of a
shared host.

Usage: tools/oracle_check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, math, tempfile, threading, time
import duckdb

SPILL_LIMIT = 2 << 30  # bytes
# g2_pagerank's interrupted oracle leaves about 4 GiB of DuckDB's memory
# accounted as in use, so a 4 GiB limit fails the next heavy oracle (g6)
MEMORY_LIMIT = "8GiB"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


# The driver's hash is type-sensitive in one specific way: DuckDB
# SUM(integer) returns HUGEINT (int128), which the driver's typed
# comparison treats as different from Spark's BIGINT even when every
# value is equal. Int *widths* (INT vs BIGINT) and float widths are
# tolerated (verified: t8 passed with INT vs BIGINT in round 1), so
# normalize within those families but keep HUGEINT and DECIMAL
# distinct — an uncast SUM must fail here before it fails the driver.
def norm_type(t):
    s = str(t).upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER"):
        return "INT"
    if s in ("FLOAT", "DOUBLE"):
        return "FLOAT"
    return s  # HUGEINT, DECIMAL(p,s), VARCHAR, TIMESTAMP, ... stay exact


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return str(v)


def table_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("|".join(norm(r[i]) for i in order))
    return sorted(out)


def guard_spill(con, spill_dir, running, tripped):
    """While `running` is set, interrupt `con`'s query once `spill_dir`
    holds more than SPILL_LIMIT bytes on disk, and set `tripped`."""
    while True:
        running.wait()
        used = 0
        with os.scandir(spill_dir) as files:
            for f in files:
                try:
                    used += f.stat().st_blocks * 512
                except FileNotFoundError:  # DuckDB removed it meanwhile
                    pass
        if used > SPILL_LIMIT and running.is_set():
            tripped.set()
            con.interrupt()
        time.sleep(0.1)


def main(sf_dir, out_dir, spill_dir):
    con = duckdb.connect(config={"temp_directory": spill_dir,
                                 "memory_limit": MEMORY_LIMIT})
    running, tripped = threading.Event(), threading.Event()
    threading.Thread(target=guard_spill, daemon=True,
                     args=(con, spill_dir, running, tripped)).start()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    results = {}
    n_pass = n_fail = n_rows_only = 0
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        spark_rel = con.sql(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
        spark_cols = [c.lower() for c in spark_rel.columns]
        spark_rows = spark_rel.fetchall()
        if name not in oracles:
            ok = len(spark_rows) >= 0
            results[name] = f"rows-only ({len(spark_rows)} rows)"
            n_rows_only += 1
            continue
        tripped.clear()
        running.set()
        try:
            oracle_rel = con.sql(oracles[name])
            o_cols = [c.lower() for c in oracle_rel.columns]
            o_rows = oracle_rel.fetchall()
        except Exception as e:
            if tripped.is_set():
                e = f"spilled more than {SPILL_LIMIT >> 30} GiB; interrupted"
            results[name] = f"ORACLE-ERROR: {e}"
            n_fail += 1
            continue
        finally:
            running.clear()
        if sorted(spark_cols) != sorted(o_cols):
            results[name] = f"SCHEMA-MISMATCH spark={sorted(spark_cols)} oracle={sorted(o_cols)}"
            n_fail += 1
            continue
        s_types = {c: norm_type(t) for c, t in zip(spark_cols, spark_rel.types)}
        o_types = {c: norm_type(t) for c, t in zip(o_cols, oracle_rel.types)}
        # r15 postmortem: the driver's row hash is unstable on DECIMAL
        # output columns (6/6 hash FAILs were raw DECIMAL(38,0)
        # outputs) while this mirror normalized both sides through
        # str(Decimal) and passed them — failing OPEN. A decimal-typed
        # output column is therefore a gate risk BY POLICY: flag it
        # here before the driver does, whatever the values say.
        dec_cols = sorted(c for c in s_types
                          if s_types[c].startswith("DECIMAL")
                          or o_types.get(c, "").startswith("DECIMAL")
                          or s_types[c] == "HUGEINT"
                          or o_types.get(c, "") == "HUGEINT")
        if dec_cols:
            results[name] = (f"DECIMAL-OUTPUT (driver hash risk): {dec_cols} "
                             f"— present checksums as BIGINT/VARCHAR on both sides")
            n_fail += 1
            continue
        bad_types = {c: (s_types[c], o_types[c])
                     for c in s_types if s_types[c] != o_types[c]}
        if bad_types:
            results[name] = f"TYPE-MISMATCH (spark, oracle): {bad_types}"
            n_fail += 1
            continue
        if len(spark_rows) != len(o_rows):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(spark_rows)} oracle={len(o_rows)}"
            n_fail += 1
            continue
        sk = table_key(spark_rows, spark_cols)
        ok_ = table_key(o_rows, o_cols)
        if sk != ok_:
            bad = next((i for i, (a, b) in enumerate(zip(sk, ok_)) if a != b), -1)
            results[name] = (f"HASH-MISMATCH ({len(spark_rows)} rows) first diff row {bad}:\n"
                             f"    spark:  {sk[bad][:300]}\n    oracle: {ok_[bad][:300]}")
            n_fail += 1
            continue
        results[name] = f"PASS ({len(spark_rows)} rows)"
        n_pass += 1

    for name in names:
        print(f"{name:28s} {results[name]}")
    missing = [q for q in oracles if q not in names]
    for q in missing:
        print(f"{q:28s} MISSING-OUTPUT (query failed in Verify?)")
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, "
          f"{len(missing)} missing ==")
    return 1 if (n_fail or missing) else 0


if __name__ == "__main__":
    with tempfile.TemporaryDirectory(prefix="oracle_check_") as spill:
        sys.exit(main(sys.argv[1], sys.argv[2], spill))
