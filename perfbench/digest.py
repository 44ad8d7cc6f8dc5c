"""Output checks for the benchmark: row counts and order-insensitive
digests of query outputs, normalized the way tools/oracle_check.py
compares Spark with DuckDB (columns by name, rows sorted), with floats
rounded to a fixed number of significant digits."""
import datetime
import decimal
import glob
import hashlib
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
SIG_DIGITS = 9


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == 0:
            return "0"
        return format(v, f".{SIG_DIGITS}g")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return norm(float(v)) if v != v.to_integral_value() else str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{norm(k)}:{norm(x)}" for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_digest(cols, rows):
    """(row count, digest) of a result, independent of row and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    keys = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(",".join(cols[i].lower() for i in order).encode())
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:24]


def connect():
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    return con


def spark_output(con, out_dir, name):
    files = glob.glob(os.path.join(out_dir, "check", name, "*.parquet"))
    if not files:
        # an empty result written by Spark may hold no data file
        return None
    rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/check/{name}/*.parquet')")
    return rel.columns, rel.fetchall()


def check_outputs(out_dir, queries, expected, check_errors):
    """Returns {query: reason} for every query whose check output is
    missing or differs from the recorded row count / digest."""
    bad = {}
    con = connect()
    for q in queries:
        if q in check_errors:
            bad[q] = f"check pass threw: {check_errors[q]}"
            continue
        exp = expected.get(q)
        if exp is None:
            bad[q] = "no recorded digest"
            continue
        got = spark_output(con, out_dir, q)
        if got is None:
            rows, dig = 0, None
        else:
            rows, dig = table_digest(*got)
        if rows != exp["rows"]:
            bad[q] = f"rows {rows} != recorded {exp['rows']}"
        elif exp.get("digest") and dig != exp["digest"]:
            bad[q] = f"digest {dig} != recorded {exp['digest']}"
    return bad


def input_bytes():
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(DATA, "*.parquet")))
