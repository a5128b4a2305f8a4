"""Correctness gate: recompute expected outputs with DuckDB and compare.

A query's timed action yields `count:hash` over its canonically rendered
rows (see Fingerprint.scala). Here the same rendering runs over the rows of
the query's DuckDB oracle SQL (the SQL tools/oracle_check.py runs),
evaluated on the same generated input, so equal fingerprints mean equal
outputs, floats compared bit for bit. The reference DAG's outputs are
checked by the row count of each written table and by the top 5, both
against DuckDB over the input tables.
"""
import datetime
import decimal
import glob
import hashlib
import math
import os
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CANONICAL_NAN = 0x7FF8000000000000
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def canonical(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return str(CANONICAL_NAN)
        return str(struct.unpack(">q", struct.pack(">d", v))[0])
    if isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, datetime.datetime):
        base = EPOCH_TZ if v.tzinfo is not None else EPOCH
        d = v - base
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return str((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex().upper()
    if isinstance(v, list):
        return "[" + ",".join(canonical(e) for e in v) + "]"
    raise TypeError(f"no canonical rendering for {type(v).__name__}")


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\u0001".join(canonical(r[i]) for i in order)
        total += int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
    return f"{len(rows)}:{total}"


def connect(input_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def oracle_fingerprint(con, sql):
    rel = con.sql(sql)
    return fingerprint(list(rel.columns), rel.fetchall())


def expected_dag(con):
    """Row counts of the DAG's nine tables and its top 5, from the inputs."""
    one = lambda q: con.sql(q).fetchone()[0]
    n_orders = one("SELECT count(*) FROM orders")
    counts = {
        "details": one("SELECT count(DISTINCT c_custkey) FROM customer"),
        "premitted_biz_details": n_orders,
        "location": one("SELECT count(DISTINCT o_orderkey) FROM orders"),
        "food_type": one("SELECT count(DISTINCT c_custkey) FROM customer "
                         "JOIN orders ON c_custkey = o_custkey"),
        "permit_motification_details": n_orders,
        "operating_day": n_orders,
        "operation_time": n_orders,
        "num_permit_per_business": one("SELECT count(DISTINCT o_custkey) FROM orders"),
        "yelp_info": one("SELECT count(*) FROM (SELECT DISTINCT c_name, n_name, c_acctbal "
                         "FROM customer JOIN nation ON c_nationkey = n_nationkey)"),
    }
    top = con.sql("""
        SELECT c_name, count(o_orderkey) AS n
        FROM (SELECT DISTINCT ON (c_custkey) c_custkey, c_name FROM customer
              ORDER BY c_custkey) c
        LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_name ORDER BY n DESC, c_name LIMIT 5""").fetchall()
    return counts, top


def check_dag(con, expected, out_dir):
    """Problems found in one DAG output directory (empty when correct)."""
    counts, top = expected
    problems = []
    for table, n in counts.items():
        files = glob.glob(os.path.join(out_dir, table, "*.parquet"))
        got = con.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else None
        if got != n:
            problems.append(f"{table}: {got} rows, expected {n}")
    d = glob.glob(os.path.join(out_dir, "details", "*.parquet"))
    b = glob.glob(os.path.join(out_dir, "premitted_biz_details", "*.parquet"))
    if d and b:
        written = con.sql(f"""
            SELECT applicant, count(schedule_id) AS n
            FROM read_parquet({d!r}) d LEFT JOIN read_parquet({b!r}) b USING (permit)
            GROUP BY applicant ORDER BY n DESC, applicant LIMIT 5""").fetchall()
        if written != top:
            problems.append(f"top 5 {written} != {top}")
    svg = os.path.join(out_dir, "images", "schedule_per_business.svg")
    if not os.path.isfile(svg):
        problems.append("chart missing")
    else:
        text = open(svg, encoding="utf-8").read()
        absent = [name for name, _ in top if name not in text]
        if absent:
            problems.append(f"chart lacks {absent}")
    return problems
