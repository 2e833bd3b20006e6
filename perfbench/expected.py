#!/usr/bin/env python3
"""Records expected.json: the fingerprint of each benchmark query's DuckDB
oracle result over perfbench/data/sf0.01, and the EP1 row counts.

Usage, from the root of a checkout:  python3 perfbench/expected.py

The oracle SQL comes from the query registry (QuerySpec.oracle); the
fingerprint rules mirror tools/crosscheck.py and Digest.scala: columns
sorted by name, rows unordered, NULL equals NULL (and NaN), numbers
compared by value.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def render_double(d):
    if math.isnan(d):
        return "N"
    if math.isfinite(d) and d == math.floor(d) and abs(d) < 2.0 ** 53:
        return "I%d" % int(d)
    bits = struct.unpack("<q", struct.pack("<d", d))[0]
    return "F" + format(bits & 0xFFFFFFFFFFFFFFFF, "x")


def join(parts):
    return "".join(f"{len(p.encode('utf-8'))}:{p}" for p in parts)


def render(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "Bt" if v else "Bf"
    if isinstance(v, int):
        return "I%d" % v
    if isinstance(v, float):
        return render_double(v)
    if isinstance(v, decimal.Decimal):
        return render_double(float(v))
    if isinstance(v, str):
        return "S" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "T%d" % ((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray)):
        return "X" + v.hex()
    if isinstance(v, dict):
        return "R" + join([render(x) for x in v.values()])
    if isinstance(v, (list, tuple)):
        return "L" + join([render(x) for x in v])
    return "S" + str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        h = hashlib.sha256(join([render(r[i]) for i in order]).encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
    return {"columns": [columns[i] for i in order], "rows": len(rows),
            "sum": format(total, "016x")}


def main():
    classpath = run.build()
    os.makedirs(run.BUILD, exist_ok=True)
    sql_file = os.path.join(run.BUILD, "oracles.json")
    subprocess.run(["java", "-cp", classpath, "perfbench.Oracles", sql_file],
                   check=True, stdout=sys.stderr)
    with open(sql_file) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(run.DATA, t + '.parquet')}')")
    queries = {}
    for name, sql in sorted(oracles.items()):
        if sql is None:
            sys.exit(f"{name} has no oracle")
        res = con.sql(sql)
        queries[name] = fingerprint(res.columns, res.fetchall())
        print(f"{name}: {queries[name]['rows']} rows", file=sys.stderr)
    # EP1: gold entities are the orders ⋈ customer rows; the target keeps
    # one row per key; tests_statistiques has one row per label
    joined = "FROM orders JOIN customer ON o_custkey = c_custkey"
    n, custs, orders, labels = con.sql(
        f"SELECT count(*), count(DISTINCT c_custkey), count(DISTINCT o_orderkey), "
        f"count(DISTINCT o_orderpriority) {joined}").fetchone()
    etl = {"gold.adresses": custs, "gold.logements": n, "gold.tests_statistiques": labels,
           "target.adresses": custs, "target.logements": orders,
           "target.tests_statistiques": labels}
    with open(os.path.join(run.BENCH, "expected.json"), "w") as fh:
        json.dump({"data": "sf0.01", "queries": queries, "etl": etl}, fh, indent=1,
                  sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
