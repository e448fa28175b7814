#!/usr/bin/env python3
"""Regenerate perfbench/expected_corpus.json: the row count and digest
each `corpus` query must produce on the sf0.1 tables.

    python3 perfbench/make_expected.py [--timeout 120]

For each corpus query with a DuckDB oracle (SparkEntry.oracleSql), the
oracle runs in DuckDB over the same parquet files; a query whose oracle
has none, or does not finish within --timeout seconds, takes its
expectation from Spark instead ("source": "spark"). The digest is the one
perfbench.Canon computes: values rendered canonically (numbers rounded to
6 significant digits), each row's values in column-name order joined by
\\x01, FNV-1a 64 per row, wrapping sum over rows. When both sources
exist and disagree, DuckDB's is stored and the disagreement is printed.
"""
import argparse
import datetime
import decimal
import json
import math
import os
import subprocess
import sys
import threading

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CTX = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)
MASK = (1 << 64) - 1


def num(d):
    if d == 0:
        return "0"
    return format(CTX.plus(d).normalize(CTX), "f")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fnv64(s):
    h = 0xcbf29ce484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001b3) & MASK
    return h


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    h = 0
    for r in rows:
        h = (h + fnv64("\x01".join(canon(r[i]) for i in order))) & MASK
    return len(rows), f"{h:016x}"


def harness(cp, *args):
    cmd = ["java"]
    for o in run.ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Expected", *args]
    p = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]


def oracle(con, sql, timeout):
    cur = con.cursor()
    timer = threading.Timer(timeout, cur.interrupt)
    timer.start()
    try:
        res = cur.sql(sql)
        names = res.columns
        return digest(names, res.fetchall())
    except Exception as e:  # interrupted or failed: no oracle answer
        print(f"  oracle gave no answer: {str(e).splitlines()[0][:120]}")
        return None
    finally:
        timer.cancel()
        cur.close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--timeout", type=float, default=120.0)
    a = ap.parse_args()
    cp = run.classpath()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    sqls = {o["query"]: o["sql"] for o in harness(cp, "oracle")}
    spark = {o["query"]: (o["rows"], o["hash"]) for o in harness(cp, "spark", run.DATA)}
    queries = list(spark)
    out = {}
    for q in queries:
        duck = None
        if q in sqls:
            print(f"{q}: DuckDB oracle")
            duck = oracle(con, sqls[q], a.timeout)
        if duck is not None:
            out[q] = {"rows": duck[0], "hash": duck[1], "source": "duckdb"}
            if duck != spark[q]:
                print(f"  DISAGREES with Spark: duckdb {duck}, spark {spark[q]}")
        else:
            out[q] = {"rows": spark[q][0], "hash": spark[q][1], "source": "spark"}
    with open(os.path.join(run.HERE, "expected_corpus.json"), "w") as f:
        f.write("{\n" + ",\n".join(f'  "{q}": {json.dumps(v)}' for q, v in out.items()) + "\n}\n")


if __name__ == "__main__":
    main()
