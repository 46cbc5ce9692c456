#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the row count and order-insensitive
content fingerprint every benchmark query must produce on the sf0.1 corpus.

    python3 perfbench/expected.py

Queries with a registered DuckDB oracle (`SparkEntry.oracleSql`) get their
expected value from DuckDB, run over the same parquet files. The others
have no independent oracle; their expected value is the program's own
output, taken from a benchmark run of its workload and required to
repeat exactly in every pass of that run. The script also reports every oracle query whose
Spark result differs from DuckDB's; such a query fails the benchmark.

The fingerprint mirrors perfbench/src/Canon.scala; change both together.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import sys

import duckdb

import run

CTX = decimal.Context(prec=10, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def fractional(d):
    if d == 0:
        return "0"
    if d == d.to_integral_value() and abs(d) < decimal.Decimal("1e15"):
        return str(int(d))
    return format(CTX.plus(d).normalize(), "f")


def value(v):
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
            return "Inf" if v > 0 else "-Inf"
        return fractional(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return fractional(v)
    if isinstance(v, datetime.datetime):
        delta = v - (EPOCH_UTC if v.tzinfo else EPOCH)
        return str(delta // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str((v - EPOCH.date()).days * 86400000000)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    total = 0
    for r in rows:
        s = "\x1f".join(value(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "little")
    return str(total % (1 << 64))


def duckdb_expected(sql_by_name, sf_dir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
              "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name, sql in sorted(sql_by_name.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = {"rows": len(rows), "hash": fingerprint(cols, rows), "source": "duckdb"}
    return out


def main():
    workloads = run.load_json("workloads.json")
    sf_dir = run.corpus_dir()
    names = sorted({q for w in workloads.values() for q in w["queries"]})
    classpath = run.build()
    run_dir = os.path.join(run.BUILD_ROOT, "runs", f"expected-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.makedirs(run_dir)
        sql_path = os.path.join(run_dir, "oracles.json")
        run.subprocess.run(["java", "-XX:-UsePerfData"] + run.ADD_EXPORTS +
                           ["-cp", ":".join(classpath), "perfbench.Driver", "--oracles", ",".join(names),
                            "--out", sql_path], check=True)
        with open(sql_path) as f:
            oracles = json.load(f)
        spark = {}
        for w, spec in workloads.items():
            data, _, _ = run.run_jvm(classpath, [
                "--sf", sf_dir, "--cores", str(run.cores()), "--seconds", "0", "--trace", "0", "--setups", "1",
                "--queries", ",".join(spec["queries"])], os.path.join(run_dir, w))
            for p in data["passes"]:
                for q in p["queries"]:
                    spark.setdefault(q["name"], []).append(q.get("error") or (q["rows"], q["hash"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    expected = duckdb_expected(oracles, sf_dir)
    problems = 0
    for name in names:
        seen = spark[name]
        if len(set(seen)) != 1 or isinstance(seen[0], str):
            print(f"{name}: program output does not repeat or fails: {seen}", file=sys.stderr)
            problems += 1
            continue
        rows, h = seen[0]
        if name in expected:
            if (rows, h) != (expected[name]["rows"], expected[name]["hash"]):
                print(f"{name}: program ({rows}, {h}) differs from DuckDB "
                      f"({expected[name]['rows']}, {expected[name]['hash']})", file=sys.stderr)
                problems += 1
        else:
            expected[name] = {"rows": rows, "hash": h, "source": "program"}
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")
    print(f"{len(expected)} expected values, "
          f"{sum(1 for e in expected.values() if e['source'] == 'duckdb')} from DuckDB; {problems} problems")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
