#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the oracle digest of every query in
the queries_mix sample, computed by DuckDB from the registry's oracle SQL
over perfbench/data/sf0.1.

    python3 perfbench/oracle.py

Run from the root of a checkout. The sample and its oracle SQL come from the
compiled registry (run.py --dump-oracle-sql); the digest is the one
perfbench/src/perfbench/Checks.scala (QDigest) computes on Spark rows:
columns sorted by name, values rendered canonically, each row hashed with
SHA-256 and the first 8 bytes of the hashes summed modulo 2^64.
"""
import datetime
import decimal
import hashlib
import json
import subprocess
import sys
import time
from pathlib import Path

import duckdb

ROOT = Path.cwd()
DATA = ROOT / "perfbench" / "data" / "sf0.1"
OUT = ROOT / "perfbench" / "expected.json"
SIG = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def dec(x):
    if x == 0:
        return "0"
    if x == x.to_integral_value():
        return str(int(x))
    return format(SIG.plus(x).normalize(SIG), "f")


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Inf" if v > 0 else "-Inf"
        return dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(value(x) for x in v.values()) + ")"
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: (columns[i], i))
    total = 0
    for r in rows:
        line = "\x1f".join(value(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big", signed=True)
    return {"rows": len(rows), "digest": str(total % (1 << 64)),
            "columns": [columns[i] for i in order]}


def main():
    sql_file = ROOT / ".bench_build" / "perfbench" / "oracle_sql.json"
    sql_file.parent.mkdir(parents=True, exist_ok=True)
    subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"),
                    "--dump-oracle-sql", str(sql_file)], check=True)
    sample = json.loads(sql_file.read_text())
    con = duckdb.connect()
    for t in sorted(DATA.glob("*.parquet")):
        con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    queries = {}
    for q in sample:
        t0 = time.time()
        cur = con.execute(q["sql"])
        cols = [d[0] for d in cur.description]
        d = digest(cols, cur.fetchall())
        d["module"] = q["module"]
        queries[q["name"]] = d
        print(f"{q['name']}: {d['rows']} rows, {time.time() - t0:.1f} s", file=sys.stderr)
    OUT.write_text(json.dumps({"data": "perfbench/data/sf0.1", "duckdb": duckdb.__version__,
                               "queries": queries}, indent=1, sort_keys=True) + "\n")
    print(f"wrote {OUT} ({len(queries)} queries)", file=sys.stderr)


if __name__ == "__main__":
    main()
