#!/usr/bin/env python3
"""Check the benchmark's golden query outputs against DuckDB.

Usage:
    python3 perfbench/oracle_check.py <oracle_sql.json> <golden.json>...

`oracle_sql.json` maps query name to its DuckDB oracle SQL; write it
with `python3 perfbench/run.py --oracle-sql <file>`. Every golden entry
marked `"oracle": true` is recomputed in DuckDB over the golden's data
directory and compared by row count and digest. Exits non-zero on any
mismatch.

The digest is the one `perfbench/src/perfbench/Digest.scala` computes;
see that file for the encoding.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def encode(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b:true" if v else "b:false"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t:" + v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return "t:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(encode(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(encode(x) for x in v) + "]"
    return "s:" + str(v)


def digest(columns, rows):
    """(row count, digest) of rows given in `columns` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "\u0001".join(encode(r[i]) for i in order)
        total = (total + int.from_bytes(
            hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")) % (1 << 64)
        n += 1
    header = ",".join(columns[i] for i in order)
    h = hashlib.sha256(f"{header}|{n}|{total}".encode("utf-8")).digest()
    return n, h[:8].hex()


def main():
    import duckdb
    oracles = json.load(open(sys.argv[1]))
    bad = 0
    for path in sys.argv[2:]:
        golden = json.load(open(path))
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(path))))
        data = os.path.join(root, golden["data"])
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for name, exp in sorted(golden["queries"].items()):
            if not exp["oracle"]:
                print(f"ROWS-ONLY {name}")
                continue
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            n, dg = digest(cols, cur.fetchall())
            if (n, dg) == (exp["rows"], exp["digest"]):
                print(f"PASS {name} ({n} rows)")
            else:
                bad += 1
                print(f"FAIL {name}: duckdb {n} rows {dg}, golden {exp['rows']} rows {exp['digest']}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
