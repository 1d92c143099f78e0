"""DuckDB oracle for the benchmark's gate ops.

Runs graft's oracle SQL (`SparkEntry.oracleSql`, passed in by the
harness) over the generated corpus and reduces each result to the same
order-independent digest the harness computes for Spark results (see
`harness/src/main/scala/graftbench/Digest.scala`): row count, sorted
column names, and the sum mod 2^64 of the first 8 bytes (big-endian) of
the MD5 of each row's canonical text.
"""
import datetime
import decimal
import glob
import hashlib
import os
import struct

TWO_POW_53 = 9007199254740992.0
EPOCH = datetime.datetime(1970, 1, 1)


def canon_double(d):
    if d != d:
        return "nan"
    if d in (float("inf"), float("-inf")):
        return "inf" if d > 0 else "-inf"
    if d == int(d) and abs(d) < TWO_POW_53:
        return str(int(d))
    return format(struct.unpack(">Q", struct.pack(">d", d))[0], "x")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        text = "\x1f".join(canon(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
    return {"rows": len(rows), "cols": ",".join(cols[i] for i in order),
            "hash": format(total % (1 << 64), "x")}


def run(data_dir, sql_by_op):
    """Digest of each oracle query over the parquet tables in data_dir."""
    import duckdb
    con = duckdb.connect(config={"threads": os.cpu_count() or 1, "memory_limit": "2GB"})
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    out = {}
    for op, sql in sorted(sql_by_op.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[op] = digest(cols, cur.fetchall())
    con.close()
    return out
