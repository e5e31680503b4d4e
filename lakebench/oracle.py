"""DuckDB side of the catalog output check.

`digest` mirrors `Digest.scala` exactly: an order-insensitive digest of
a result set over canonical value texts, so the digest a Spark query
reports can be compared with the one its oracle SQL gives in DuckDB.
"""
import datetime as dt
import decimal
import hashlib
import uuid

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

_SIG = decimal.Context(prec=7, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
_EPOCH_DAY = dt.date(1970, 1, 1)


def _num(d):
    if d == 0:
        return "n0e0"
    sign, digits, exp = d.normalize(decimal.Context(prec=1000)).as_tuple()
    unscaled = int("".join(map(str, digits)))
    return f"n{'-' if sign else ''}{unscaled}e{exp}"


def _float(x):
    if x != x:
        return "nan"
    if x in (float("inf"), float("-inf")):
        return "inf" if x > 0 else "-inf"
    return _num(_SIG.plus(decimal.Decimal(x)))


def _micros(delta):
    return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return _num(decimal.Decimal(v))
    if isinstance(v, float):
        return _float(v)
    if isinstance(v, decimal.Decimal):
        return _num(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            return "t" + str(_micros(v - _EPOCH_UTC))
        return "t" + str(_micros(v - _EPOCH))
    if isinstance(v, dt.date):
        return "t" + str((v - _EPOCH_DAY).days * 86_400_000_000)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b" + bytes(v).hex()
    if isinstance(v, uuid.UUID):
        return "s" + str(v)
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        text = "\u001e".join(canon(r[i]) for i in order)
        h = hashlib.md5(text.encode("utf-8")).digest()
        total += int.from_bytes(h[:8], "big", signed=True)
    return f"{len(rows)}:{total % (1 << 64):016x}"


def expected_digests(data_dir, oracle_sql):
    """name -> digest of each oracle SQL over the tables in data_dir
    (an oracle error is reported as the digest `error: ...`)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = digest(cols, cur.fetchall())
        except Exception as e:  # reported, never swallowed: a failed check
            out[name] = f"error: {e}"
    con.close()
    return out
