"""Expected answers from DuckDB on the same parquet files, and the one
canonical form both sides are compared in.

Values from the wire (pg text or binary format) and values from DuckDB
are reduced to strings: numbers to 9 significant digits (the tolerance
the repo's own oracle check uses), booleans to t/f, temporal values to
``YYYY-MM-DD HH:MM:SS[.ffffff]`` with trailing zeros dropped. Rows are
compared as sorted lists, so row order never decides a match.
"""
import datetime
import decimal
import math

import duckdb

import pgclient

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
NULL = "\0NULL"


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _num(v):
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    if isinstance(v, int) and abs(v) < 10 ** 15:
        return str(v)
    return f"{float(v):.9g}"


def _temporal(s):
    s = s.replace("T", " ")
    if s.endswith("+00:00") or s.endswith("+00"):
        s = s[:s.rindex("+")]
    if "." in s and ":" in s:
        s = s.rstrip("0").rstrip(".")
    return s


def canon(v):
    """DuckDB (or decoded binary) Python value -> canonical string."""
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (int, float, decimal.Decimal)):
        return _num(v)
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return _temporal(str(v))
    if isinstance(v, bytes):
        return "\\x" + v.hex()
    return str(v)


def canon_text(oid, raw):
    """pg text-format field -> canonical string."""
    if raw is None:
        return NULL
    s = raw.decode()
    if oid in pgclient.NUMERIC_OIDS:
        if s in ("NaN", "Infinity", "-Infinity"):
            return s
        if oid in (pgclient.OID_INT2, pgclient.OID_INT4, pgclient.OID_INT8):
            return _num(int(s))
        return _num(float(s))
    if oid in (pgclient.OID_DATE, pgclient.OID_TIME, pgclient.OID_TIMESTAMP,
               pgclient.OID_TIMESTAMPTZ):
        return _temporal(s)
    return s


def wire_rows(res):
    """A Result's kept DataRows -> canonical tuples, by column type."""
    oids = [c[1] for c in res.columns]
    binary = [c[2] == 1 for c in res.columns]
    out = []
    for payload in res.rows:
        fields = pgclient.split_row(payload)
        out.append(tuple(
            canon(pgclient.decode_binary(oids[i], f)) if binary[i] else canon_text(oids[i], f)
            for i, f in enumerate(fields)))
    return out


def duck_rows(con, sql, params=None):
    return [tuple(canon(v) for v in row) for row in con.execute(sql, params or []).fetchall()]


def same_rows(got, want):
    """Multiset equality of canonical rows; returns None or a reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if got and want and len(got[0]) != len(want[0]):
        return f"{len(got[0])} columns, expected {len(want[0])}"
    g, w = sorted(got), sorted(want)
    if g != w:
        for a, b in zip(g, w):
            if a != b:
                return f"row {a!r} != expected {b!r}"
    return None
