"""Order-insensitive result digest, the Python twin of Digest.scala.

A result is (row count, wrapping 64-bit sum of one MD5-derived hash per
row). Each row is encoded with its columns in name order and each value in
the canonical text form of ``canon``, so DuckDB oracle rows and Spark rows
digest equal exactly when they hold the same multiset of rows.
"""
import calendar
import datetime
import decimal
import hashlib
import struct

MASK = (1 << 64) - 1


def _signed(x):
    x &= MASK
    return x - (1 << 64) if x >= 1 << 63 else x


def canon(v):
    """Canonical text of one value; must match Digest.canon in Scala."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return struct.pack(">d", 0.0 if v == 0.0 else v).hex()
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc)
        return str(calendar.timegm(v.utctimetuple()) * 1000000 + v.microsecond)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_hash(values):
    """Signed 64-bit hash of one row whose values are in column-name order."""
    text = "\x1f".join(canon(v) for v in values)
    return struct.unpack(">q", hashlib.md5(text.encode("utf-8")).digest()[:8])[0]


def digest(columns, rows):
    """(row count, hash) of rows given in result column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    n, h = 0, 0
    for r in rows:
        n += 1
        h += row_hash([r[i] for i in order])
    return n, _signed(h)
