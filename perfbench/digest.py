"""The digest sink's canonical form, in Python, for rows DuckDB returns.

Must agree with `perfbench.Digest` in harness/DigestSink.scala: a value's
canonical text, the column order (by name), the per-row MD5 and the
order-independent sum are the same, so a Spark result and a DuckDB oracle
result with equal values render the same digest string.
"""

import datetime
import decimal
import hashlib

_SIX = decimal.Decimal("0.000001")


def _decimal(d):
    s = format(d.quantize(_SIX, rounding=decimal.ROUND_HALF_EVEN), "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "0" if s == "-0" else s


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return _decimal(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _decimal(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (".%06d" % v.microsecond if v.microsecond else "")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return str(v)


def hash64(text):
    return int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")


def digest(columns, rows):
    """(row count, digest string) of a result, as the digest sink gives."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        total += hash64("\x01".join(canon(r[i]) for i in order))
        n += 1
    cols = hash64("\x01".join(sorted(columns))) & 0xFFFFFFFF
    return n, "%d:%08x:%016x" % (n, cols, total % (1 << 64))
