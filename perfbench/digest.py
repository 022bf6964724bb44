"""Order-independent result digest over DuckDB results.

Mirrors graftbench.Digest (perfbench/src/Digest.scala) value for value:
columns sorted by name, floating values rounded to 9 decimals (half-even on
the exact binary value), integers as integers, timestamps as epoch
microseconds, everything else as text. Each row's canonical text is hashed
(SHA-256, first 8 bytes) and the hashes are summed modulo 2^64.
"""
import datetime
import decimal
import hashlib

_CTX = decimal.Context(prec=200)
_NINE = decimal.Decimal(1).scaleb(-9)
_EPOCH = datetime.datetime(1970, 1, 1)


def _number(d):
    if d == 0:
        return "0"
    return format(d.normalize(_CTX), "f")


def _real(x):
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "Inf" if x > 0 else "-Inf"
    return _number(decimal.Decimal(x).quantize(_NINE, decimal.ROUND_HALF_EVEN, _CTX))


def canon(v):
    if v is None:
        return "\u0000"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _real(v)
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - _EPOCH
        return str((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _hash64(s):
    return int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        total = (total + _hash64("\u001f".join(canon(r[i]) for i in order))) % (1 << 64)
    cols = _hash64(",".join(columns[i] for i in order))
    return f"{len(rows)}:{cols:016x}:{total:016x}"
