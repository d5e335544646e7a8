"""Row count and order-insensitive digest of a query result, rendered the
same way as the harness's `Digest.scala`: columns sorted by name, each row
rendered to a canonical string (floats rounded to 6 significant digits),
MD5 per row, and the digest the sum of the row hashes modulo 2^64 plus the
hash of the column header."""
import datetime as dt
import hashlib
import math
from decimal import ROUND_HALF_EVEN, Context, Decimal

_SIG6 = Context(prec=6, rounding=ROUND_HALF_EVEN)
_MASK = (1 << 64) - 1


def number(x) -> str:
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        if math.isinf(x):
            return "Inf" if x > 0 else "-Inf"
        x = Decimal(x)
    if x == 0:
        return "0"
    return format(_SIG6.plus(x).normalize(), "f")


def render(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(e) for e in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(render(e) for e in v.values()) + "}"
    return str(v)


def _h(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def digest(columns, rows):
    """(row count, digest hex) of `rows` (tuples in `columns` order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = _h("\x1f".join(columns[i] for i in order))
    n = 0
    for r in rows:
        n += 1
        total += _h("\x1f".join(render(r[i]) for i in order))
    return n, f"{total & _MASK:016x}"
