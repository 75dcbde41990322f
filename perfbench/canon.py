"""Canonical form and order-free digest of a query result (Python side).

This is the twin of ``src/main/scala/perfbench/Canon.scala``; both follow
``tools/selfcheck.py`` (columns ordered by name, floats as ``%.9e``) and
tag every other value by type, so DuckDB's rows and Spark's rows render
to the same bytes. ``tests/canon_cases.json`` pins the two to the same
cases.
"""
import datetime
import decimal
import hashlib

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DATE = datetime.date(1970, 1, 1)
_MASK = (1 << 64) - 1


def sci(v):
    """``f"{v:.9e}"``, with NaN and the infinities spelled as in Scala."""
    if v != v:
        return "NaN"
    if v in (float("inf"), float("-inf")):
        return "inf" if v > 0 else "-inf"
    return f"{v:.9e}"


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return f"I{v}"
    if isinstance(v, float):
        return "F" + sci(v)
    if isinstance(v, decimal.Decimal):
        return "D" + format(v, "f")
    if isinstance(v, str):
        return f"S{len(v.encode('utf-8'))}:{v}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "X" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"T{(v - _EPOCH) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return f"d{(v - _EPOCH_DATE).days}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={value(x)}" for k, x in v.items()) + "}"
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def column_order(cols):
    return sorted(range(len(cols)), key=lambda i: cols[i])


def row(values, order):
    return "\x1f".join(value(values[i]) for i in order)


def digest(cols, rows):
    """``(sorted column names, "count:hex")`` of a result's rows."""
    order = column_order(cols)
    a = b = 0
    n = 0
    for r in rows:
        h = hashlib.sha256(row(r, order).encode("utf-8")).digest()
        a = (a + int.from_bytes(h[:8], "big")) & _MASK
        b = (b + int.from_bytes(h[8:16], "big")) & _MASK
        n += 1
    return sorted(cols), f"{n}:{a:016x}{b:016x}"
