"""Exact comparison of engine results with DuckDB oracle results.

Both sides are reduced to one canonical Python form: the engine's rows
arrive as the harness's tagged JSON (see `Json.scala`), DuckDB's as
Python values. Columns are matched by name and compared in name order,
rows in order (every query and face ends in a total ORDER BY) unless the
caller says the result is unordered. Values must be equal exactly, with
null and NaN equal to each other and a date equal to its midnight
timestamp, as in the engine's correctness gate (tools/check.py).
"""
import base64
import datetime
import decimal
import json
import math

_EPOCH = datetime.datetime(1970, 1, 1)


def _micros(dt):
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    delta = dt - _EPOCH
    return (delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds


def _day(d):
    """A date as the timestamp of its midnight: the engine's correctness gate
    compares a DATE and a midnight TIMESTAMP as equal, and so does this."""
    return ("ts", (d - _EPOCH.date()).days * 86400 * 1000000)


class _Null:
    """null and NaN, equal to each other and to nothing else."""

    def __eq__(self, other):
        return isinstance(other, _Null)

    def __hash__(self):
        return 0

    def __repr__(self):
        return "null"


NULL = _Null()


def from_engine(v):
    """Canonical form of one value of the harness's JSON encoding."""
    if v is None:
        return NULL
    if isinstance(v, dict):
        if len(v) == 1:
            (tag, x), = v.items()
            if tag == "$dec":
                return decimal.Decimal(x)
            if tag == "$date":
                return _day(datetime.date.fromisoformat(x))
            if tag == "$ts":
                return ("ts", int(x))
            if tag == "$bin":
                return ("bin", x)
            if tag == "$f":
                return NULL if x == "NaN" else float(x)
        return {k: from_engine(x) for k, x in v.items()}
    if isinstance(v, list):
        return [from_engine(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return NULL
    return v


def from_duckdb(v):
    """Canonical form of one DuckDB (Python API) value."""
    if v is None:
        return NULL
    if isinstance(v, float):
        return NULL if math.isnan(v) else v
    if isinstance(v, datetime.datetime):
        return ("ts", _micros(v))
    if isinstance(v, datetime.date):
        return _day(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("bin", base64.b64encode(bytes(v)).decode())
    if isinstance(v, (list, tuple)):
        return [from_duckdb(x) for x in v]
    if isinstance(v, dict):
        return {k: from_duckdb(x) for k, x in v.items()}
    return v


def _same(a, b):
    if isinstance(a, decimal.Decimal) or isinstance(b, decimal.Decimal):
        try:
            return decimal.Decimal(str(a)) == decimal.Decimal(str(b))
        except (decimal.InvalidOperation, TypeError):
            return False
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, bool) != isinstance(b, bool) and not (
            isinstance(a, (int, float)) and isinstance(b, (int, float))):
        return False
    return a == b


def _sort_key(row):
    return json.dumps(row, default=repr, sort_keys=True)


def engine_result(doc):
    """(columns, rows) from one `results/<key>.json` document."""
    return doc["columns"], [[from_engine(v) for v in r] for r in doc["rows"]]


def duckdb_result(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, [[from_duckdb(v) for v in r] for r in cur.fetchall()]


def diff(got, exp, ordered=True, columns=None):
    """None when `got` equals `exp`, else a one-line description.

    `got` and `exp` are (columns, rows). `columns`, when given, restricts
    the comparison to those columns (both sides must have them).
    """
    gcols, grows = got
    ecols, erows = exp
    names = sorted(columns) if columns else sorted(ecols)
    if not columns and sorted(gcols) != names:
        return f"columns differ: got {sorted(gcols)}, expected {names}"
    missing = [c for c in names if c not in gcols or c not in ecols]
    if missing:
        return f"missing columns {missing}"
    gi = [gcols.index(c) for c in names]
    ei = [ecols.index(c) for c in names]
    g = [[r[i] for i in gi] for r in grows]
    e = [[r[i] for i in ei] for r in erows]
    if len(g) != len(e):
        return f"row count differs: got {len(g)}, expected {len(e)}"
    if not ordered:
        g.sort(key=_sort_key)
        e.sort(key=_sort_key)
    for n, (gr, er) in enumerate(zip(g, e)):
        for c, gv, ev in zip(names, gr, er):
            if not _same(gv, ev):
                return f"row {n} column {c}: got {gv!r}, expected {ev!r}"
    return None
