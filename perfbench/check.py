"""Output checks: per-url row hashes for extraction, canonical rows for
queries. Every function returns the number of failed rows."""

from __future__ import annotations

import math
from collections import Counter
from datetime import date, datetime
from decimal import Decimal


def _cell(v):
    """Canonical JSON-safe value: engines differ in numeric and container
    types (Decimal vs float, numpy vs list), not in values."""
    if v is None:
        return None
    if hasattr(v, "tolist"):          # numpy scalar or array
        v = v.tolist()
    if isinstance(v, bool):
        return v
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return None if math.isnan(f) else round(f, 6)
    if isinstance(v, int):
        return v
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return sorted((str(k), _cell(x)) for k, x in v.items())
    return str(v)


def _key(row) -> str:
    return repr(list(row))


def canon_rows(frame) -> list:
    """Canonical, sorted rows of a pandas frame (columns sorted by name)."""
    cols = sorted(frame.columns)
    frame = frame.astype(object).where(frame.notna(), None)
    rows = [[_cell(v) for v in r]
            for r in frame[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=_key)


def canon_spark_rows(rows) -> list:
    """Canonical, sorted rows of collected Spark ``Row`` objects."""
    out = []
    for r in rows:
        d = r.asDict(recursive=True)
        out.append([_cell(d[c]) for c in sorted(d)])
    return sorted(out, key=_key)


def diff_rows(expected: list, actual: list) -> int:
    """Rows missing from ``actual`` plus rows it has in excess."""
    e = Counter(_key(r) for r in expected)
    a = Counter(_key(r) for r in actual)
    return sum(((e - a) + (a - e)).values())


def diff_hashes(expected: dict, actual: list) -> int:
    """Failed urls of one extraction pass: ``expected`` maps url -> hash,
    ``actual`` is the pass's (url, hash) pairs. A url fails if it is
    missing, duplicated, unexpected or hashes differently."""
    seen = Counter(u for u, _ in actual)
    bad = {u for u, n in seen.items() if n > 1 or u not in expected}
    bad |= {u for u, h in actual if expected.get(u, h) != h}
    bad |= set(expected) - set(seen)
    return len(bad)
