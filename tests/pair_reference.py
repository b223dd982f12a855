"""Pure-Python reference for ts_pair_operation (tf:727-756) over long rows.

Series are matched by ``series_id``; a series present on one side only
yields nothing.  Per matched series:

- exactly one side has one row: that row's value is a scalar applied over
  every row of the other side (tf:743-750);
- otherwise (both single or both multi): index alignment, i.e. an inner
  join on epoch, so a duplicated epoch yields every left×right pair;
- null and NaN results are dropped (tf:752); ``div`` maps ÷0 to null and
  also drops ±inf (tf:982-986).
"""

from __future__ import annotations

import math
from collections import defaultdict


def _div(a, b):
    return None if b == 0 else a / b


_FNS = {
    "add": lambda a, b: a + b,
    "sub": lambda a, b: a - b,
    "mul": lambda a, b: a * b,
    "div": _div,
}


def pair_op_reference(rows1, rows2, op: str) -> list[tuple[int, int, float]]:
    """rows: iterables of (series_id, epoch, value) with value None, NaN,
    ±inf or finite.  Returns the output rows, unsorted."""
    fn = _FNS[op]

    def apply(a, b):
        if a is None or b is None:
            return None
        return fn(a, b)

    by1, by2 = defaultdict(list), defaultdict(list)
    for s, e, v in rows1:
        by1[s].append((e, v))
    for s, e, v in rows2:
        by2[s].append((e, v))

    out = []
    for sid in by1.keys() & by2.keys():
        a, b = by1[sid], by2[sid]
        if len(a) == 1 and len(b) != 1:
            k = a[0][1]
            res = [(e, apply(k, v)) for e, v in b]
        elif len(b) == 1 and len(a) != 1:
            k = b[0][1]
            res = [(e, apply(v, k)) for e, v in a]
        else:
            res = [(e1, apply(v1, v2)) for e1, v1 in a for e2, v2 in b if e1 == e2]
        for e, v in res:
            if v is None or math.isnan(v):
                continue
            if op == "div" and math.isinf(v):
                continue
            out.append((sid, e, v))
    return out
