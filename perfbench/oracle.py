"""The benchmark's own NumPy oracle for every op it times.

Pinned semantics (the package's ``array_reduce`` contract):

* NULL rows and empty arrays are skipped;
* NULL elements contribute the identity;
* ragged arrays truncate to the group's minimum length;
* a group with no qualifying array reduces to NULL;
* integer sums are exact, then clamped once to the int64 range.

Results are maps from a group key to a list, a number or ``None``.
Integers must match exactly, doubles within ``REL_TOL``.
"""

from __future__ import annotations

import math

import numpy as np

from perfbench.inputs import EventFile, NarrowInput

INT64_MIN, INT64_MAX = -(2**63), 2**63 - 1
REL_TOL = 1e-9


def _clamp(values: list[int]) -> list[int]:
    return [min(max(v, INT64_MIN), INT64_MAX) for v in values]


# ---------------------------------------------------------------------------
# narrow_groups
# ---------------------------------------------------------------------------

def narrow_expected(inp: NarrowInput, op: str = "sum") -> dict:
    """Grouped ``sum`` (of ``arr``, exact then clamped) or ``product`` (of
    ``parr``, exact) over ragged, NULL-bearing arrays."""
    valid = inp.lengths > 0
    big = np.iinfo(np.int64).max
    minlen = np.full(inp.groups, big, dtype=np.int64)
    np.minimum.at(minlen, inp.g[valid], inp.lengths[valid])

    starts = np.repeat(np.cumsum(inp.lengths) - inp.lengths, inp.lengths)
    pos = np.arange(len(inp.values)) - starts
    eg = np.repeat(inp.g, inp.lengths)
    keep = pos < minlen[eg]
    cell = eg[keep] * 8 + pos[keep]
    # two int64 accumulators per cell: the high and low 32-bit halves of
    # the sum, or the counts of negative and of +-2 factors
    a = np.zeros(inp.groups * 8, dtype=np.int64)
    b = np.zeros(inp.groups * 8, dtype=np.int64)
    if op == "sum":
        vals = np.where(inp.elem_null, 0, inp.values)[keep]
        np.add.at(a, cell, vals >> 32)
        np.add.at(b, cell, vals & 0xFFFFFFFF)
    elif op == "product":
        vals = np.where(inp.elem_null, 1, inp.pvalues)[keep]
        np.add.at(a, cell, vals < 0)
        np.add.at(b, cell, np.abs(vals) == 2)
    else:
        raise ValueError(f"unknown narrow op {op!r}")

    def value(i: int) -> int:
        if op == "sum":
            return int(a[i]) * 2**32 + int(b[i])
        return (-1) ** int(a[i]) * 2 ** int(b[i])

    out = {}
    for grp in range(inp.groups):
        n = int(minlen[grp])
        out[grp] = (None if n == big else
                    _clamp([value(grp * 8 + p) for p in range(n)]))
    return out


# ---------------------------------------------------------------------------
# stream_vectors
# ---------------------------------------------------------------------------

class StreamOracle:
    """Running ``{(window_start_s, event_type, pos): sum}`` of the
    per-event vector ``[value, value^2, 1.0]`` over 1-hour windows, fed
    one published file at a time; a NULL value contributes the identity
    0 to the first two positions."""

    def __init__(self) -> None:
        self.sums: dict = {}

    def add(self, f: EventFile) -> None:
        win = (f.event_s // 3600) * 3600
        v = np.nan_to_num(f.value, nan=0.0)
        uniq, inv = np.unique(win * 16 + f.event_type, return_inverse=True)
        for pos, col in enumerate((v, v * v, np.ones_like(v))):
            part = np.zeros(len(uniq))
            np.add.at(part, inv, col)
            for k, s in zip(uniq, part):
                key = (int(k // 16), f"t{int(k % 16)}", pos)
                self.sums[key] = self.sums.get(key, 0.0) + float(s)

    def expected(self) -> dict:
        return dict(self.sums)


# ---------------------------------------------------------------------------
# comparison
# ---------------------------------------------------------------------------

def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return a == b or math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0)
    return a == b


def mismatch(expected: dict, got: dict) -> str | None:
    """First difference between two result maps, or ``None``.

    A group missing from ``got`` reads as a NULL result: the exploded
    form emits no row for a group without qualifying arrays, where the
    expression and SQL forms emit the row with NULL."""
    for key in expected.keys() | got.keys():
        want, have = expected.get(key), got.get(key)
        if want is None or have is None:
            if want is not have:
                return f"group {key!r}: expected {want!r}, got {have!r}"
            continue
        if not isinstance(want, list):
            want, have = [want], [have]
        if len(want) != len(have):
            return (f"group {key!r}: expected length {len(want)}, "
                    f"got {len(have)}")
        for i, (w, h) in enumerate(zip(want, have)):
            if not _same(w, h):
                return f"group {key!r} pos {i}: expected {w!r}, got {h!r}"
    return None
