"""Seeded input generators: NumPy -> pyarrow -> parquet.

Every generator is a pure function of ``(seed, size)``: the same seed
writes the same rows.  Besides the parquet files, each returns the raw
NumPy columns so the oracle (``perfbench.oracle``) can compute every
expected result without reading the files back through Spark.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# per-workload stream ids mixed into the seed, so two workloads run with
# the same --seed still draw independent inputs
_STREAM_IDS = {"narrow_groups": 2, "stream_vectors": 3}


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM_IDS[workload]])


def _write(table: pa.Table, path: str, row_groups: int) -> None:
    """Write ``table`` with at least ``row_groups`` row groups, so every
    core gets a split of its own."""
    rows_per_group = max(1, math.ceil(table.num_rows / row_groups))
    pq.write_table(table, path, row_group_size=rows_per_group)


# ---------------------------------------------------------------------------
# narrow_groups: many groups, short ragged arrays with NULLs
# ---------------------------------------------------------------------------

@dataclass
class NarrowInput:
    path: str
    g: np.ndarray          # (rows,) group id
    lengths: np.ndarray    # (rows,) list length, 0 for empty and NULL rows
    row_null: np.ndarray   # (rows,) bool, the whole array is NULL
    values: np.ndarray     # flat int64 elements of all non-NULL rows
    pvalues: np.ndarray    # flat int64 product factors, same layout
    elem_null: np.ndarray  # flat bool, the element is NULL
    groups: int

    @property
    def elements(self) -> int:
        return int(len(self.values))


#: the group whose sums saturate, and the group with no valid array
NARROW_SATURATING_GROUP = 0
NARROW_EMPTY_GROUP = 1


def make_narrow(out_dir: str, seed: int, rows: int, groups: int,
                row_groups: int) -> NarrowInput:
    """Arrays of 0-8 elements: per group a base length in 1..8, each row
    at least that long; ~5% NULL rows, ~5% empty arrays, ~10% NULL
    elements.  One group saturates, one holds only NULL/empty rows.

    ``parr`` has the same rows, lengths and NULLs as ``arr`` and holds
    product factors: +-1, and +-2 with probability 0.04.  A group of a
    few hundred rows keeps every product far inside int64, so the
    per-pair-saturating and exact-then-clamp products agree."""
    rng = rng_for("narrow_groups", seed)
    g = rng.integers(0, groups, rows).astype(np.int32)
    base = rng.integers(1, 9, groups)
    lengths = base[g] + rng.integers(0, 9 - base[g])
    kind = rng.random(rows)
    row_null = kind < 0.05
    empty = (kind >= 0.05) & (kind < 0.10)
    blank = g == NARROW_EMPTY_GROUP
    row_null |= blank & (kind < 0.5)
    empty |= blank & ~row_null
    lengths[row_null | empty] = 0

    n_elem = int(lengths.sum())
    values = rng.integers(-1000, 1000, n_elem, dtype=np.int64)
    elem_g = np.repeat(g, lengths)
    sat = elem_g == NARROW_SATURATING_GROUP
    values[sat] = rng.integers(2**60, 2**61, int(sat.sum()), dtype=np.int64)
    elem_null = rng.random(n_elem) < 0.10
    pvalues = (np.where(rng.random(n_elem) < 0.5, -1, 1)
               * np.where(rng.random(n_elem) < 0.04, 2, 1)).astype(np.int64)

    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])

    def lists(flat: np.ndarray) -> pa.Array:
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(flat, mask=elem_null),
            mask=pa.array(row_null))

    table = pa.table({"g": pa.array(g), "arr": lists(values),
                      "parr": lists(pvalues)})
    path = os.path.join(out_dir, "narrow.parquet")
    _write(table, path, row_groups)
    return NarrowInput(path, g, lengths, row_null, values, pvalues,
                       elem_null, groups)


# ---------------------------------------------------------------------------
# stream_vectors: time-ordered event files for the file-stream source
# ---------------------------------------------------------------------------

EVENT_TYPES = 8
T0 = 1_699_999_200          # whole hour, UTC
FILES_PER_HOUR = 3          # files 3 h .. 3 h + 2 hold events of hour h


@dataclass
class EventFile:
    path: str
    event_s: np.ndarray     # (events,) event time, whole seconds
    event_type: np.ndarray  # (events,) index into EVENT_TYPES
    value: np.ndarray       # (events,) float64, NaN where NULL

    @property
    def events(self) -> int:
        return int(len(self.value))


def make_event_file(stage_dir: str, seed: int, index: int,
                    events: int) -> EventFile:
    """Write event file ``index`` into ``stage_dir``.

    Each file draws from its own generator ``[seed, 3, index]``, so file
    ``i`` is the same no matter how many files a run ends up publishing.
    The files of one hour all spread over the whole hour, as a source
    that lands several files per window does: the maximum event time,
    and with it the watermark, moves once per hour, and no event is ever
    more than an hour behind it, far inside the 2-hour watermark delay.
    The caller moves the finished file into the watched directory with
    ``os.rename``, so the stream source never lists a half-written file."""
    rng = np.random.default_rng([seed, _STREAM_IDS["stream_vectors"], index])
    hour = T0 + index // FILES_PER_HOUR * 3600
    t = hour + rng.integers(0, 3600, events)
    typ = rng.integers(0, EVENT_TYPES, events)
    val = rng.uniform(0.0, 100.0, events)
    null = rng.random(events) < 0.02
    table = pa.table({
        "event_id": pa.array(index * events + np.arange(events,
                                                        dtype=np.int64)),
        "ts": pa.array(t * 1_000_000, type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, 10_000, events, dtype=np.int64)),
        "event_type": pa.array([f"t{k}" for k in typ]),
        "value": pa.array(val, mask=null),
        "props": pa.array(["{}"] * events),
    })
    path = os.path.join(stage_dir, f"part-{index:05d}.parquet")
    pq.write_table(table, path)
    return EventFile(path, t, typ, np.where(null, np.nan, val))
