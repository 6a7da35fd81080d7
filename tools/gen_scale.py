"""Synthetic scale-up of the driver testdata: UNION ALL x N replicas of
/root/testdata/sf0.1 with RE-KEYED ids, preserving every foreign-key
relationship, so the catalog runs unmodified at sf1 (x10) or beyond.

The driver provides sf0.001/0.01/0.1 only; sub-second sf0.1 numbers are
scheduling-overhead-bound and say nothing about scan-bound behavior.
This produces the missing scale tier:

* fact/dim tables replicate with per-replica key offsets
  (``key + i * (max_key + 1)``) — orders still join their customers,
  lineitems their orders/parts/suppliers, replica by replica;
* ``events`` re-keys both event_id and user_id, so per-user activity
  (sessions, interval joins) keeps its sf0.1 density instead of growing
  x100 pair blowups per user;
* ``documents``/``embeddings`` re-key doc_id/vec_id and keep content
  identical: each text/vector now has N exact copies — a REALISTIC
  heavy-duplication corpus for the dedup tier (every copy lands in the
  same LSH bucket by construction);
* ``region``/``nation`` are fixed dimensions, copied once.

Usage::

    python tools/gen_scale.py [N] [src_dir] [out_dir]
    # defaults: 10 /root/testdata/sf0.1 scale/sf1
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

#: table -> {column: offset_base_table_key} — which key-space each
#: re-keyed column shifts by (offset = replica * (max(key) + 1))
REKEY = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "orders": {"o_orderkey": ("orders", "o_orderkey"),
               "o_custkey": ("customer", "c_custkey")},
    "lineitem": {"l_orderkey": ("orders", "o_orderkey"),
                 "l_partkey": ("part", "p_partkey"),
                 "l_suppkey": ("supplier", "s_suppkey")},
    "events": {"event_id": ("events", "event_id"),
               "user_id": ("events", "user_id")},
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}
COPY_ONLY = ["region", "nation"]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else "scale/sf1"
    os.makedirs(out, exist_ok=True)

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count() or 8}")

    spans: dict[tuple[str, str], int] = {}
    for tbl, cols in REKEY.items():
        for col, base in cols.items():
            if base not in spans:
                spans[base] = con.sql(
                    f"SELECT max({base[1]}) + 1 FROM "
                    f"'{src}/{base[0]}.parquet'").fetchone()[0]

    for tbl in COPY_ONLY:
        con.sql(f"COPY (FROM '{src}/{tbl}.parquet') TO "
                f"'{out}/{tbl}.parquet' (FORMAT PARQUET)")
        print(f"{tbl}: copied")

    for tbl, cols in REKEY.items():
        t0 = time.time()
        desc = con.sql(f"DESCRIBE SELECT * FROM '{src}/{tbl}.parquet'")
        all_cols = [r[0] for r in desc.fetchall()]
        sel = ", ".join(
            f"{c} + r.i * {spans[cols[c]]} AS {c}" if c in cols else c
            for c in all_cols)
        con.sql(f"""
            COPY (SELECT {sel}
                  FROM '{src}/{tbl}.parquet'
                  CROSS JOIN (SELECT unnest(range({n})) AS i) r)
            TO '{out}/{tbl}.parquet' (FORMAT PARQUET)""")
        rows = con.sql(f"SELECT count(*) FROM '{out}/{tbl}.parquet'"
                       ).fetchone()[0]
        print(f"{tbl}: x{n} -> {rows} rows ({time.time() - t0:.1f}s)")


if __name__ == "__main__":
    main()
