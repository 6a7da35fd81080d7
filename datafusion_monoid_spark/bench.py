"""Benchmark harness, importable as ``python -m datafusion_monoid_spark.bench``.

Runs the query catalog at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and emits ONE
compact JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"monoid_sum_double": sec, ...},
     "duckdb": {"value": total, "queries": {...}}, "ratio": spark/duckdb,
     "sf": 0.1}

The FULL record is written to ``bench_result.json`` (``out_path``
argument / ``$SPARK_GRAFT_BENCH_OUT`` / cwd); stdout gets a COMPACT
summary line (totals, ratio, the 10 slowest queries), sized for log
captures that keep only the last ~2000 characters.

Timing protocol: each query is forced end-to-end with the noop writer
(full materialization, no driver collect); the reported number is the
MEDIAN of ``$SPARK_GRAFT_BENCH_REPEATS`` (default 3) runs — medians are
robust to ambient-load outliers.

The DuckDB column times each catalog entry's ``oracle_sql`` on the SAME
parquet tables in the same run (threads = $SPARK_GRAFT_CPUS,
``fetchall`` to force materialization), a single-node baseline measured
beside the Spark numbers.  Disable with ``SPARK_GRAFT_BENCH_DUCKDB=0``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

from datafusion_monoid_spark.session import get_spark
from datafusion_monoid_spark import queries as qcat

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
RUN_DUCKDB = os.environ.get("SPARK_GRAFT_BENCH_DUCKDB", "1") != "0"
#: DuckDB repeats — 1 by default: the column is a sanity baseline, not
#: a tuning target.
DUCKDB_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_DUCKDB_REPEATS", "1"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
#: comma-separated subset of catalog names to run (empty = whole
#: catalog)
ONLY = {n for n in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if n}


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _duckdb_times(catalog) -> tuple[dict[str, float], dict[str, str]]:
    """Time each oracle_sql in DuckDB on the same parquet tables —
    the single-node baseline column, measured in the same run.
    Returns (times, errors): a failing oracle (e.g. out of memory at a
    scale tier) is recorded and skipped, like a failing Spark query."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={CPUS}")
    for t in qcat.TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{SF_DIR}/{t}.parquet'")
    out: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, (_, oracle) in catalog.items():
        runs = []
        for _ in range(DUCKDB_REPEATS):
            t0 = time.perf_counter()
            try:
                con.sql(oracle).fetchall()
            except Exception as e:
                # DuckDB states the error on its first line
                errors[name] = str(e).splitlines()[0][:300]
                runs = []
                break
            runs.append(time.perf_counter() - t0)
        if runs:
            out[name] = round(statistics.median(runs), 3)
    con.close()
    return out, errors


def main(out_path: str | None = None) -> None:
    out_path = (out_path
                or os.environ.get("SPARK_GRAFT_BENCH_OUT")
                or os.path.join(os.getcwd(), "bench_result.json"))
    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    catalog = qcat.catalog()
    if ONLY:
        catalog = {n: v for n, v in catalog.items() if n in ONLY}

    times: dict[str, float] = {}
    # warm-up: JVM + codegen + parquet footer caches
    _force(qcat.catalog()["monoid_sum_double"][0](spark, SF_DIR))

    errors: dict[str, str] = {}
    for name, (fn, _) in catalog.items():
        runs = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            try:
                _force(fn(spark, SF_DIR))
            except Exception as e:
                # one failing query must not zero the whole bench (e.g.
                # the registered names' group-size guard firing at a
                # scale tier) — record and move on
                errors[name] = str(e).splitlines()[-1][:300]
                runs = []
                break
            runs.append(time.perf_counter() - t0)
        if runs:
            times[name] = round(statistics.median(runs), 3)

    spark.stop()

    result = {
        "metric": "catalog wall-clock (median of %d, noop sink)" % REPEATS,
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    if errors:
        result["errors"] = errors
    if RUN_DUCKDB:
        duck, duck_errors = _duckdb_times(catalog)
        result["duckdb"] = {"value": round(sum(duck.values()), 3),
                            "queries": duck}
        if duck_errors:
            result["duckdb"]["errors"] = duck_errors
        comparable = [n for n in times if n in duck]
        sp = sum(times[n] for n in comparable)
        du = sum(duck[n] for n in comparable)
        if du > 0:
            result["ratio"] = round(sp / du, 3)

    line = json.dumps(result, separators=(",", ":"))
    with open(out_path, "w") as f:
        f.write(line + "\n")
    # stdout gets a COMPACT summary line: log captures that keep only a
    # ~2000-char tail cut a long per-query map into an unparseable
    # fragment.  Totals/ratio plus the 10 slowest queries fit; the
    # complete record lives in ``bench_result.json``.
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "queries": slowest,
        "queries_truncated": len(times) > len(slowest),
        "full_result": os.path.basename(out_path),
    }
    if "duckdb" in result:
        compact["duckdb_value"] = result["duckdb"]["value"]
    if "ratio" in result:
        compact["ratio"] = result["ratio"]
    if errors:
        compact["n_errors"] = len(errors)
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
