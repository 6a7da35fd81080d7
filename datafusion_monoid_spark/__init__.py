"""datafusion_monoid_spark — a PySpark-native analytics engine.

Re-implements (Spark-first, not a port) the capabilities of the
``friendlymatthew/datafusion-monoid`` reference crate: an element-wise
array **monoid-reduce** aggregate family (``array_reduce_sum``,
``array_reduce_product``, ``array_reduce_max``, ``array_reduce_min``)
over columns of numeric arrays (reference: ``src/monoid.rs:226-332``),
hosted on Spark SQL / Catalyst, plus large-scale training-data pipeline
operators (dedup, similarity search, multimodal columns, text analysis).

Layout:
    monoid.py      — the Monoid algebra (identity + associative combine)
    session.py     — SparkSession factory tuned for this engine
    operators/     — array_reduce (3 forms), dedup, similarity, text, multimodal
    functions/     — reusable column-expression helpers
    sources/       — test-data loaders (TPC-H-ish parquet star schema)
    plans/         — plan-inspection utilities (pushdown / codegen checks)
    streaming/     — Structured Streaming monoid aggregation
"""

from datafusion_monoid_spark.monoid import (
    Monoid,
    MONOIDS,
    get_monoid,
    ELEMENT_TYPES,
)
from datafusion_monoid_spark.session import get_spark
from datafusion_monoid_spark.sql_route import route_monoid_sql
from datafusion_monoid_spark.operators.array_reduce import (
    array_reduce,
    array_reduce_exploded,
    array_reduce_pandas,
    register_all,
)

__all__ = [
    "Monoid",
    "MONOIDS",
    "get_monoid",
    "ELEMENT_TYPES",
    "get_spark",
    "array_reduce",
    "array_reduce_exploded",
    "array_reduce_pandas",
    "register_all",
    "route_monoid_sql",
]

__version__ = "0.4.0"
