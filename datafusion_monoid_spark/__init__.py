"""datafusion_monoid_spark — the datafusion-monoid array-reduce UDAFs on Spark.

Re-implements (Spark-first, not a port) the ``friendlymatthew/
datafusion-monoid`` reference crate: an element-wise array
**monoid-reduce** aggregate family (``array_reduce_sum``,
``array_reduce_product``, ``array_reduce_max``, ``array_reduce_min``)
over columns of numeric arrays (reference: ``src/monoid.rs:226-332``),
hosted on Spark SQL / Catalyst.

Layout (the core is monoid.py, session.py, sql_route.py,
operators/array_reduce.py and streaming/monoid_stream.py; it imports
nothing else from the package):
    monoid.py      — the Monoid algebra (identity + associative combine)
    session.py     — SparkSession factory tuned for this engine
    sql_route.py   — route_monoid_sql: registered-name SQL text through
                     the partial-aggregation form
    operators/     — array_reduce.py: the three forms + registered names
    streaming/     — monoid_stream.py: streaming monoid reduce + upsert
                     sink
    queries.py     — the query catalog (Spark callable, DuckDB oracle)
                     over the core's entry points
    bench.py       — times the catalog against its DuckDB oracles

The pipeline tier sits outside the core and the catalog, and nothing
above imports it: pipeline_queries.py (its catalog: the monoid entries
plus the pipeline entries), the other operators/ modules (dedup,
similarity, pq, sketch, text, curation, ...), functions/ and plans/.
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
