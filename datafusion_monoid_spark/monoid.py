"""The monoid algebra: identity element + associative binary combine.

Mirror of the reference's ``MonoidOp`` trait (``src/monoid.rs:23-32``) and
the 4-ops x primitive-types macro block (``src/monoid.rs:52-221``).  Each
:class:`Monoid` is defined ONCE, in :func:`_build`, as Spark SQL
expression text, and every Spark form renders from that text with
``F.expr``/``selectExpr`` (one parse per step instead of one Py4J call
per Column operation):

* the fold (``array_reduce``, per position of a group's arrays):
  ``lift`` (``{x}``: element -> accumulator of ``acc_type``),
  ``combine`` (``{a}``, ``{b}``: accumulators) and ``finish``
  (``{x}``: accumulator -> element);
* the per-(group, pos) cells (``array_reduce_exploded``, the routed SQL
  form and the stream): ``aggs``, partial-aggregation-capable built-in
  aggregates over one element ``{e}``, and ``cell``, the element value
  from their outputs (plus ``gray`` for the exact 64-bit product pass).

The Python fold (the registered SQL names) reads ``op``, ``elem`` and
``identity`` and mirrors the same semantics in NumPy.

Semantics decisions (documented deviations, see SURVEY.md §2.1 / §7):

* **Saturating integer arithmetic** (reference ``src/monoid.rs:85-138``):
  Spark ints wrap (ANSI off), so integer sums and products are computed
  exactly and clamped to the element type's range.  **Integer SUM is
  exact-then-clamp in every form**: the Spark forms add two BIGINT limbs
  (``x = h * 2^32 + l``, ``0 <= l < 2^32``; exact below 2^31 rows per
  cell, and a cell past that raises) and clamp once in DECIMAL(38,0)
  (``uint64``, whose carrier does not fit a limb, sums in DECIMAL(38,0));
  the Python fold adds exact ints and clamps once -- deterministic,
  unlike the reference's per-pair saturation, which is order-dependent
  for mixed-sign overflow.
  **Integer PRODUCT** saturates per pair in the fold and Python forms (the
  accumulator must stay bounded) and is exact-then-clamp in the cell
  forms: sign from the parity of negative factors, a zero short-circuit,
  overflow from ``sum(log2|x|)``, the magnitude from a double product
  (exact below 2^53) and, for 64-bit carriers, an exact DECIMAL(38,0)
  pass over the ``gray`` cells in (2^52.5, 2^(bits+0.5)].  Once a
  product leaves the element range, a later factor of magnitude <= 1
  tells the two schemes apart (per-pair: ``sat(2^62 * 2) * -1 =
  -(2^63-1)``; exact-then-clamp: ``clamp(-2^63) = -2^63``); all forms
  agree whenever no intermediate product leaves the element range.
* **Unsigned types**: Spark has none.  ``uint8/16/32`` map to the next
  wider signed type; ``uint64`` maps to ``DECIMAL(20,0)`` clamped to
  ``[0, 2^64-1]``.
* **Float identities** follow the reference exactly: max -> -inf,
  min -> +inf (``src/monoid.rs:173-180, 205-212``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Element types.  Spark-representable mirror of the reference's 10 primitive
# types (src/monoid.rs:34-37).  Unsigned types map to wider signed types
# (documented deviation, SURVEY.md §7).
# ---------------------------------------------------------------------------

INT_BOUNDS: dict[str, tuple[int, int]] = {
    "tinyint": (-(2**7), 2**7 - 1),
    "smallint": (-(2**15), 2**15 - 1),
    "int": (-(2**31), 2**31 - 1),
    "bigint": (-(2**63), 2**63 - 1),
    # unsigned range emulation on the wider signed carrier
    "uint8": (0, 2**8 - 1),
    "uint16": (0, 2**16 - 1),
    "uint32": (0, 2**32 - 1),
    "uint64": (0, 2**64 - 1),
}

#: type-name -> Spark carrier type
ELEMENT_TYPES: dict[str, T.DataType] = {
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    # unsigned carriers (deviation: Spark has no unsigned ints)
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
}

# wide type used for exact integer arithmetic before clamping
_WIDE = "decimal(38,0)"


def _literal(v: float | int, type_: str) -> str:
    """``v`` as a typed SQL literal; a string cast covers u64 bounds and
    the float infinities alike."""
    return f"CAST('{v}' AS {type_})"


# ---------------------------------------------------------------------------
# Monoid
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Monoid:
    """identity + associative combine, defined once as SQL text.

    Mirror of ``MonoidOp`` (reference ``src/monoid.rs:23-32``).
    """

    op: str                       # "sum" | "product" | "max" | "min"
    elem: str                     # key into ELEMENT_TYPES
    identity: float | int        # python literal identity element
    acc_type: str                 # SQL type of the fold accumulator
    lift: str                     # over {x}: element -> accumulator
    combine: str                  # over {a}, {b}: accumulators
    finish: str                   # over {x}: accumulator -> element
    #: (alias, aggregate over the element {e}) per (group, pos) cell
    aggs: tuple[tuple[str, str], ...]
    cell: str                     # over the aggs aliases -> element
    #: condition on the aggs under which a cell needs the exact pass
    gray: str | None

    @property
    def name(self) -> str:
        return f"array_reduce_{self.op}"

    @property
    def spark_type(self) -> T.DataType:
        return ELEMENT_TYPES[self.elem]

    @property
    def carrier(self) -> str:
        return self.spark_type.simpleString()

    @property
    def identity_sql(self) -> str:
        return _literal(self.identity, self.carrier)

    def agg_columns(self, e: str) -> list[Column]:
        """The per-cell aggregates over element text ``e``, as Columns."""
        out = []
        for alias, agg in self.aggs:
            agg = agg.format(e=e)
            if agg.startswith("product("):
                # Spark SQL has no `product` routine; only the DataFrame
                # API reaches the aggregate
                out.append(F.product(F.expr(agg[len("product("):-1]))
                           .alias(alias))
            else:
                out.append(F.expr(agg).alias(alias))
        return out


#: rows one (group, pos) cell may hold before the two-limb integer sum
#: could overflow its low limb: each low limb is < 2^32
_SUM_MAX_ROWS = 2**31


def _build(op: str, elem: str) -> Monoid:
    c = ELEMENT_TYPES[elem].simpleString()
    is_f = elem not in INT_BOUNDS
    if not is_f:
        lo, hi = (_literal(b, _WIDE) for b in INT_BOUNDS[elem])
        clamp = f"CAST(least(greatest({{x}}, {lo}), {hi}) AS {c})"
    acc_type, lift, finish = c, "{x}", "{x}"
    aggs = (("__a", f"{op}({{e}})"),)
    # sum/product aggregates widen (float -> double): cast back
    cell = f"CAST(`__a` AS {c})"
    gray = None

    if op == "sum":
        identity: float | int = 0.0 if is_f else 0
        combine = "{a} + {b}"
        if elem == "uint64":
            # the DECIMAL(20,0) carrier does not fit a BIGINT limb
            acc_type, lift, finish = _WIDE, f"CAST({{x}} AS {_WIDE})", clamp
            aggs = (("__a", f"sum(CAST({{e}} AS {_WIDE}))"),)
            cell = clamp.format(x="`__a`")
        elif not is_f:
            # exact-then-clamp in two BIGINT limbs, x = h * 2^32 + l with
            # 0 <= l < 2^32: both limb sums are exact below 2^31 rows,
            # and long sums run far faster than DECIMAL(38,0) ones
            v = "CAST({x} AS BIGINT)"
            acc_type = "struct<h:bigint,l:bigint>"
            lift = (f"named_struct('h', shiftright({v}, 32), "
                    f"'l', {v} & 4294967295)")
            combine = "named_struct('h', {a}.h + {b}.h, 'l', {a}.l + {b}.l)"
            limbs = "CAST({h} AS decimal(38,0)) * 4294967296 + {l}"
            finish = clamp.format(x=limbs.format(h="{x}.h", l="{x}.l"))
            aggs = (("__h", "sum(shiftright(CAST({e} AS BIGINT), 32))"),
                    ("__l", "sum(CAST({e} AS BIGINT) & 4294967295)"),
                    ("__n", "count(1)"))
            cell = (f"IF(`__n` < {_SUM_MAX_ROWS}, "
                    + clamp.format(x=limbs.format(h="`__h`", l="`__l`"))
                    + f", raise_error('array_reduce_sum: a (group, position) "
                    f"cell of {_SUM_MAX_ROWS} or more rows is beyond the "
                    f"exact {elem} sum'))")
    elif op == "product":
        identity = 1.0 if is_f else 1
        combine = "{a} * {b}"
        if not is_f:
            # per-pair saturation keeps the fold accumulator bounded
            combine = clamp.format(
                x=f"CAST({{a}} AS {_WIDE}) * CAST({{b}} AS {_WIDE})")
    elif op == "max":
        # identity = type MIN / -inf (reference src/monoid.rs:157-188)
        identity = float("-inf") if is_f else INT_BOUNDS[elem][0]
        combine = "greatest({a}, {b})"
    elif op == "min":
        # identity = type MAX / +inf (reference src/monoid.rs:190-221)
        identity = float("inf") if is_f else INT_BOUNDS[elem][1]
        combine = "least({a}, {b})"
    else:  # pragma: no cover
        raise ValueError(f"unknown op {op!r}")

    if op == "product" and not is_f:
        # No exact integer product aggregate exists: sign from the parity
        # of negative factors, zero short-circuit, overflow from
        # sum(log2|x|) (all terms >= 0, so its float error stays ~1e-5
        # even at 10^9 rows, far inside the 0.5-bit guard bands), and the
        # magnitude from the double product, exact below 2^53.
        bits = math.log2(INT_BOUNDS[elem][1] + 1)
        aggs = (
            ("__zero", "max(CAST({e} = 0 AS INT))"),
            ("__negpar", "sum(IF({e} < 0, 1, 0)) % 2"),
            ("__logmag", "sum(IF({e} <> 0, log2(abs(CAST({e} AS DOUBLE))), 0D))"),
            ("__prodd", "product(CAST({e} AS DOUBLE))"),
        )
        signed = "IF(`__negpar` = 1, {m}, {p})"
        exact = ""
        if bits > 53:
            # 64-bit carriers: in-range magnitudes above 2^53 exist, so
            # cells in the band the double mantissa cannot carry take the
            # exact DECIMAL(38,0) product of their factors (`__mag`)
            gray = ("`__zero` = 0 AND `__logmag` >= 52.5 "
                    f"AND `__logmag` <= {bits + 0.5}")
            exact = ("WHEN `__mag` IS NOT NULL THEN "
                     + clamp.format(x=signed.format(m="-`__mag`", p="`__mag`"))
                     + " ")
        cell = (f"CASE WHEN `__zero` = 1 THEN CAST(0 AS {c}) {exact}"
                f"WHEN `__logmag` > {bits + 0.5} THEN "
                + clamp.format(x=signed.format(m=lo, p=hi))
                + " ELSE "
                + clamp.format(x=f"CAST(round(`__prodd`) AS {_WIDE})")
                + " END")

    return Monoid(op=op, elem=elem, identity=identity, acc_type=acc_type,
                  lift=lift, combine=combine, finish=finish, aggs=aggs,
                  cell=cell, gray=gray)


OPS = ("sum", "product", "max", "min")

#: (op, elem) -> Monoid, the 4 x 10 matrix (src/monoid.rs:52-221)
MONOIDS: dict[tuple[str, str], Monoid] = {
    (op, elem): _build(op, elem) for op in OPS for elem in ELEMENT_TYPES
}


def get_monoid(op: str, elem: str = "int") -> Monoid:
    """Factory, mirror of ``array_reduce_*_generic`` (src/monoid.rs:491-526)."""
    try:
        return MONOIDS[(op, elem)]
    except KeyError:
        raise ValueError(
            f"no monoid for op={op!r} elem={elem!r}; "
            f"ops={OPS}, elems={sorted(ELEMENT_TYPES)}") from None
