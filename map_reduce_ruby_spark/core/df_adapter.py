"""DataFrame adapter for the map/reduce protocol (SURVEY.md §7.2 step 5).

The RDD-based ``Job`` is the full-fidelity surface (heterogeneous keys,
Ruby-comparable ordering). When keys/values fit a declared schema — the
overwhelmingly common case — the same reduce contract runs DataFrame-native,
which keeps Catalyst/AQE/codegen in play:

- ``reduce_by_key(df, keys, values, reduce_fn)``: arbitrary binary
  associative+commutative fold (the reference's ``reduce(key, v1, v2)``,
  README.md:42-50) folded pairwise over each key group's Arrow batches as
  they stream in (the iterator form of ``applyInArrow``).
- Fast path: if every value's fold is a recognized primitive ("sum", "min",
  "max", "count", "any"), the plan compiles to built-in JVM aggregates with
  map-side partial aggregation — identical semantics, ~10-100x less Python.

Scale: the fast path is a plain shuffled aggregate. The general path is one
shuffle on the keys; Spark groups in the JVM (NaN, -0.0 and NULL keys group as
in ``groupBy``) and streams each group to Python in ``maxRecordsPerBatch``
slices, so a group of any size holds one accumulator per value column.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Tuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

ReduceFn = Callable[[Any, Any, Any], Any]

_PRIMITIVES: dict[str, Callable[[str], F.Column]] = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "any": F.first,
}


# min/max as Spark ranks floats, NaN above every number (arrow's skip NaN)
def _min(col: pa.Array) -> pa.Scalar:
    if pa.types.is_floating(col.type):
        nan = pc.fill_null(pc.is_nan(col), False)
        if pc.any(nan).as_py():
            numbers = col.filter(pc.invert(nan))
            if not pc.count(numbers).as_py():
                return pa.scalar(float("nan"), col.type)
            return pc.min(numbers)
    return pc.min(col)


def _max(col: pa.Array) -> pa.Scalar:
    if pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py():
        return pa.scalar(float("nan"), col.type)
    return pc.max(col)


# the primitives on the general path, per batch; count's partials merge by sum
_ARROW_PRIMITIVES: dict[str, Callable[[pa.Array], pa.Scalar]] = {
    "sum": pc.sum, "min": _min, "max": _max, "count": pc.count, "any": lambda col: col[0],
}


def reduce_by_key(
    df: DataFrame,
    keys: list[str],
    values: dict[str, ReduceFn | str],
    sort_output: bool = False,
) -> DataFrame:
    """Group ``df`` by ``keys`` and fold each value column.

    ``values`` maps column name -> either a primitive name ("sum"/"min"/
    "max"/"count"/"any") or a binary fold ``(key, v1, v2) -> v`` applied
    pairwise left-to-right within each group (contract: associative +
    commutative, exactly the reference's). The fold sees plain Python values
    (NULL is ``None``); ``key`` is a tuple when there are several key columns.
    """
    prim = {c: f for c, f in values.items() if isinstance(f, str)}
    custom = {c: f for c, f in values.items() if not isinstance(f, str)}
    unknown = [f for f in prim.values() if f not in _PRIMITIVES]
    if unknown:
        raise ValueError(f"unknown primitive fold(s) {unknown}; use one of {list(_PRIMITIVES)}")

    aggs = [_PRIMITIVES[f](c).alias(c) for c, f in prim.items()]
    if not custom:
        out = df.groupBy(*keys).agg(*aggs)
    else:
        # the primitive columns get the fast path's result types, read from
        # the analyzed plan (no job); sum's input is cast to its result type
        prim_fields = {f.name: f for f in df.select(*aggs).schema.fields}
        grouped = df.select(*keys, *[
            F.col(c).cast(prim_fields[c].dataType) if f == "sum" else F.col(c)
            for c, f in values.items()
        ])
        schema = StructType([prim_fields.get(f.name, f) for f in grouped.schema.fields])
        arrow_schema = to_arrow_schema(schema)

        # pyspark picks the streaming form of applyInArrow from these hints
        def fold_group(
            key: Tuple[pa.Scalar, ...], batches: Iterator[pa.RecordBatch]
        ) -> Iterator[pa.RecordBatch]:
            key_vals = [k.as_py() for k in key]
            key_arg = key_vals[0] if len(keys) == 1 else tuple(key_vals)
            acc: dict[str, Any] = {}
            for batch in batches:
                for c, fn in custom.items():
                    for v in batch.column(c).to_pylist():
                        acc[c] = fn(key_arg, acc[c], v) if c in acc else v
                for c, f in prim.items():
                    part = _ARROW_PRIMITIVES[f](batch.column(c))
                    merge = _ARROW_PRIMITIVES["sum" if f == "count" else f]
                    acc[c] = merge(pa.array([acc[c], part])) if c in acc else part
            row = {c: a.as_py() if c in prim else a for c, a in acc.items()}
            row.update(zip(keys, key_vals))
            cols = {c: [row[c]] for c in arrow_schema.names}
            yield pa.RecordBatch.from_pydict(cols, schema=arrow_schema)

        out = grouped.groupBy(*keys).applyInArrow(fold_group, schema=schema)

    if sort_output:
        out = out.sortWithinPartitions(*keys)
    return out


def pairs_df(df: DataFrame, key_cols: Iterable[str], value_cols: Iterable[str]) -> DataFrame:
    """SQL-facing view of the pair-stream model: STRUCT key / STRUCT value
    columns (SURVEY.md §1.4 DataFrame mapping)."""
    return df.select(
        F.struct(*[F.col(c) for c in key_cols]).alias("key"),
        F.struct(*[F.col(c) for c in value_cols]).alias("value"),
    )
