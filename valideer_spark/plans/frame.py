"""Frame-level check plans: apply a compiled validator to a whole DataFrame.

The DataFrame row is treated as the document (a struct of all columns), so a
top-level ``Object`` schema validates column-per-property — the Spark
equivalent of the reference's ``validate(value)`` over a JSON object
(``/root/reference/valideer/base.py:229-240``), vectorized over the table.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.registry import Validator, parse
from .lowering import VIOLATION_TYPE, Lowered, _count_of, lower


# engine-reserved column names never treated as document properties: a
# bucketed layout carries _part_id, and re-checking an annotated frame
# carries the artifacts — an Object(additional=False) schema must not
# flag them. (_extras is NOT reserved: it is the open-schema side channel.)
RESERVED_COLUMNS = {"_part_id", "_valid", "_violations", "_n_violations", "_adapted"}


def _row_struct(df: DataFrame) -> Column:
    return F.struct(
        *[
            F.col(f.name)
            for f in df.schema.fields
            if f.name not in RESERVED_COLUMNS
        ]
    )


@dataclass
class FramePlan:
    """A validator lowered against a DataFrame schema.

    All expression builders are pure-Column; nothing is executed until the
    returned DataFrames are acted on, so Catalyst sees one declarative plan
    (predicate pushdown + whole-stage codegen apply).
    """

    validator: Validator
    lowered: Lowered

    def is_valid_col(self, df: DataFrame) -> Column:
        """Boolean verdict column (the ``adapt=False`` fast path)."""
        return self.lowered.predicate(_row_struct(df))

    def violations_col(self, df: DataFrame) -> Column:
        """array<struct<path,constraint,message>> — all violations per row,
        kernel traversal order (element 0 == kernel fail-fast error)."""
        return self.lowered.violations(_row_struct(df), F.lit(""))

    def violation_count_col(self, df: DataFrame) -> Column:
        """int — exactly ``size(violations_col(df))``, computed natively
        without materializing the violation structs (no value reprs or
        message formatting)."""
        return _count_of(self.lowered)(_row_struct(df))

    def adapted_col(self, df: DataFrame) -> Column:
        """Adapted document struct (defined where the row is valid)."""
        return self.lowered.adapt(_row_struct(df))

    def check(self, df: DataFrame, adapt: bool = True) -> DataFrame:
        """Annotate ``df`` with `_valid`, `_violations`, `_n_violations`
        (+ `_adapted`).

        The violation-building expression tree is far heavier than the
        predicate (value reprs, message formatting), so it is guarded
        behind the predicate: valid rows never build it.
        """
        row = _row_struct(df)
        out = df.withColumn("_valid", self.lowered.predicate(row))
        out = out.withColumn(
            "_violations",
            F.when(F.col("_valid"), F.array().cast(VIOLATION_TYPE)).otherwise(
                self.lowered.violations(row, F.lit(""))
            ),
        )
        # native violation COUNT (== size(_violations), asserted by
        # tests/test_violation_count.py) without building the
        # repr-heavy violation structs: verdict aggregations read this
        # column, so Catalyst prunes _violations out of the verdict
        # plan entirely and invalid rows stay cheap on that path
        out = out.withColumn(
            "_n_violations",
            F.when(F.col("_valid"), F.lit(0)).otherwise(
                self.violation_count_col(df)
            ),
        )
        if adapt:
            out = out.withColumn(
                "_adapted",
                F.when(F.col("_valid"), self.lowered.adapt(row)),
            )
        return out


def compile_plan(schema: Any, df_or_schema) -> FramePlan:
    """Compile a schema (mini-language or Validator) against a DataFrame or
    StructType."""
    validator = parse(schema)
    struct = (
        df_or_schema.schema if isinstance(df_or_schema, DataFrame) else df_or_schema
    )
    from pyspark.sql import types as T

    struct = T.StructType(
        [f for f in struct.fields if f.name not in RESERVED_COLUMNS]
    )
    return FramePlan(validator=validator, lowered=lower(validator, struct))


def expect_frame_schema(df_or_schema, schema: Any) -> None:
    """DataFrame-level analog of ``@accepts`` (SURVEY §2.6): raise
    SchemaError at SUBMIT time when the frame cannot satisfy the
    validator's required top-level properties — a missing required column
    would otherwise fail EVERY row at run time on a 100 TB scan.

    Optional properties and additional columns are fine (the engine's
    Object semantics apply per row); only structurally-impossible frames
    are rejected here.
    """
    from ..core.checks import NonNullable, Nullable, Object
    from ..core.errors import SchemaError

    validator = parse(schema)
    unwrapped = validator
    while isinstance(unwrapped, (Nullable, NonNullable)):
        unwrapped = unwrapped._validator
    if not isinstance(unwrapped, Object):
        return  # non-object schemas validate whatever row struct arrives
    struct = (
        df_or_schema.schema if isinstance(df_or_schema, DataFrame) else df_or_schema
    )
    cols = {f.name for f in struct.fields}
    missing = sorted(k for k in unwrapped._required_keys if k not in cols)
    if missing:
        raise SchemaError(
            "frame is missing required columns %s (has %s)"
            % (missing, sorted(cols))
        )
