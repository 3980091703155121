"""Compile a ValidationSchema into named boolean check expressions.

This replaces the reference's pandera emission layer (``to_pandera_column``,
reference ``core/schema.py:68-92``) with direct Catalyst expressions: every
check becomes SQL boolean text that is TRUE when the row PASSES, so the
validator builds its plan in a few ``selectExpr`` calls, not one py4j call per
``Column`` node. Only pandas-UDF ``fn`` checks stay ``pyspark.sql.Column``s.
Names go through ``quote_ident`` and values through ``sql_literal``, so dotted
or quoted column names and any string value are taken literally.

Semantics (pandera-compatible, SURVEY.md §2.2):

* Value checks (ge/le/gt/lt/pattern/isin/custom) evaluate over NON-NULL
  values only — a NULL value passes them; ``nullable=False`` is its own check.
* ``pattern`` anchors at the start (pandera ``str_matches``); with
  ``pattern_search=True`` it matches anywhere (Pydantic semantics).
* Conditional checks compile to ``NOT condition OR check``
  (``coalesce(CASE WHEN cond THEN check ELSE true END, true)``).

Row-local checks all evaluate in ONE whole-stage-codegen pass (no shuffle,
no Python). Non-row-local checks — ``unique`` (needs a hash shuffle on the
key) and referential-against-a-dimension (broadcast anti-join) — are
described here and executed by the validator (``operators/validator.py``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import ColumnSpec, ValidationSchema

__all__ = [
    "CompiledCheck",
    "GlobalCheck",
    "SPARK_TYPES",
    "spark_type",
    "compile_column_checks",
    "compile_schema",
    "quote_ident",
    "schema_struct",
    "sql_literal",
]

# logical dtype → Spark type (reference DTYPE_MAP core/schema.py:33-48 analogue)
SPARK_TYPES: dict[str, T.DataType] = {
    "int": T.LongType(),
    "float": T.DoubleType(),
    "str": T.StringType(),
    "bool": T.BooleanType(),
    "datetime": T.TimestampType(),
    "date": T.DateType(),
    "array<int>": T.ArrayType(T.IntegerType()),
    "array<float>": T.ArrayType(T.FloatType()),
    "binary": T.BinaryType(),
}

# dtype-conformance acceptance: declared label → Spark types that conform
# without coercion (C9). Wider/narrower ints all count as "int" etc.
_CONFORMING: dict[str, tuple[type, ...]] = {
    "int": (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    "float": (T.FloatType, T.DoubleType, T.DecimalType),
    "str": (T.StringType,),
    "bool": (T.BooleanType,),
    "datetime": (T.TimestampType, T.TimestampNTZType),
    "date": (T.DateType,),
    "binary": (T.BinaryType,),
}


def spark_type(dtype: str) -> T.DataType:
    return SPARK_TYPES[dtype]


def schema_struct(schema: ValidationSchema) -> T.StructType:
    """Declared StructType (for schema-on-read, createDataFrame, casts)."""
    return T.StructType(
        [
            T.StructField(c.name, spark_type(c.dtype), c.nullable)
            for c in schema.columns.values()
        ]
    )


def dtype_conforms(dtype_label: str, actual: T.DataType) -> bool:
    if dtype_label.startswith("array<"):
        if not isinstance(actual, T.ArrayType):
            return False
        inner = dtype_label[6:-1]
        return dtype_conforms(inner, actual.elementType)
    accepted = _CONFORMING.get(dtype_label)
    return accepted is not None and isinstance(actual, accepted)


@dataclass(frozen=True)
class CompiledCheck:
    """One named row-local check, TRUE when the row passes. ``expr`` is SQL
    boolean text, or a ``Column`` for checks that call a pandas UDF."""

    name: str        # e.g. "n_tok__ge"
    column: str      # "" for table-level (cross/conditional) checks
    expr: str | Column
    check: str       # check kind: "ge", "pattern", "custom:<name>", ...


@dataclass(frozen=True)
class GlobalCheck:
    """A check that needs a shuffle or a join (executed by the validator)."""

    name: str
    column: str
    check: str                       # "unique" | "referential"
    ref_values: tuple | None = None  # for referential executed as broadcast join


def quote_ident(name: str) -> str:
    """SQL identifier naming exactly ``name`` (dots, spaces, backticks)."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(v: Any, check: str = "") -> str:
    """SQL literal with the Spark type and value ``F.lit(v)`` gives.

    numpy scalars are unwrapped with ``.item()`` (``int64`` stays BIGINT,
    as ``F.lit`` types it); any type not handled here raises ``TypeError``
    naming ``check`` rather than falling through to a string literal."""
    if type(v).__module__ == "numpy" and hasattr(v, "dtype"):
        if v.dtype.name not in ("bool", "int64", "float64"):
            raise TypeError(f"check {check!r}: unsupported numpy type {v.dtype}")
        return f"{v.item()}L" if v.dtype.name == "int64" else sql_literal(v.item(), check)
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if -(2**31) <= v < 2**31 else f"{v}L"
    if isinstance(v, float):
        # Spark casts the strings 'nan', 'inf' and '-inf' to the IEEE values
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, Decimal) and v.is_finite():
        return f"{v}BD"
    if isinstance(v, datetime):  # F.lit reads a naive datetime as local time
        return f"TIMESTAMP '{v.astimezone().isoformat()}'"
    if isinstance(v, date):
        return f"DATE '{v.isoformat()}'"
    raise TypeError(f"check {check!r}: cannot render {type(v).__name__} {v!r} as SQL")


def _user_sql(sql: str) -> str:
    """Parenthesize caller SQL; the newline ends any trailing ``--`` comment."""
    return f"({sql}\n)"


def compile_column_checks(spec: ColumnSpec) -> tuple[list[CompiledCheck], list[GlobalCheck]]:
    q = quote_ident(spec.name)
    row: list[CompiledCheck] = []
    glob: list[GlobalCheck] = []

    def add(kind: str, pred: str | Column) -> None:
        # pandera semantics: NULL passes every value check
        expr = f"({q} IS NULL OR ({pred}))" if isinstance(pred, str) else F.col(q).isNull() | pred
        row.append(CompiledCheck(f"{spec.name}__{kind}", spec.name, expr, kind))

    def lit(v: Any, kind: str) -> str:
        return sql_literal(v, f"{spec.name}__{kind}")

    if not spec.nullable:  # C7 (reference core/schema.py:86-92)
        row.append(CompiledCheck(f"{spec.name}__not_null", spec.name, f"{q} IS NOT NULL",
                                 "not_null"))
    for kind, op in (("ge", ">="), ("le", "<="), ("gt", ">"), ("lt", "<")):
        # C1-C4 core/schema.py:72-79
        if getattr(spec, kind) is not None:
            add(kind, f"{q} {op} {lit(getattr(spec, kind), kind)}")
    if spec.pattern is not None:  # C5 core/schema.py:80-81 (anchoring per module docstring)
        # Anchor with a non-capturing group: a bare "^" + "cat|dog" would
        # compile to ^cat|dog (alternation binds looser than the anchor) and
        # wrongly match "hotdog"; ^(?:cat|dog) preserves re.match semantics.
        pat = spec.pattern if spec.pattern_search else (
            spec.pattern if spec.pattern.startswith("^") else "^(?:" + spec.pattern + ")"
        )
        add("pattern", f"{q} RLIKE {lit(pat, 'pattern')}")
    if spec.isin is not None:  # C6 core/schema.py:82-83 (small literal set → codegen'd IN)
        values = ", ".join(lit(v, "isin") for v in spec.isin)
        add("isin", f"{q} IN ({values})" if values else "false")
    if spec.element_ge is not None or spec.element_lt is not None:
        # token-element range for array<int> (input_hint). Implemented as
        # array_min/array_max bound checks rather than forall(...): min/max
        # are codegen'd expressions while higher-order functions run
        # interpreted — measured 3.6x faster on token arrays. Semantics:
        # NULL array passes (value-check rule); empty array passes
        # (min/max → NULL → null-safe pass); NULL *elements* are ignored
        # (array_min/max skip nulls), matching "check the values present".
        preds = []
        if spec.element_ge is not None:
            preds.append(f"array_min({q}) >= {lit(spec.element_ge, 'element_range')}")
        if spec.element_lt is not None:
            preds.append(f"array_max({q}) < {lit(spec.element_lt, 'element_range')}")
        # empty array: min/max yield NULL → treat as pass (no values to check)
        add("element_range", f"size({q}) = 0 OR ({' AND '.join(preds)})")
    for custom in spec.custom_checks:  # U1 core/schema.py:142-157
        if custom.sql is not None:
            add(f"custom:{custom.name}", _user_sql(custom.sql.replace("{c}", q)))
        else:
            # Arrow-vectorized pandas UDF over the column (never per-row
            # Python). Pandera semantics: the user's fn sees only non-null
            # values; nulls auto-pass; a null/NaN verdict counts as fail.
            fn = custom.fn

            def _null_safe_wrap(ser, _fn=fn):
                import pandas as _pd

                out = _pd.Series(True, index=ser.index, dtype=bool)
                mask = ser.notna()
                if mask.any():
                    res = _pd.Series(_fn(ser[mask]), index=ser[mask].index)
                    out[mask] = res.astype("boolean").fillna(False).astype(bool)
                return out

            udf = F.pandas_udf(_null_safe_wrap, T.BooleanType())
            add(f"custom:{custom.name}", udf(F.col(q)))
    if spec.unique:  # C8 — needs hash shuffle; handled by the validator
        glob.append(GlobalCheck(f"{spec.name}__unique", spec.name, "unique"))
    return row, glob


def compile_schema(
    schema: ValidationSchema, df_columns: Sequence[str] | None = None
) -> tuple[list[CompiledCheck], list[GlobalCheck], list[str]]:
    """Compile every check; returns (row_checks, global_checks, missing_columns).

    Checks on missing columns are skipped (they surface as missing-column
    errors, C10 — reference ``backends/pandas_backend.py:45-46``).
    """
    present = set(df_columns) if df_columns is not None else None
    row: list[CompiledCheck] = []
    glob: list[GlobalCheck] = []
    missing: list[str] = []
    for spec in schema.columns.values():
        if present is not None and spec.name not in present:
            missing.append(spec.name)
            continue
        r, g = compile_column_checks(spec)
        row.extend(r)
        glob.extend(g)
    for cc in schema.cross_checks:  # U2 core/schema.py:160-167
        if present is not None and cc.columns and not set(cc.columns) <= present:
            missing.extend(sorted(set(cc.columns) - present))
            continue
        if cc.sql is not None:
            expr: str | Column = _user_sql(cc.sql)
        else:
            # struct-of-columns → Arrow pandas UDF returning a bool mask
            import pandas as pd  # noqa: F401

            fn = cc.fn
            cols = list(cc.columns)

            def _wrap(*series, _fn=fn, _cols=cols):
                import pandas as _pd

                pdf = _pd.concat(series, axis=1)
                pdf.columns = _cols
                return _fn(pdf)

            udf = F.pandas_udf(_wrap, T.BooleanType())
            expr = udf(*[F.col(quote_ident(x)) for x in cols])
        row.append(CompiledCheck(f"table__{cc.name}", "", expr, f"cross:{cc.name}"))
    for cond in schema.conditional_checks:  # U3 — implemented (reference dead code)
        # NULL condition → not applicable → pass
        expr = (
            f"coalesce(CASE WHEN {_user_sql(cond.condition_sql)} "
            f"THEN {_user_sql(cond.check_sql)} ELSE true END, true)"
        )
        row.append(
            CompiledCheck(f"table__{cond.name}", "", expr, f"conditional:{cond.name}")
        )
    return row, glob, missing


def dtype_errors(schema: ValidationSchema, df: DataFrame) -> list[str]:
    """C9 dtype conformance, driver-side over df.schema (no job)."""
    errs = []
    fields = {f.name: f.dataType for f in df.schema.fields}
    for spec in schema.columns.values():
        actual = fields.get(spec.name)
        if actual is not None and not dtype_conforms(spec.dtype, actual):
            errs.append(
                f"column {spec.name!r}: expected dtype {spec.dtype}, got {actual.simpleString()}"
            )
    return errs
