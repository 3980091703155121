"""SQL rendering in the check compiler: every literal ``sql_literal`` emits
has the Spark type and value ``F.lit`` gives, and a value it cannot render
fails at compile time, naming the check."""

import datetime as dt
import math
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from pandera_unified_validator_spark import SchemaBuilder
from pandera_unified_validator_spark.plans.compiler import compile_schema, sql_literal

LITERALS = {
    "int_min": -(2**31),
    "int_max": 2**31 - 1,
    "bigint_low": 2**31,
    "bigint_max": 2**63 - 1,
    "tiny_float": 1e-7,
    "big_float": 1e20,
    "neg_zero": -0.0,
    "nan": float("nan"),
    "pos_inf": float("inf"),
    "neg_inf": float("-inf"),
    "quote": "it's",
    "backslash": "back\\slash",
    "non_ascii": "ünïcödé 字",
    "regex": r"^doc-\d{12}$",
    "none": None,
    "np_int64": np.int64(7),
    "np_float64": np.float64(2.5),
    "bool": True,
    "decimal": Decimal("-120.500"),
    "date": dt.date(2024, 2, 29),
    "datetime": dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
    "datetime_tz": dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone(dt.timedelta(hours=2))),
}


@pytest.mark.parametrize("value", LITERALS.values(), ids=LITERALS.keys())
def test_sql_literal_matches_lit(spark, value):
    got = spark.range(1).selectExpr(f"{sql_literal(value)} AS x")
    want = spark.range(1).select(F.lit(value).alias("x"))
    assert got.schema["x"].dataType == want.schema["x"].dataType
    a, b = got.first()[0], want.first()[0]
    if isinstance(b, float):
        assert (math.isnan(a) and math.isnan(b)) or (
            a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
        )
    else:
        assert a == b


def test_isin_with_none_matches_column_api(spark):
    allowed = ["a", None, "it's", "c\\d"]
    df = spark.createDataFrame([(s,) for s in ["a", "b", None, "it's", "c\\d"]], "s string")
    (chk,), _, _ = compile_schema(SchemaBuilder("t").column("s", "str", isin=allowed).build())
    got = df.selectExpr(f"coalesce({chk.expr}, false) AS ok").collect()
    ok = F.col("s").isNull() | F.col("s").isin(allowed)
    want = df.select(F.coalesce(ok, F.lit(False)).alias("ok")).collect()
    assert got == want == [(True,), (False,), (True,), (True,), (True,)]


@pytest.mark.parametrize(
    "value",
    [[1], {1}, object(), np.int32(3), b"x", Decimal("NaN")],
    ids=["list", "set", "object", "np_int32", "bytes", "decimal_nan"],
)
def test_unrenderable_value_raises_naming_the_check(value):
    schema = SchemaBuilder("t").column("c", "int", ge=value).build()
    with pytest.raises(TypeError, match="c__ge"):
        compile_schema(schema)
