"""JSON lift/lower: the reference's planned udlift/udlower converters
(README.md:53-61 — msgpack/JSON frames on pipes) re-expressed as Spark
readers/writers, with the documented invalid-record policy
(manual.md:45-49, README.md:296-302: abort / ignore / warn on shape
mismatch) mapped onto Spark's parse modes:

  abort  → FAILFAST      (exception on malformed record)
  ignore → DROPMALFORMED (silently drop)
  warn   → PERMISSIVE    (keep, null fields + _corrupt column)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from udlang_spark.kernel import ast
from udlang_spark.kernel.types import to_spark

POLICY_TO_MODE = {
    "abort": "FAILFAST",
    "ignore": "DROPMALFORMED",
    "warn": "PERMISSIVE",
}


def input_schema(input_type: ast.Type, scalar_name: str = "value") -> StructType:
    """Schema for JSON frames of a kernel's declared input shape. Scalar
    inputs are framed as {"value": ...} (one frame per line)."""
    if isinstance(input_type, ast.TRecord):
        spark_t = to_spark(input_type)
        assert isinstance(spark_t, StructType)
        return spark_t
    return StructType([StructField(scalar_name, to_spark(input_type))])


def policy_schema(
    input_type: ast.Type,
    policy: str,
    corrupt_col: str = "_corrupt",
    corrupt_on: tuple[str, ...] = ("warn",),
) -> StructType:
    """input_schema under an invalid-record policy — the one setup every
    reader and lift_json share: an unknown `policy` raises, and a policy in
    `corrupt_on` (those that keep malformed records) gets a `corrupt_col`
    string field appended."""
    if policy not in POLICY_TO_MODE:
        raise ValueError(f"unknown policy {policy!r} (abort|ignore|warn)")
    schema = input_schema(input_type)
    if policy in corrupt_on:
        schema = StructType(list(schema.fields) + [StructField(corrupt_col, StringType())])
    return schema


def lift_json(
    df: DataFrame,
    json_col: str,
    input_type: ast.Type,
    policy: str = "abort",
    corrupt_col: str = "_corrupt",
) -> DataFrame:
    """Parse a string column of JSON frames into typed columns under the
    invalid-record policy. DROPMALFORMED is emulated for from_json (Spark
    only honors it in readers) by filtering rows where all parsed fields
    are null but the source isn't."""
    # from_json supports only PERMISSIVE and FAILFAST; `ignore` is emulated
    # by PERMISSIVE + filtering rows whose corrupt column is set (exactly
    # what DROPMALFORMED does in the file readers).
    schema = policy_schema(input_type, policy, corrupt_col, ("warn", "ignore"))
    opts = {"mode": "FAILFAST" if policy == "abort" else "PERMISSIVE"}
    if policy != "abort":
        opts["columnNameOfCorruptRecord"] = corrupt_col
    parsed = df.withColumn("__parsed", F.from_json(F.col(json_col), schema, opts))
    fields = [f.name for f in schema.fields]
    out = parsed.select(
        *[c for c in df.columns if c != json_col],
        *[F.col(f"__parsed.{name}").alias(name) for name in fields],
    )
    if policy == "ignore":
        out = out.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    return out


def lower_json(df: DataFrame, cols: tuple[str, ...], out_col: str = "json") -> DataFrame:
    """Serialize columns to one JSON string column (udlower direction)."""
    return df.withColumn(out_col, F.to_json(F.struct(*[F.col(c) for c in cols])))
