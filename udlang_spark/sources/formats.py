"""File-format connectors with uDLang-typed schemas (SURVEY.md §2.1 —
file formats are engine extensions; the reference reads stdin pipes only,
HACKING.md:127-140).

Every reader takes a kernel input type (ast.Type) and the documented
invalid-record policy (manual.md:45-49): abort → FAILFAST,
ignore → DROPMALFORMED, warn → PERMISSIVE (+ `_corrupt` column).
Parquet is schema-enforced by the format itself, so the policy applies to
the text formats (csv/json).

msgpack framing (the reference's planned wire format, README.md:53-61) is
real: a pure-Python codec (sources/msgpack_codec.py — the container ships
no msgpack library) decodes binaryFile scans via mapInPandas and
write_msgpack emits raw frame-stream files the same scan reads back.

Scale notes: csv/json scans parallelize per file-split; parquet adds
predicate pushdown + column pruning (always prefer it for 100 TB);
`maxPartitionBytes` sizes splits to executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from udlang_spark.kernel import ast
from udlang_spark.sources.json_lift import POLICY_TO_MODE, input_schema, policy_schema


def read_csv(
    spark: SparkSession,
    path: str,
    input_type: ast.Type,
    policy: str = "abort",
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV → typed DataFrame matching the kernel's declared input shape."""
    schema = policy_schema(input_type, policy)
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("mode", POLICY_TO_MODE[policy])
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def read_json(
    spark: SparkSession, path: str, input_type: ast.Type, policy: str = "abort"
) -> DataFrame:
    """JSON-lines → typed DataFrame (file twin of json_lift.lift_json)."""
    schema = policy_schema(input_type, policy)
    return (
        spark.read.schema(schema)
        .option("mode", POLICY_TO_MODE[policy])
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def _typed_projection(
    df: DataFrame, input_type: ast.Type | None, fmt: str, path: str
) -> DataFrame:
    """Project/validate a columnar scan to a declared input type (schema
    enforcement at ingest — the reference's abort-on-mismatch posture,
    manual.md:47-49). Shared by the parquet and ORC readers."""
    if input_type is None:
        return df
    want = input_schema(input_type)
    missing = [f.name for f in want.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"{fmt} at {path} lacks declared fields {missing}")
    from pyspark.sql import functions as F

    return df.select(*[F.col(f.name).cast(f.dataType) for f in want.fields])


def read_parquet(
    spark: SparkSession, path: str, input_type: ast.Type | None = None
) -> DataFrame:
    """Parquet scan with ingest-time schema enforcement."""
    return _typed_projection(spark.read.parquet(path), input_type, "parquet", path)


def write_parquet(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_orc(
    spark: SparkSession, path: str, input_type: ast.Type | None = None
) -> DataFrame:
    """ORC scan with the same ingest-time schema enforcement as parquet —
    ORC is the other splittable columnar format warehouses hand over, with
    the same pushdown/pruning behavior under Catalyst."""
    return _typed_projection(spark.read.orc(path), input_type, "orc", path)


def write_orc(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_msgpack(
    spark: SparkSession, path: str, input_type: ast.Type, policy: str = "abort"
) -> DataFrame:
    """msgpack framing — the reference's planned wire format (README.md:
    53-61, TBD at README.md:96), made real with a pure-Python codec
    (sources/msgpack_codec.py; no msgpack library ships in the container).

    Shape: `binaryFile` scan (one file = one stream of concatenated
    frames; files are the parallelism unit) → mapInPandas decode → typed
    columns per input_schema. Invalid-record policy per manual.md:45-49:
    abort raises on the first undecodable/mis-shaped frame, ignore drops
    it, warn keeps a `_corrupt` hex column.

    Scale: Arrow-batched Python decode, parallel across files — write many
    frame-files (the compaction helper applies here too). A JVM datasource
    would beat it, but msgpack decode is inherently row-wise Python here.
    """
    import pandas as pd

    from udlang_spark.sources import msgpack_codec as mp

    out_schema = policy_schema(input_type, policy)
    names = input_schema(input_type).fieldNames()
    scalar = not isinstance(input_type, ast.TRecord)

    def decode(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                data = bytes(blob)
                try:
                    frames = mp.unpack_stream(data)
                except Exception as e:
                    if policy == "abort":
                        raise ValueError(f"undecodable msgpack file: {e}") from e
                    if policy == "warn":
                        rows.append({n: None for n in names} | {"_corrupt": data.hex()})
                    continue
                for fr in frames:
                    # scalar inputs: a structured frame (map/array) where a
                    # scalar is declared is mis-shaped — wrapping it blindly
                    # would crash the Arrow conversion OUTSIDE the policy.
                    # record inputs: extra AND missing keys are mis-shaped
                    # (the wire format is strict, manual.md:47-49) — silently
                    # null-filling missing fields would hide corruption from
                    # policy='abort'.
                    rec = {"value": fr} if scalar else fr
                    if (
                        not isinstance(rec, dict)
                        or (scalar and isinstance(fr, (dict, list)))
                        or (not scalar and set(rec) != set(names))
                    ):
                        if policy == "abort":
                            raise ValueError(f"frame does not match input shape: {fr!r}")
                        if policy == "warn":
                            rows.append(
                                {n: None for n in names}
                                | {"_corrupt": mp.packb(fr).hex()}
                            )
                        continue
                    row = {n: rec.get(n) for n in names}
                    if policy == "warn":
                        row["_corrupt"] = None
                    rows.append(row)
            yield pd.DataFrame(rows, columns=list(out_schema.fieldNames()))

    return (
        spark.read.format("binaryFile")
        .load(path)
        .select("content")
        .mapInPandas(decode, out_schema)
    )


def write_msgpack(df: DataFrame, cols: tuple[str, ...], path: str) -> None:
    """udlower made durable: each row becomes one msgpack map frame; each
    partition writes its concatenated frame stream as `part-NNNNN.bin`
    under `path` (raw bytes — the same layout read_msgpack's binaryFile
    scan consumes, so write→read is a lossless round trip). Executors
    write directly, so this scales like any shared-filesystem sink; the
    actual unix-pipe variant of udlower is a driver-side iterator over
    toLocalIterator() instead."""
    import os
    import shutil

    from pyspark import TaskContext

    from udlang_spark.sources import msgpack_codec as mp

    # overwrite semantics like every other writer here: stale part files
    # from a previous (wider) write must not survive — the binaryFile scan
    # reads EVERY file under the path, so leftovers would mix old rows in
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    names = list(cols)

    def dump(rows) -> None:
        pid = TaskContext.get().partitionId()
        buf = bytearray()
        for r in rows:
            buf += mp.packb({n: r[n] for n in names})
        if buf:
            with open(os.path.join(path, f"part-{pid:05d}.bin"), "wb") as fh:
                fh.write(bytes(buf))

    df.select(*names).foreachPartition(dump)
