"""Engine table IO across source formats.

The reference stores rows in SQLite/PostgreSQL only; this engine's
canonical store is parquet (columnar, zstd — database/compression.go's
codec for free), but pipelines ingest from and export to whatever the
upstream produces. One writer/reader pair per format with identical
round-trip semantics, so every operator works on any source.

Format notes (scale):
  * parquet — canonical: columnar pruning + predicate pushdown + stats.
  * orc — the other built-in columnar format (same pruning/pushdown
    class; arrays/structs native) for pipelines whose upstream is
    ORC-standardized. Schema-on-read like parquet.
  * json (lines) — ingest format; arrays/structs map natively. Schema
    must be supplied on read (inference = extra full scan).
  * csv — flat columns only: array columns (embeddings) are serialized
    to a JSON string column on write and parsed back on read, the
    standard escape hatch for vector data in flat files.

Two small helpers every store shares sit here too: ``atomic_write``
publishes a manifest or pointer file, and ``local_frame`` builds a
request-sized frame on the driver.
"""

from __future__ import annotations

import functools
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FORMATS = ("parquet", "orc", "json", "csv")


def _array_cols(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.ArrayType)]


def write_table(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    w = df.write.mode("overwrite")
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "orc":
        w.orc(path)
    elif fmt == "json":
        w.json(path)
    else:
        out = df
        for c in _array_cols(df):
            out = out.withColumn(c, F.to_json(F.col(c)))
        # escape='"' doubles inner quotes (RFC-4180), matching the reader;
        # Spark's default backslash escape would silently corrupt document
        # text containing a double quote on round-trip. nullValue: CSV has
        # no native null, and Spark's default writes null and '' both as
        # an empty field, then reads empty fields back as NULL — an empty
        # document would round-trip to null (md5(null)=null in dedup,
        # silently dropped from non-null counts). A distinct null token
        # keeps '' and null distinguishable both ways.
        out.write.mode("overwrite").option("header", True).option(
            "escape", '"'
        ).option("nullValue", "\\N").csv(path)


def read_table(
    spark: SparkSession, path: str, fmt: str = "parquet", schema: T.StructType | str | None = None
) -> DataFrame:
    """Read a table previously written by ``write_table``. ``schema`` is
    required for json/csv (supply the original ``df.schema``): inference
    would cost a scan and widen types."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if schema is None:
        raise ValueError(f"schema required to read {fmt} (avoid inference scans)")
    target = (
        T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    if fmt == "json":
        return spark.read.schema(target).json(path)
    # csv: read array columns as strings, then parse back
    flat_fields = [
        T.StructField(f.name, T.StringType() if isinstance(f.dataType, T.ArrayType) else f.dataType)
        for f in target.fields
    ]
    # multiLine: the writer quotes embedded newlines (document text has
    # them by construction); without it each physical line is parsed as
    # a record and rows split mid-field — silent corruption
    df = (
        spark.read.schema(T.StructType(flat_fields))
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        # mirror the writer's null encoding (see write_table)
        .option("nullValue", "\\N")
        .csv(path)
    )
    for f in target.fields:
        if isinstance(f.dataType, T.ArrayType):
            df = df.withColumn(f.name, F.from_json(F.col(f.name), f.dataType))
    return df.select(*[f.name for f in target.fields])


def atomic_write(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` in one step: write a temp file in the
    same directory, fsync it, then ``os.replace`` it over ``path``. A
    reader that takes no lock sees the old file or the new one, never a
    truncated one, and a crash mid-write leaves the old file in place."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path) or ".", prefix=".tmp-")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


@functools.cache
def _struct(ddl: str) -> T.StructType:
    # unbounded: callers pass a fixed set of DDL literals
    return T.StructType.fromDDL(ddl)


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A small driver-held frame built through Arrow. It plans as a
    LocalTableScan, so neither building nor collecting it runs a Spark
    job; a list ``createDataFrame`` plans as Scan ExistingRDD and runs
    a job on every collect, even when empty. The rows ship inside the
    plan, so this is for request-sized rows only: pages, probe lists,
    merged widening candidates, empty reads."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = _struct(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows],
        schema=to_arrow_schema(struct),
    )
    return spark.createDataFrame(table, struct)
