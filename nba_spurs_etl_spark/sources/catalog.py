"""Parquet source catalog for the driver testdata.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}``.

Scale notes: parquet scans here are the 100 TB path. Every query in
``plans.catalog`` projects explicit columns and filters early so
Catalyst pushes predicates + prunes columns into the scan
(verify with ``df.explain('formatted')`` → PushedFilters / ReadSchema).

Every read carries the schema of its Parquet footer
(:func:`read_parquet`). Left to infer, ``spark.read.parquet`` launches
one Spark job per read just to read that footer (~0.1 s; 15 of the 55
jobs of a warm perfbench ``query`` pass). pyarrow reads the same footer
on the driver in ~0.3 ms with no job, and the schema it yields is the
one Spark infers; where Spark might infer differently the read stays
inferred.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    # The driver imports __spark_entry__ with a plain session (no conf
    # pins). epoch_us()'s NTZ->timestamp cast is value-preserving only
    # under a UTC session zone, so pin it here — the one chokepoint every
    # catalog query loads through — rather than trusting the host tz.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return read_parquet(spark, path)


#: session confs that change what Spark infers from a footer, at their
#: defaults; a session that moved one of them reads inferred
_INFER_DEFAULTS = {
    "spark.sql.parquet.mergeSchema": "false",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.parquet.binaryAsString": "false",
}
#: the footer key under which Spark's own writers store the exact schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_footer(path: str):
    """The footer Spark's inference reads for ``path`` (the file, or the
    first part file of a directory) as pyarrow ``FileMetaData``. None
    where that is not one plain footer — a missing or empty path,
    summary files, partition subdirectories, an unreadable file — so
    the caller reads inferred and Spark infers or raises as before."""
    import pyarrow.parquet as pq

    parts = [path]
    if os.path.isdir(path):
        names = sorted(os.listdir(path))
        parts = [os.path.join(path, n) for n in names if n[0] not in "_."]
        if "_metadata" in names or "_common_metadata" in names or not all(
            map(os.path.isfile, parts)
        ):
            return None
    try:
        return pq.read_metadata(parts[0])
    except Exception:  # missing, empty or unreadable: Spark decides
        return None


#: Spark types by the Arrow type name pyarrow reads a Parquet column
#: as, for the types Spark infers the same way
_SPARK_TYPES = {
    "bool": T.BooleanType, "int8": T.ByteType, "int16": T.ShortType,
    "int32": T.IntegerType, "int64": T.LongType, "float": T.FloatType,
    "double": T.DoubleType, "string": T.StringType, "binary": T.BinaryType,
    "date32[day]": T.DateType,
}


def _spark_type(at):
    """The Spark type inference gives a Parquet column pyarrow reads as
    ``at``; None for every type it might infer differently (nanosecond
    and INT96 timestamps, decimals, unsigned, structs, ...)."""
    import pyarrow.types as pat

    if pat.is_list(at):
        elem = _spark_type(at.value_type)
        return None if elem is None else T.ArrayType(elem)
    if pat.is_timestamp(at) and at.unit in ("ms", "us"):
        return T.TimestampType() if at.tz else T.TimestampNTZType()
    spark_type = _SPARK_TYPES.get(str(at))
    return None if spark_type is None else spark_type()


def footer_schema(spark: SparkSession, footer):
    """The schema ``spark.read.parquet`` would infer from ``footer``,
    built on the driver with no Spark job: the schema Spark's writers
    store in the footer, else the Arrow view mapped type by type. None
    where inference might differ (an unmapped type, or a session whose
    inference confs are not at their defaults)."""
    import json

    if footer is None or any(
        spark.conf.get(k, v).lower() != v for k, v in _INFER_DEFAULTS.items()
    ):
        return None
    stored = (footer.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        try:
            return T.StructType.fromJson(json.loads(stored))
        except ValueError:
            return None
    fields = [(f.name, _spark_type(f.type)) for f in footer.schema.to_arrow_schema()]
    if any(t is None for _, t in fields):
        return None
    return T.StructType([T.StructField(n, t) for n, t in fields])


def read_parquet(spark: SparkSession, path: str, footer=None) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the
    footer (:func:`footer_schema`), so building the read launches no
    Spark job; inferred where the footer cannot stand in. Pass
    ``footer`` when the caller already read it."""
    if footer is None:
        footer = read_footer(path)
    schema = footer_schema(spark, footer)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _events_ts_is_nanos(footer) -> bool:
    """Does this events footer carry TIMESTAMP(NANOS)? (round-1 testdata
    did; later rounds write microseconds). Checked on the footer so the
    nanosAsLong conf is only ever touched for layouts that need it.
    The PARQUET schema, not the arrow view: Spark-written INT96
    timestamps surface as timestamp[ns] in the arrow schema too, but
    Spark reads them natively — only the INT64 Timestamp(nanos)
    logical type needs nanosAsLong."""
    schema = footer.schema if footer is not None else []
    return any(
        c.path == "ts"
        and c.physical_type == "INT64"
        and "nanos" in str(c.logical_type).lower()
        for c in (schema.column(i) for i in range(len(schema)))
    )


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.parquet MAY carry TIMESTAMP(NANOS), which Spark's
    vectorized parquet reader rejects. For such layouts (sniffed from
    the footer), read nanos as long and convert to a microsecond
    TimestampType column — same truncation DuckDB applies when a
    client fetches its ns timestamps, so oracles agree.

    The nanosAsLong conf is session-wide and deliberately NOT restored
    after the read: the returned DataFrame is lazy, and its bigint-ts
    scan plan needs the conf in effect whenever it later executes.
    The footer sniff confines that session-level change to sessions
    that actually load a nanos layout (none since round 1)."""
    from pyspark.sql import functions as F

    footer = read_footer(path)
    if not _events_ts_is_nanos(footer):
        return read_parquet(spark, path, footer)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)  # inferred: footer_schema maps no nanos
    if dict(df.dtypes).get("ts") != "bigint":
        return df  # belt and braces: only convert what nanosAsLong made
    # integer div — ns magnitudes (~1.7e18) overflow double precision
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
