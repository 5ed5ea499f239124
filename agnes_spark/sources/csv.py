"""CSV source with declarative field specs.

Reference: agnes src/source/csv.rs (CsvSource/CsvReader — load CSV
from a local path or URI with a `spec![...]` mapping source column
names to typed field labels, with delimiter/header auto-detection via
csv-sniffer) and src/source/file.rs (local/HTTPS file backends).

Spark-first: `spark.read.csv` with an explicit schema (never
inferSchema in production — one pass, no sampling job), projecting and
renaming only the spec'd columns so Catalyst prunes the rest at scan.
URIs work via Hadoop's filesystem layer (s3a://, hdfs://, https won't
stream — fetched driver-side like the reference's hyper client).
"""

from __future__ import annotations

import csv as _csv
import io
import urllib.request
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TYPE_ALIASES = {
    "u64": "bigint", "i64": "bigint", "u32": "bigint", "i32": "int",
    "f64": "double", "f32": "float", "string": "string", "str": "string",
    "bool": "boolean", "date": "date", "timestamp": "timestamp",
}


@dataclass
class CsvSpec:
    """spec![ fieldname Label = "Source Name"; ... ] equivalent.

    fields: label -> (source column name, type). Types accept Rust-ish
    aliases (u64, f64, ...) or Spark DDL names.
    """

    fields: Mapping[str, tuple[str, str]] = field(default_factory=dict)
    delimiter: str = ","
    header: bool = True

    def spark_type(self, label: str) -> str:
        t = self.fields[label][1]
        return _TYPE_ALIASES.get(t, t)


def sniff(sample: bytes) -> tuple[str, bool]:
    """Delimiter + header detection (reference: csv-sniffer crate)."""
    text = sample.decode("utf-8", errors="replace")
    try:
        dialect = _csv.Sniffer().sniff(text, delimiters=",;\t|")
        delim = dialect.delimiter
    except _csv.Error:
        delim = ","
    try:
        has_header = _csv.Sniffer().has_header(text)
    except _csv.Error:
        has_header = True
    return delim, has_header


def load_csv(spark: SparkSession, path: str, spec: CsvSpec) -> DataFrame:
    """Load a CSV with only the spec'd fields, renamed and typed.

    Reads all columns as string with the source header, then casts and
    renames the selected ones — the select is pushed into the scan, so
    unreferenced columns never leave the parser.
    """
    raw = spark.read.csv(path, header=spec.header, sep=spec.delimiter)
    cols = [
        F.col(src).cast(spec.spark_type(label)).alias(label)
        for label, (src, _t) in spec.fields.items()
    ]
    return raw.select(*cols)


def load_csv_from_uri(spark: SparkSession, uri: str, spec: CsvSpec) -> DataFrame:
    """Reference: src/source/csv.rs `load_csv_from_uri`.

    http(s) URIs are fetched driver-side (like the reference's hyper
    client) then parallelized; cluster-native filesystems (s3a, hdfs,
    file) go straight to the distributed reader.
    """
    if uri.startswith(("http://", "https://")):
        body = urllib.request.urlopen(uri, timeout=60).read()
        lines = io.StringIO(body.decode("utf-8", errors="replace")).read().splitlines()
        rdd = spark.sparkContext.parallelize(lines)
        raw = spark.read.csv(rdd, header=spec.header, sep=spec.delimiter)
        cols = [
            F.col(src).cast(spec.spark_type(label)).alias(label)
            for label, (src, _t) in spec.fields.items()
        ]
        return raw.select(*cols)
    return load_csv(spark, uri, spec)


def sniff_and_load(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> DataFrame:
    """Auto-detect delimiter/header (reference csv-sniffer behavior),
    then load with Spark's schema inference as a convenience path."""
    sc = spark.sparkContext
    head = sc.textFile(path).take(20)
    delim, has_header = sniff(("\n".join(head)).encode())
    df = spark.read.csv(path, header=has_header, sep=delim, inferSchema=True)
    if columns:
        df = df.select(*columns)
    return df


def load_csv_tolerant(
    spark: SparkSession, path: str, spec: CsvSpec
) -> tuple[DataFrame, DataFrame]:
    """Like load_csv, but malformed rows are captured instead of
    crashing the job or silently nulling out — the posture a 100 TB
    ingest of scraped CSVs needs (reference: csv.rs surfaces parse
    errors per-record as Result values; Spark's equivalent is
    PERMISSIVE mode with a corrupt-record column).

    Returns (good, bad): `good` has the spec'd fields typed and
    renamed from rows that parsed cleanly; `bad` has one `raw` string
    column holding each malformed line for quarantine/replay. The
    split is one scan: both frames read one lazy local checkpoint of
    the parse, which the first action over either fills and Spark
    frees once neither frame is referenced. (It is also what lets
    `bad` select only the corrupt-record column, which Spark refuses
    on a raw CSV scan.)

    A row lands in `bad` when the parser cannot produce the declared
    source columns (wrong column count, unclosed quote). Type failures
    on parseable rows null the FIELD but keep the row: tolerant casts
    must be try_cast — under ANSI mode (Spark 4 default) a plain cast
    of e.g. 'not_a_number' to double fails the whole job, which is
    exactly the crash this loader exists to avoid. (load_csv keeps
    plain casts deliberately: that is the strict path.)
    """
    src_schema = ", ".join(
        f"`{src}` string" for _label, (src, _t) in spec.fields.items()
    )
    raw = spark.read.csv(
        path,
        header=spec.header,
        sep=spec.delimiter,
        mode="PERMISSIVE",
        schema=src_schema + ", `_corrupt` string",
        columnNameOfCorruptRecord="_corrupt",
    ).localCheckpoint(eager=False)
    good = raw.filter(F.col("_corrupt").isNull()).select(
        *[
            F.col(src).try_cast(spec.spark_type(label)).alias(label)
            for label, (src, _t) in spec.fields.items()
        ]
    )
    bad = raw.filter(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("raw")
    )
    return good, bad
