"""Parquet / JSON / ORC sources and sinks (beyond the reference's CSV;
the natural columnar formats for the 100 TB deployment).

Parquet is the default: columnar, predicate pushdown, column pruning,
partition pruning on directory layout.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from agnes_spark.sources.catalog import read_source


def read_parquet(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> DataFrame:
    """Read a parquet file or directory through the session's source
    catalog (sources/catalog.py): resolved once, again only after the
    input changes."""
    df = read_source(spark, path)
    return df.select(*columns) if columns else df


def read_parquet_merged(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union parquet batches whose schemas have
    DRIFTED (columns added over the table's lifetime) into one frame
    with the merged schema; rows from older batches surface NULL for
    columns they predate. mergeSchema=true reconciles the footers at
    planning time — the per-file schema negotiation every long-lived
    ingest directory eventually needs (Spark leaves it off by default
    because footer merging costs a planning pass per file)."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)  # no inference pass at scale
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by: Sequence[str] = ()) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def compact_parquet(
    spark: SparkSession, path: str, target_files: int, out_path: str | None = None
) -> None:
    """Rewrite a parquet directory into `target_files` files — the
    small-files compaction every streaming/incremental pipeline needs
    (a 100 TB table of 4 KB files dies on open() overhead; NameNode/
    listing pressure scales with file count, not bytes).

    In-place (out_path=None) stages to `<path>__compact` then swaps,
    so a crash never leaves the table half-written.
    """
    import shutil

    df = spark.read.parquet(path)
    staged = out_path or (path.rstrip("/") + "__compact")
    df.coalesce(target_files).write.mode("overwrite").parquet(staged)
    if out_path is None:
        shutil.rmtree(path)
        shutil.move(staged, path)


def read_text(spark: SparkSession, path: str, whole: bool = False) -> DataFrame:
    """Line-per-row text source (`value` column); whole=True reads one
    row per file — raw-corpus ingestion before parsing."""
    return spark.read.text(path, wholetext=whole)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """binaryFile source: (path, modificationTime, length, content) one
    row per file — the ingestion path for multimodal payloads (images/
    audio land as `content: binary` ready for operators/multimodal.py).
    Scale note: binaryFile never splits a file; parallelism is
    per-file, so pack small media into fewer large containers first.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_xml(
    spark: SparkSession, path: str, row_tag: str, schema: str | None = None
) -> DataFrame:
    """XML source (Spark 4 built-in) — one row per `row_tag` element.
    Closes the reference's FUTURE.md "structured text data (XML)" item.
    Pass an explicit schema at scale: inference runs a full extra pass.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )
