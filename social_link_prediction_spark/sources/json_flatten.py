"""SPARQL-result JSON scans (S6/S7).

Reference: transformer.py:91-114 flattens one result file with
``pd.json_normalize``; transformer.py:16-89 globs ``*.json``, derives
type columns from FILENAME tokens, and concatenates. Spark-first
design: ONE multi-file ``spark.read.json`` (schema merged across
files), with per-row provenance from ``input_file_name()`` — the scan
parallelizes across files and within files, and Catalyst prunes the
binding structs that are never projected. ``__main__.run_etl`` types
each row's relation from that ``_source_file`` column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_sparql_json(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Load SPARQL result JSON ({"head":…, "results":{"bindings":[…]}})
    and flatten to one row per binding with ``var.value`` /
    ``var.type`` / ``var.xml:lang`` columns (the ``pd.json_normalize``
    shape, so downstream cleaning operators match the reference).
    Multi-file reads merge schemas (missing vars -> null columns) and
    keep ``_source_file`` for filename-derived typing.
    """
    raw = spark.read.option("multiLine", "true").json(path)
    rows = raw.select(
        F.input_file_name().alias("_source_file"),
        F.explode(F.col("results.bindings")).alias("b"),
    )
    # discover binding variables from the merged schema
    b_schema = rows.schema["b"].dataType
    cols = [F.col("_source_file")]
    for field in b_schema.fields:  # type: ignore[union-attr]
        var = field.name
        sub = {f.name for f in field.dataType.fields}
        cols.append(F.col(f"b.{var}.value").alias(f"{var}.value"))
        if "type" in sub:
            cols.append(F.col(f"b.{var}.type").alias(f"{var}.type"))
        if "xml:lang" in sub:
            cols.append(F.col(f"b.{var}.`xml:lang`").alias(f"{var}.xml:lang"))
    return rows.select(*cols)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S8: snappy parquet sink (Spark default codec is snappy)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
