"""Lenient extraction readers (S3-S7): dirty-data-tolerant numeric and
structured extraction, the reference's errors-as-data convention.

All readers return DataFrames with ``status``/``error``-style leniency:
unparseable cells/files produce NULLs or empty arrays, never job
failures (reference ``utils/io_helpers.py``; engine catch-and-continue
``core/engine.py:519-537``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_FLOAT_RX = r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"


def csv_numeric_column(
    spark: SparkSession, path: str, column: str | None = None
) -> DataFrame:
    """S5: one CSV column as doubles, silently skipping non-numeric
    cells (reference ``csv_values``). ``column=None`` -> first column."""
    df = spark.read.csv(path, header=True, mode="PERMISSIVE")
    col = column or df.columns[0]
    if col not in df.columns:
        return spark.createDataFrame([], "value double")
    return (
        df.select(F.col(col).cast("double").alias("value"))
        .filter(F.col("value").isNotNull())
    )


def extract_floats(text: Column | str) -> Column:
    """All float literals in a text blob -> array<double> (the lenient
    whitespace-numeric reader of S6)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.transform(
        F.regexp_extract_all(c, F.lit(_FLOAT_RX), 0), lambda s: s.cast("double")
    )


def sniff_numeric_values(df: DataFrame, text_col: str = "text", ext_col: str = "ext") -> DataFrame:
    """S6: mixed-format numeric sniffing over whole-file texts.

    Per file, by extension/content:
    - ``csv``: numbers from all data cells (header row skipped)
    - ``json``: numbers anywhere in the JSON payload
    - tagged lines (``CSV:`` / ``JSON:`` prefixes): payload after the tag
    - otherwise: whitespace/comma-separated numeric tokens, ``#``
      comment lines dropped

    Emits ``values array<double>`` (empty on unparseable input — never
    fails). Pure column expressions; one pass, map-only.
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    no_comments = F.filter(lines, lambda l: ~F.trim(l).startswith("#"))
    body = F.array_join(F.slice(no_comments, 2, F.greatest(F.size(no_comments) - 1, F.lit(0))), "\n")
    tagged = F.filter(
        no_comments, lambda l: F.trim(l).rlike(r"^(CSV:|JSON:)") | F.trim(l).rlike(r"^-?\d")
    )
    is_tagged = F.exists(lines, lambda l: F.trim(l).rlike(r"^(CSV:|JSON:)"))
    values = (
        F.when(F.col(ext_col) == "csv", extract_floats(body))
        .when(F.col(ext_col) == "json", extract_floats(t))
        .when(is_tagged, extract_floats(F.array_join(tagged, "\n")))
        .otherwise(extract_floats(F.array_join(no_comments, "\n")))
    )
    return df.withColumn("values", values)


def safe_json_table(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """S4: permissive JSON read; corrupt files land in
    ``_corrupt_record`` instead of failing."""
    reader = spark.read.option("multiLine", "true").option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema:
        reader = reader.schema(schema + ", _corrupt_record string")
    return reader.json(path)
