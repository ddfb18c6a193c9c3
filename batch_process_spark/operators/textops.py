"""Row-wise text transforms + line counting (P4/P5).

The reference mutates files in place (upper/lower/strip blank lines,
``plugins/example.py:43-63``) and counts lines/code lines
(``advanced_plugin.py:10-22``, ``custom/my_processors.py:5-27``).
Spark-first these are column transforms over whole-file text rows —
the write-back (if wanted) is a sink concern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def remove_blank_lines(col: Column | str) -> Column:
    """Drop empty/whitespace-only lines from a text blob."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(
        F.filter(F.split(c, "\n"), lambda l: F.trim(l) != ""), "\n"
    )


def count_lines(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(c, "\n"))


def count_code_lines(col: Column | str, comment_prefixes=("#", "//")) -> Column:
    """Non-empty, non-comment lines."""
    c = F.col(col) if isinstance(col, str) else col
    rx = "|".join(
        "^" + p.replace("/", "/") for p in (pfx.replace("#", r"\#") for pfx in comment_prefixes)
    )
    return F.size(
        F.filter(
            F.split(c, "\n"),
            lambda l: (F.trim(l) != "") & ~F.trim(l).rlike(rx),
        )
    )


def word_char_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """lines/words/chars per file — the reference's standard result
    record payload."""
    t = F.col(text_col)
    return (
        df.withColumn("lines", count_lines(t))
        .withColumn("words", F.size(F.filter(F.split(t, r"\s+"), lambda w: w != "")))
        .withColumn("chars", F.length(t))
    )
