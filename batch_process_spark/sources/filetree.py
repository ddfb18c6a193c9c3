"""File-tree source: the reference's recursive scan as a DataFrame.

- ``file_tree_df`` — one row per file AND directory (the reference
  visits both), with ``relpath``, ``level0..levelN``, ``is_dir``,
  ``size``, ``mtime``, ``ext``, ``name``. Listing happens driver-side
  (metadata only; trees of millions of entries should come from a
  storage inventory / ``binaryFile`` listing instead — the columns and
  rule semantics are identical). The rows reach Spark as one Arrow
  table (``arrow_frame``): no Python worker ever runs on the listing.
- ``match_rule`` — the reference's glob-rule semantics
  (``core/engine.py:439-462``) compiled to a Column predicate:
  ``**`` globstar, ``*``/``?``/``[...]`` within a segment, trailing
  ``/`` = directories only, ``"."`` = the root itself, patterns are
  relative to the scan root.
- ``read_tree_texts`` — whole-file text per file via Spark's
  ``binaryFile`` source (distributed read). The UTF-8 decode runs in
  the JVM and equals Python's ``bytes.decode("utf-8", errors="ignore")``
  (the reference's ``safe_read_text``) byte for byte.
- Both sources derive ``name``/``ext``/``level0..N`` from ``relpath``
  in one shared projection (``_with_tree_columns``).
- ``label_dimension`` / ``attach_labels`` — the ``_dict.txt`` /
  ``.cate`` label+category enrichment (S12/J1) as a broadcast join.
"""

from __future__ import annotations

import os
import re
from pathlib import Path
from typing import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_process_spark.operators.filtering import scan_char_class, translate_char_class

MAX_LEVELS = 8


_LISTING_SCHEMA = pa.schema(
    [("path", pa.string()), ("relpath", pa.string()), ("is_dir", pa.bool_()),
     ("size", pa.int64()), ("mtime", pa.int64())]
)


def arrow_frame(spark: SparkSession, schema: pa.Schema, rows: Sequence[tuple]) -> DataFrame:
    """Driver-side rows -> DataFrame through one Arrow table.

    The frame is a local relation (``LocalTableScan``; past
    ``spark.sql.execution.arrow.localRelationThreshold`` a JVM RDD of
    Arrow batches), so scanning it runs JVM tasks only: ``createDataFrame``
    from a Python list would start a Python task per partition. Works
    with the Arrow conf off.
    """
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, schema)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=schema))


def _with_tree_columns(df: DataFrame, max_levels: int, is_file: str) -> DataFrame:
    """Append ``name``, ``ext`` and ``level0..level{max_levels-1}``,
    derived from ``relpath``, in one projection. ``is_file`` is the SQL
    predicate for rows that get an extension (directories get ``""``);
    the scan root (relpath ``""``) gets no levels.

    One ``selectExpr``: building the same columns through the Column API
    costs several times the driver time (a Py4J call per function), and
    a ``withColumn`` chain re-analyses the plan once per column.
    """
    parts = "split(relpath, '/')"
    name = f"element_at({parts}, -1)"
    # the CASE guards keep element_at in range under ANSI mode too
    levels = [
        f"CASE WHEN relpath != '' AND size({parts}) > {i} THEN element_at({parts}, {i + 1}) END"
        f" AS level{i}"
        for i in range(max_levels)
    ]
    return df.selectExpr(
        "*",
        f"{name} AS name",
        f"CASE WHEN {is_file} THEN regexp_extract({name}, '[.]([^.]+)$', 1) ELSE '' END AS ext",
        *levels,
    )


def file_tree_df(
    spark: SparkSession, root: str, max_levels: int = MAX_LEVELS
) -> DataFrame:
    """Scan ``root`` recursively into a DataFrame of files + dirs."""
    rootp = Path(root)
    # The scan root itself is a visitable node (relpath ""): the
    # reference hangs pre-processor rules on "." and runs them at the
    # root, so the root must exist as a row for match_rule(".") to hit.
    root_st = rootp.stat()
    rows = [(str(rootp), "", True, 0, int(root_st.st_mtime))]
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(dirnames):
            p = Path(dirpath) / name
            st = p.stat()
            rows.append((str(p), p.relative_to(rootp).as_posix(), True, 0, int(st.st_mtime)))
        for name in sorted(filenames):
            p = Path(dirpath) / name
            st = p.stat()
            rows.append(
                (str(p), p.relative_to(rootp).as_posix(), False, st.st_size, int(st.st_mtime))
            )
    df = arrow_frame(spark, _LISTING_SCHEMA, rows)
    return _with_tree_columns(df, max_levels, "NOT is_dir")


def glob_to_tree_regex(pattern: str) -> str:
    """Reference rule glob -> regex over the relative posix path.

    ``**`` crosses directory separators; ``*``/``?`` stay within one
    segment; character classes pass through.
    """
    out = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "*":
            if i + 1 < n and pattern[i + 1] == "*":
                # '**/' matches zero or more whole segments
                if i + 2 < n and pattern[i + 2] == "/":
                    out.append(r"(?:[^/]+/)*")
                    i += 2
                else:
                    out.append(r".*")
                    i += 1
            else:
                out.append(r"[^/]*")
        elif ch == "?":
            out.append(r"[^/]")
        elif ch == "[":
            # classes delegate to fnmatch's own translation so every
            # edge case (leading-']' literal, '!' negation, literal '^',
            # invalid ranges -> never-match) agrees with CPython
            j = scan_char_class(pattern, i)
            if j < 0:
                out.append(re.escape("["))
            else:
                out.append(translate_char_class(pattern[i : j + 1]))
                i = j
        else:
            out.append(re.escape(ch))
        i += 1
    return "^" + "".join(out) + "$"


def match_rule(pattern: str) -> Column:
    """Rule pattern -> boolean Column over (relpath, is_dir) columns."""
    if pattern == ".":
        # the scan root: file_tree_df emits it with relpath ""; accept a
        # literal "." too for frames built by other producers
        return F.col("relpath").isin("", ".")
    dir_only = pattern.endswith("/")
    if dir_only:
        pattern = pattern.rstrip("/")
    rx = glob_to_tree_regex(pattern)
    # only the explicit "." rule selects the scan root: '*'/'**'/'*/'
    # match the empty relpath as regexes, but a broad glob must never
    # hand the root itself to file ops (rename/delete of the scan root)
    pred = (F.col("relpath") != "") & F.col("relpath").rlike(rx)
    if dir_only:
        pred = pred & F.col("is_dir")
    return pred


def _decode_utf8_ignore(content: str) -> str:
    """SQL for ``bytes.decode("utf-8", errors="ignore")`` of a binary
    column, evaluated in the JVM.

    Valid input is cast as is. Otherwise ``make_valid_utf8`` replaces each
    maximal invalid subpart with U+FFFD (Python's ``errors="replace"``
    rule) and the inserted U+FFFDs are dropped. Literal U+FFFDs and the
    escape ``chr(1)`` are escaped first (``chr(1)`` -> ``chr(1) '0'``,
    U+FFFD -> ``chr(1) '1'``) so they survive the drop. The escape is
    ASCII, so its byte never sits inside a multi-byte sequence and
    escaping cannot regroup the invalid bytes around it; every ``chr(1)``
    in the escaped text starts a pair, so the unescape is unambiguous.
    """
    raw = f"CAST({content} AS STRING)"  # no validation: the bytes as they are
    escaped = f"replace(replace({raw}, chr(1), chr(1) || '0'), '\ufffd', chr(1) || '1')"
    dropped = f"replace(make_valid_utf8({escaped}), '\ufffd', '')"
    kept = f"replace(replace({dropped}, chr(1) || '1', '\ufffd'), chr(1) || '0', chr(1))"
    return f"CASE WHEN is_valid_utf8({raw}) THEN {raw} ELSE {kept} END"


def _qualified_prefix(spark: SparkSession, root: str) -> str:
    """``root`` as Spark's file index qualifies it (Hadoop
    ``makeQualified``), with a trailing ``/``: the prefix of every listed
    ``path``, whatever the scheme, and not resolved through symlinks."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    q = fs.makeQualified(jpath).toString()
    return q if q.endswith("/") else q + "/"


def read_tree_texts(
    spark: SparkSession, root: str, glob: str | None = None, max_levels: int = MAX_LEVELS
) -> DataFrame:
    """Distributed whole-file text read under ``root`` (files only).

    Uses the binaryFile source (pushdown on pathGlobFilter) + a JVM-side
    UTF-8 decode equal to ``errors="ignore"`` — the reference's lenient
    ``safe_read_text`` (``utils/io_helpers.py:5-9``). ``root`` may be a
    local path or any Hadoop URI (``file://``, ``hdfs://``, ``s3a://``);
    ``relpath`` is relative to ``root`` as given (a symlinked root is not
    resolved), ``path`` drops the ``file:`` scheme.

    Contract on skipped files: Spark's file index skips ``_``- and
    ``.``-prefixed names (Hadoop metadata convention), so control files
    like ``_dict.txt`` are invisible here — by design: they are read
    driver-side by ``label_dimension`` (os.walk), which does see them.
    Zero-byte files get no row either (the file scan drops empty files),
    although ``file_tree_df`` lists them and the reference reads them
    as ``""``.
    """
    reader = (
        spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    prefix = _qualified_prefix(spark, root)
    df = reader.load(root).selectExpr(
        "regexp_replace(path, '^file:', '') AS path",
        f"substring(path, {len(prefix) + 1}) AS relpath",
        "length AS size",
        f"{_decode_utf8_ignore('content')} AS text",
    )
    return _with_tree_columns(df, max_levels, "TRUE")


# ---------------------------------------------------------------------------
# label / category dimension (S12)
# ---------------------------------------------------------------------------

_DICT_LINE = re.compile(r"^\s*([^#,\s]+)\s*[,\s]\s*(.+?)\s*$")


def parse_dict_text(text: str) -> list[tuple[str, str]]:
    """Parse ``_dict.txt`` content: ``name label`` per line, comma or
    whitespace separated, ``#`` comments, malformed lines skipped
    (reference ``processors/file_ops.py:226-248``)."""
    out = []
    for line in text.splitlines():
        if line.strip().startswith("#"):
            continue
        m = _DICT_LINE.match(line)
        if m:
            out.append((m.group(1), m.group(2)))
    return out


_LABEL_SCHEMA = pa.schema(
    [("dir", pa.string()), ("name", pa.string()), ("label", pa.string()), ("category", pa.string())]
)


def label_dimension(
    spark: SparkSession, root: str, dict_name: str = "_dict.txt", category_suffix: str = ".cate"
) -> DataFrame:
    """Build the (dir, name, label, category) dimension from mapping
    files in the tree (driver-side: these are tiny control files)."""
    rows = []
    rootp = Path(root)
    for dirpath, _dirnames, filenames in os.walk(root):
        reldir = Path(dirpath).relative_to(rootp).as_posix()
        reldir = "" if reldir == "." else reldir
        category = None
        for fn in filenames:
            if fn.endswith(category_suffix):
                category = fn[: -len(category_suffix)]
        if dict_name in filenames:
            text = (Path(dirpath) / dict_name).read_text(encoding="utf-8", errors="ignore")
            for name, label in parse_dict_text(text):
                rows.append((reldir, name, label, category))
    return arrow_frame(spark, _LABEL_SCHEMA, rows)


def attach_labels(tree: DataFrame, dim: DataFrame) -> DataFrame:
    """Broadcast-join labels/categories onto the tree; label falls back
    to the file name (the reference's ``dict.get(name, name)``)."""
    t = tree.withColumn(
        "dir",
        F.when(
            F.col("relpath").contains("/"),
            F.regexp_replace(F.col("relpath"), r"/[^/]+$", ""),
        ).otherwise(F.lit("")),
    )
    out = t.join(F.broadcast(dim), on=["dir", "name"], how="left")
    return out.withColumn("label", F.coalesce(F.col("label"), F.col("name")))
