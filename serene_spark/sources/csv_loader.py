"""CSV ingestion with the reference loader's semantics (SURVEY §2.1).

Reference: ``CsvDataLoader`` (matcher/.../ingestion/loader/CsvDataLoader.scala:42-111):
RFC4180 parse, drop all-empty rows (:80-81), multi-line headers joined with
``_``, numeric-header heuristic => headerless (:92-97), and the server-side
``typeMap`` cast (core/.../drivers/DataSetInterface.scala:304-324 ``retypeData``
with LogicalType = {string, integer, float, boolean, factor},
types/.../DataSetTypes.scala:62-83).

Spark-first shape: ``spark.read.csv`` (distributed, PERMISSIVE) does the
parsing; only the header probe reads a bounded prefix. Multi-line headers are
merged by dropping rows that exactly match the probed header rows — a
distributed-safe rephrasing of "skip first N lines" (Spark's CSV source has
no skipLines; an exact-match data row would be dropped too, documented).

Naming rule: the final column names come from the READ SCHEMA. The header
is probed first, the names are derived and deduplicated, and the file is
read with a ``StructType`` of those string columns, so the header-drop and
empty-row filters reference the final names directly. Never rename a loaded
frame above its filters (``toDF`` / ``withColumnRenamed`` / aliasing
``select``): each renaming alias makes Catalyst's constraint propagation
(``UnaryNode.getAllValidConstraints``) add a rewritten copy of every
constraint that mentions the column, and the filters mention every column,
so the constraint set grows as 2^width — seconds of driver planning at 16
columns, a driver OOM at 20.
"""

from __future__ import annotations

import operator
import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

_NUMERIC_RE = re.compile(r"^[+-]?([0-9]+([.][0-9]*)?|[.][0-9]+)$")

LOGICAL_TYPES = {
    "string": "string",
    "integer": "long",
    "float": "double",
    "boolean": "boolean",
    "factor": "string",  # factor = string + categorical metadata (DataSetTypes.scala:62-83)
}


def _sanitize(name: str) -> str:
    name = name.strip()
    return re.sub(r"[^0-9a-zA-Z_]+", "_", name) or "col"


def _probe_header_rows(
    spark: SparkSession, path: str, header_lines: int, ncols: int
) -> list[list[str]] | None:
    """First ``header_lines`` parsed rows of the lexicographically FIRST file.

    ``raw.limit(n).collect()`` gives no file/row-order guarantee for
    directory/glob inputs, so the probe resolves the first file explicitly
    (local glob; falls back to a single-file Spark read otherwise) and parses
    its head. Header rows of OTHER files are handled by the exact-match drop
    in ``load_csv`` — every row equal to a probed header row is removed.
    """
    import csv as _csv
    import glob as _glob
    import io
    import os

    if header_lines <= 0:
        return None
    def _is_data_file(name: str) -> bool:
        # Spark file-source convention: _SUCCESS/_committed/.hidden are metadata
        return not (name.startswith(".") or name.startswith("_"))

    candidates: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            candidates += [os.path.join(root, f) for f in files if _is_data_file(f)]
    elif os.path.isfile(path):
        candidates = [path]
    else:
        candidates = [
            p for p in _glob.glob(path)
            if os.path.isfile(p) and _is_data_file(os.path.basename(p))
        ]
    if candidates:
        first = sorted(candidates)[0]
        with open(first, newline="", encoding="utf-8", errors="replace") as fh:
            head = list(io.StringIO("".join(fh.readline() for _ in range(header_lines))))
        rows = list(_csv.reader(head))
    else:
        # non-local path: single-file Spark read; limit on one file returns
        # its leading split's rows in order
        rows = [list(r) for r in spark.read.csv(path, header=False).limit(header_lines).collect()]
    out = []
    for r in rows[:header_lines]:
        vals = ["" if v is None else str(v) for v in r]
        out.append((vals + [""] * ncols)[:ncols])
    return out or None


def load_csv(
    spark: SparkSession,
    path: str,
    header_lines: int = 1,
    type_map: dict[str, str] | None = None,
) -> DataFrame:
    """Load CSV(s) at ``path`` (file, dir, or glob) with serene semantics."""
    ncols = len(spark.read.csv(path, header=False, inferSchema=False, mode="PERMISSIVE").columns)

    header_rows = _probe_header_rows(spark, path, header_lines, ncols) or []
    headerless = False
    if header_rows:
        first = header_rows[0]
        # numeric-header heuristic (CsvDataLoader.scala:92-97): an all-numeric
        # first row is data, not a header
        if all(_NUMERIC_RE.match(v) for v in first if v != ""):
            headerless = True
    if header_lines == 0 or headerless or not header_rows:
        header_rows = []
        names = [f"col_{i}" for i in range(ncols)]
    else:
        names = [
            _sanitize("_".join(p[i] for p in header_rows if p[i] != "") or f"col_{i}")
            for i in range(ncols)
        ]

    # dedupe names
    seen: dict[str, int] = {}
    final = []
    for n in names:
        if n in seen:
            seen[n] += 1
            final.append(f"{n}_{seen[n]}")
        else:
            seen[n] = 0
            final.append(n)
    schema = StructType([StructField(n, StringType()) for n in final])
    df = spark.read.schema(schema).csv(path, header=False, mode="PERMISSIVE")
    cells = [F.coalesce(F.col(c), F.lit("")) for c in final]

    # drop the header rows themselves (exact-match filter; see module doc)
    if header_rows:
        df = df.filter(~reduce(operator.or_, [
            reduce(operator.and_, [cell == F.lit(p[i]) for i, cell in enumerate(cells)])
            for p in header_rows
        ]))

    # drop all-empty rows (CsvDataLoader.scala:80-81)
    df = df.filter(reduce(operator.or_, [F.length(F.trim(cell)) > 0 for cell in cells]))

    if type_map:
        for col, ltype in type_map.items():
            if col in df.columns:
                spark_type = LOGICAL_TYPES.get(ltype.lower())
                if spark_type is None:
                    raise ValueError(f"unknown logical type {ltype!r} for column {col!r}")
                df = df.withColumn(col, F.col(col).cast(spark_type))
    return df


def sample_columns(df: DataFrame, n: int = 15, seed: int = 1234) -> dict[str, list]:
    """API column sample: n values drawn from the first 4*n rows, seeded
    (DataSetInterface.scala:39-41,214-235). The seed is folded INTO the sort
    hash so different seeds genuinely reorder the sample."""
    head = df.limit(4 * n)
    row_key = F.concat_ws(
        "|",
        F.lit(str(seed)),
        *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns],
    )
    sampled = head.orderBy(F.md5(row_key)).limit(n).collect()
    return {c: [row[c] for row in sampled] for c in df.columns}


def truncate_suffix(attr_id: str) -> str:
    """``name@table@db`` / ``name@db`` → ``name`` (CSVDataWriter.scala:55-62)."""
    return attr_id.split("@", 1)[0]


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink with the reference writer's semantics
    (CSVDataWriter.scala:18-65): every value quoted (quoteAll), header names
    are attribute ids with the ``@table@db`` suffix stripped, and values are
    cleaned with newline→space, double-quote→single-quote (``cleanString``).

    Spark-first: a distributed ``df.write.csv`` — one part-file per partition
    at scale. ``single_file=True`` coalesces to one partition for small
    exports (the reference always writes one file; at 100 TB you want the
    parallel layout, so it is opt-in).
    """
    # the newline cleanup must cover \r too: Spark's CSV reader treats a
    # bare carriage return as a record separator even inside a quoted
    # field, so an uncleaned \r split the row on read-back (one cell
    # became two corrupted rows — found by the round-trip property test)
    cleaned = df.select(
        *[
            F.regexp_replace(
                F.regexp_replace(
                    F.coalesce(F.col(c).cast("string"), F.lit("")),
                    "[\n\r]", " "),
                '"',
                "'",
            ).alias(truncate_suffix(c))
            for c in df.columns
        ]
    )
    if single_file:
        cleaned = cleaned.coalesce(1)
    cleaned.write.mode("overwrite").csv(path, header=True, quoteAll=True, emptyValue="")
