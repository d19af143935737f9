"""GEDCOM scan: record-delimited chunks -> the lines IR with ``record_seq``.

Input model (reference: the `gedcom-stream` dependency consumed at
/root/reference/index.js:70,77): GEDCOM's line format
``LEVEL [@XREF@] TAG [VALUE]``, one record tree rooted at each level-0
line. Spark has no recursive struct type, so the engine's IR is a flat
*lines* DataFrame ``(line_no, level, xref, tag, value, record_seq)``.

Scan design: the text source reads with ``lineSep="\\n0 "``, so each row
(a *chunk*) is, in the common case, one whole level-0 record, and
Hadoop's record reader finishes a chunk that crosses a split. The
separator only sets the chunk size; records are decided per line. Each
chunk is split on ``\\r\\n|\\r|\\n``, every line is parsed with
``_LINE_RE`` (blank and unparsable lines, and lines deeper than level
99, drop), and a record starts at every line whose *parsed* level is 0
(an indented ``  0 @I9@ INDI``, or any level-0 line after a lone-CR
line end, starts one inside a chunk).
Lines of a chunk before its first level-0 line belong to no record and
drop: the lines before a file's first record, and — only in a malformed
file whose ``0 `` line has no tag — the lines after that line up to the
next record.

``record_seq`` is ``monotonically_increasing_id() + 1`` taken after the
chunks explode into records, and ``line_no`` the same id after the
records explode into lines. No shuffle, no driver-side prefix sum and no
Python worker, so ``record_seq`` is:

- unique, and increasing in file order within a file;
- dense and 1-based only for in-memory text (``lines_from_string``) and
  for a file read in one split; otherwise each scan partition's ids
  start at ``partition_index << 33``;
- what the CLI's ``skipped records`` audit prints.

``line_no`` is unique across the whole input and increasing in file
order within a record (``extract.py`` sorts each record's lines by it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# LEVEL [@XREF@] TAG [VALUE] — value = everything after one separator
# space (trailing spaces are significant in GEDCOM values). Real-world
# files often open with a UTF-8 BOM before "0 HEAD"; tolerate it so the
# header record survives (it would otherwise fail the match and drop,
# reassigning the HEAD children to no record).
_LINE_RE = "^\ufeff?" + r"\s*(\d+)(?:\s+@([^@]*)@)?\s+(\S+)(?: (.*))?$"

# Chunk separator of the text scan; the reader drops it, so every chunk
# but a file's first gets its "0 " back.
_CHUNK_SEP = "\n0 "


# GEDCOM's deepest level (the 5.5.1 grammar caps levels at 99). A deeper
# line is not GEDCOM and drops like a malformed one; the extraction's
# per-record work grows with the record's deepest level.
_MAX_LEVEL = 99


def _parse(line: Column) -> Column:
    """One line -> (level, xref, tag, value); level is null when the
    line does not match (blank or malformed) or is deeper than
    ``_MAX_LEVEL``."""
    level = F.regexp_extract(line, _LINE_RE, 1).try_cast("int")
    return F.struct(
        F.when(level <= _MAX_LEVEL, level).alias("level"),
        F.nullif(F.regexp_extract(line, _LINE_RE, 2), F.lit("")).alias("xref"),
        F.regexp_extract(line, _LINE_RE, 3).alias("tag"),
        F.coalesce(F.regexp_extract(line, _LINE_RE, 4), F.lit("")).alias("value"),
    )


def _chunk_lines(chunks: DataFrame) -> DataFrame:
    """Chunks ``(value, first)`` -> the lines IR; ``first`` marks a
    chunk that starts its file (it kept its leading ``0 ``).

    Each step is its own projection, so the parsed array is built once
    per chunk and not once per reference.
    """
    text = F.when(F.col("first"), F.col("value")).otherwise(
        F.concat(F.lit(_CHUNK_SEP[1:]), F.col("value"))
    )
    parsed = chunks.select(
        F.filter(
            F.transform(F.split(text, r"\r\n|\r|\n"), _parse),
            lambda l: l.level.isNotNull(),
        ).alias("ls")
    )
    starts = parsed.select(
        "ls",
        F.filter(
            F.transform("ls", lambda l, i: F.when(l.level == 0, i)),
            lambda i: i.isNotNull(),
        ).alias("starts"),
    )
    records = starts.select(
        F.explode(
            F.transform(
                "starts",
                lambda s, k: F.slice(
                    "ls",
                    s + 1,
                    F.coalesce(F.get("starts", k + 1), F.size("ls")) - s,
                ),
            )
        ).alias("rec")
    )
    lines = records.select(
        (F.monotonically_increasing_id() + 1).alias("record_seq"), "rec"
    ).select("record_seq", F.explode("rec").alias("l"))
    return lines.select(
        F.monotonically_increasing_id().alias("line_no"),
        "l.level",
        "l.xref",
        "l.tag",
        "l.value",
        "record_seq",
    )


def scan_chunks(spark: SparkSession, path: str) -> DataFrame:
    """Record-delimited text scan of a GEDCOM file or directory:
    ``(value, file, block_start)`` per chunk."""
    return (
        spark.read.option("lineSep", _CHUNK_SEP)
        .format("text")
        .load(path)
        .select(
            "value",
            F.col("_metadata.file_path").alias("file"),
            F.col("_metadata.file_block_start").alias("block_start"),
        )
    )


def lines_from_chunks(chunks: DataFrame) -> DataFrame:
    """The lines IR of a ``scan_chunks`` frame.

    A file's first chunk is the first row its offset-0 split yields. That
    is not row 0 of a scan partition when small files share one, so it is
    found by one small job: the minimum row id per file among offset-0
    chunks. Row ids are stable between that job and the ones that read
    the result, because file scan partitioning is deterministic.
    """
    numbered = chunks.withColumn("_id", F.monotonically_increasing_id())
    first_ids = [
        first_id
        for _, first_id in numbered.filter(F.col("block_start") == 0)
        .groupBy("file")
        .agg(F.min("_id"))
        .collect()
    ]
    return _chunk_lines(
        numbered.select("value", F.col("_id").isin(first_ids).alias("first"))
    )


def read_gedcom_lines(spark: SparkSession, path: str) -> DataFrame:
    """Scan a GEDCOM file (or directory of files) into the lines IR."""
    return lines_from_chunks(scan_chunks(spark, path))


def lines_from_string(spark: SparkSession, text: str, n_partitions: int = 2) -> DataFrame:
    """Build the lines IR from an in-memory GEDCOM string (tests/demos).

    The whole text is one chunk in partition 0, so ``record_seq`` is
    dense and 1-based. The lines are then range-partitioned by
    ``line_no`` into ``n_partitions``, so extraction runs on several
    partitions as it does on a scanned file.
    """
    chunk = spark.createDataFrame([(text, True)], "value string, first boolean")
    return _chunk_lines(chunk.coalesce(1)).repartitionByRange(n_partitions, "line_no")


def assign_records(lines: DataFrame) -> DataFrame:
    """Identity: the scan already sets ``record_seq``.

    Kept because the benchmark harness times it as its own ``parser``
    span; no package code calls it.
    """
    return lines
