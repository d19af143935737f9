"""A first-class GEDCOM source via Spark's Python DataSource API:

    spark.dataSource.register(GedcomDataSource)
    lines = spark.read.format("gedcom").load("/data/trees/")        # batch
    lines = spark.readStream.format("gedcom").load("/data/inbox/")  # stream

Output schema is the engine's lines IR *with record assignment already
done* — (file, record_seq, line_no, level, xref, tag, value) — so the
result feeds `gedcom.extract.extract_graph` directly, no
`assign_records` pass needed.

This re-expresses the reference's source layer (file scan → gedcom-stream
record grouping, /root/reference/index.js:117-125 and the gedcom-stream
pipe at index.js:70,77) as a pluggable Spark source instead of a
driver-side stream.

Scale design:
- **Byte-range input splits** (default 32 MB): each file is split like
  Hadoop text splits, so one 100 GB GEDCOM file fans out across the
  cluster instead of pinning one task. Alignment uses the classic
  seek(start-1)+readline trick to land on a line boundary, then defers
  to RECORD boundaries: a split owns exactly the records whose level-0
  line *starts* inside [start, end), reading past `end` to finish its
  last record and skipping leading lines that belong to the previous
  split's record. Every line is emitted exactly once, by exactly one
  split, with no coordination.
- **Offset-based identity**: `line_no` / `record_seq` are byte offsets
  (batch reads tag them with the file's index in the one stable listing
  in the high bits), file-order monotonic and unique without any global
  counter — the same reasoning as `parser.assign_records`' shuffle-free
  prefix-sum, but computed for free while scanning. Streamed files are
  numbered files-processed-so-far + in-batch rank — unique across the
  stream's life (the processed set only grows) and stable under replay
  of a committed batch.
- **Streaming**: the stream reader treats files as immutable-once-
  present (the standard file-source contract), lists the directory per
  microbatch, and fans NEW files out as one partition each — discovery
  on the driver is O(files), all parsing on executors. Offsets are the
  sorted list of processed files, so `partitions(start, end)` is a pure
  set difference and replay of a committed batch is deterministic.

The per-line work is a Python regex — this source is the *convenience /
completeness* path mirroring the reference's API surface; the hot path
for bulk backfills remains `parser.read_gedcom_lines` (JVM
`spark.read.text` + codegen'd regexp_extract). Both produce identical
(level, xref, tag, value) rows; tests pin that.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from collections.abc import Iterable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    IsNotNull,
    WriterCommitMessage,
)

# The one line grammar (LEVEL [@XREF@] TAG [VALUE], BOM-tolerant),
# shared with the JVM path so both sources parse identically. re.ASCII
# matters: Java regex \s/\d are ASCII-only, while Python's default is
# Unicode-aware — without the flag this source would accept NBSP
# separators or Arabic-Indic level digits that regexp_extract rejects,
# silently diverging on record structure. (The literal U+FEFF BOM
# alternative still matches under ASCII mode.) Known residual
# divergence: Hadoop's text reader also splits on lone \r line
# terminators; this reader splits on \n only.
from node_gedcom_graph_spark.gedcom.parser import _LINE_RE

LINE_RE = re.compile(_LINE_RE, re.ASCII)

SCHEMA = (
    "file string, record_seq bigint, line_no bigint, "
    "level int, xref string, tag string, value string"
)


def _arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("file", pa.string()),
            pa.field("record_seq", pa.int64()),
            pa.field("line_no", pa.int64()),
            pa.field("level", pa.int32()),
            pa.field("xref", pa.string()),
            pa.field("tag", pa.string()),
            pa.field("value", pa.string()),
        ]
    )

DEFAULT_SPLIT_SIZE = 32 * 1024 * 1024
_FILE_SHIFT = 40  # offsets get file_index << 40 (supports 1 TB per file)


def _list_gedcom_files(path: str) -> list[str]:
    """Expand a file or directory path into a sorted list of data files."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if not n.startswith((".", "_")) and os.path.isfile(os.path.join(path, n))
        )
    return [path]


class _RangePartition(InputPartition):
    def __init__(self, file: str, file_index: int, start: int, end: int):
        self.file = file
        self.file_index = file_index
        self.start = start
        self.end = end


def _split_file(file: str, file_index: int, split_size: int) -> list[_RangePartition]:
    size = os.path.getsize(file)
    if size == 0:
        return []
    return [
        _RangePartition(file, file_index, off, min(off + split_size, size))
        for off in range(0, size, split_size)
    ]


def _read_range(part: _RangePartition, fobj=None) -> Iterator[tuple]:
    """Emit the lines of every record whose level-0 line starts in
    [part.start, part.end), as plain row tuples. Thin wrapper over the
    Arrow-batch scanner (the readers yield the batches directly; this
    row view serves tests and any per-row consumer)."""
    for batch in _read_range_batches(part, fobj):
        cols = [c.to_pylist() for c in batch.columns]
        yield from zip(*cols)


def _read_range_batches(part: _RangePartition, fobj=None, pushed: list | None = None):
    """Emit the lines of every record whose level-0 line starts in
    [part.start, part.end) as ``pyarrow.RecordBatch``es. See module
    docstring for the split rules. ``fobj``: optional already-open
    binary file-like (the inline path); default opens part.file from
    the local filesystem."""
    if fobj is not None:
        yield from _scan_range(part, fobj, pushed or [])
        return
    with open(part.file, "rb") as f:
        yield from _scan_range(part, f, pushed or [])


# Bytes/MULTILINE twin of LINE_RE, applied to a whole split in ONE
# C-level finditer pass instead of a Python loop of readline+match.
# Divergence-proofing vs the per-line form:
# - \s classes are narrowed to [ \t\r\f\v] (no \n) so ^\s* cannot
#   swallow a blank line and anchor the match at the PREVIOUS line's
#   start — per-line semantics keep whitespace intra-line.
# - the xref class excludes \n so an unterminated @xref cannot span
#   lines.
# - the per-line path matches against rstrip("\r\n"); here the value
#   group is non-greedy with a trailing \r* so CRLF files capture the
#   same value bytes.
# Bytes patterns are inherently ASCII, matching the re.ASCII intent of
# LINE_RE (Java-regex parity — see the module docstring).
_CHUNK_RE = re.compile(
    rb"^(?:\xef\xbb\xbf)?[ \t\r\f\v]*(\d+)(?:[ \t\r\f\v]+@([^@\n]*)@)?"
    rb"[ \t\r\f\v]+(\S+)(?: (.*?))?\r*$",
    re.MULTILINE,
)

_BATCH_ROWS = 1 << 16


def _scan_range(part: _RangePartition, f, pushed: list) -> Iterator:
    import pyarrow as pa

    tag_base = part.file_index << _FILE_SHIFT
    pos = part.start
    if part.start > 0:
        # Land on the first line boundary at/after `start`: back up
        # one byte and discard the (possibly empty) tail of the
        # previous split's line.
        f.seek(part.start - 1)
        f.readline()
        pos = f.tell()
        if pos >= part.end:
            return  # no line BOUNDARY inside this split -> owns nothing
    # One bulk read of the owned byte range; if it ends mid-line,
    # complete that line (its START is inside the range, so it's ours).
    chunk = f.read(part.end - pos)
    if not chunk:
        return
    if not chunk.endswith(b"\n"):
        chunk += f.readline()

    seqs: list[int] = []
    lnos: list[int] = []
    lvls: list[int] = []
    xrefs: list[str | None] = []
    tags: list[str] = []
    vals: list[str] = []

    def flush():
        batch = pa.record_batch(
            [
                pa.array([part.file] * len(seqs), pa.string()),
                pa.array(seqs, pa.int64()),
                pa.array(lnos, pa.int64()),
                pa.array(lvls, pa.int32()),
                pa.array(xrefs, pa.string()),
                pa.array(tags, pa.string()),
                pa.array(vals, pa.string()),
            ],
            schema=_arrow_schema(),
        )
        for c in (seqs, lnos, lvls, xrefs, tags, vals):
            c.clear()
        return batch

    record_seq = None
    for m in _CHUNK_RE.finditer(chunk):
        level = int(m.group(1))
        if level == 0:
            record_seq = tag_base + pos + m.start()
        if record_seq is None:
            continue  # tail lines of the previous split's record
        xref_b, val_b = m.group(2), m.group(4)
        row = (
            part.file,
            record_seq,
            tag_base + pos + m.start(),
            level,
            None if xref_b is None else xref_b.decode("utf-8", "replace"),
            m.group(3).decode("utf-8", "replace"),
            "" if val_b is None else val_b.decode("utf-8", "replace"),
        )
        if pushed and not _row_passes(pushed, row):
            continue
        seqs.append(row[1])
        lnos.append(row[2])
        lvls.append(row[3])
        xrefs.append(row[4])
        tags.append(row[5])
        vals.append(row[6])
        if len(seqs) >= _BATCH_ROWS:
            yield flush()

    # Tail: lines past `end` that belong to this split's LAST record
    # (its level-0 line started inside the range). Per-line scan until
    # the next record boundary — a handful of lines in practice.
    while True:
        line_start = f.tell()
        raw = f.readline()
        if not raw:
            break
        m = LINE_RE.match(raw.decode("utf-8", errors="replace").rstrip("\r\n"))
        if m is None:
            continue  # blank/garbage line (parser.parse_lines drops these too)
        if int(m.group(1)) == 0:
            break  # next split's record
        if record_seq is None:
            continue
        row = (
            part.file,
            record_seq,
            tag_base + line_start,
            int(m.group(1)),
            m.group(2),
            m.group(3),
            m.group(4) or "",
        )
        if pushed and not _row_passes(pushed, row):
            continue
        seqs.append(row[1])
        lnos.append(row[2])
        lvls.append(row[3])
        xrefs.append(row[4])
        tags.append(row[5])
        vals.append(row[6])
    if seqs:
        yield flush()


# Column index per pushable attribute in the output tuple.
_PUSHABLE = {"file": 0, "level": 3, "xref": 4, "tag": 5}


def _row_passes(pushed: list, row: tuple) -> bool:
    for f in pushed:
        v = row[_PUSHABLE[f.attribute[0]]]
        if isinstance(f, EqualTo):
            if v != f.value:
                return False
        elif isinstance(f, In):
            if v not in f.value:
                return False
        elif isinstance(f, IsNotNull):
            if v is None:
                return False
    return True


INLINE_FILE = "<inline>"


class GedcomBatchReader(DataSourceReader):
    """Batch reader over files, or over content embedded in the plan.

    ``.option("inline", <gedcom text>)`` reads the given string instead
    of the filesystem: the content serializes with this reader to every
    executor, so it is cluster-safe with no shared-storage assumption
    (meant for fixtures / small embedded documents — the same
    byte-range split + record-alignment machinery still runs over it).
    """

    def __init__(self, options: dict):
        self.inline = options.get("inline")
        self.path = options.get("path")
        if not self.path and self.inline is None:
            raise ValueError(
                "gedcom source requires a path (.load('/data/x.ged')) "
                "or .option('inline', <content>)"
            )
        self.split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
        self.pushed: list = []

    def pushFilters(self, filters: list) -> Iterable["Filter"]:
        """Handle EqualTo/In/IsNotNull on (file, level, xref, tag)
        inside the scan; everything else stays with Spark. Filters are
        applied at EMISSION time, after the regex parse and after
        record-boundary tracking — so record_seq stays correct even
        when the filter drops level-0 lines (the skipped record's
        boundary still advances the sequence). The saving is the
        per-row materialization + Arrow transfer of dropped rows, not
        the regex itself (every line must still parse for boundary
        tracking).

        NULL-bearing comparisons stay with Spark: SQL three-valued
        logic makes `x IN (..., NULL)` never-true-only-null, which a
        Python `in` check would wrongly pass for NULL cells."""
        residual = []
        for f in filters:
            ok = (
                isinstance(f, (EqualTo, In, IsNotNull))
                and len(f.attribute) == 1
                and f.attribute[0] in _PUSHABLE
            )
            if isinstance(f, EqualTo) and f.value is None:
                ok = False
            if isinstance(f, In) and any(v is None for v in f.value):
                ok = False
            if ok:
                self.pushed.append(f)
            else:
                residual.append(f)  # must be returned by reference
        return residual

    def partitions(self) -> Sequence[InputPartition]:
        if self.inline is not None:
            size = len(self.inline.encode("utf-8"))
            return [
                _RangePartition(INLINE_FILE, 0, off, min(off + self.split_size, size))
                for off in range(0, size, self.split_size)
            ] or [_RangePartition(INLINE_FILE, 0, 0, 0)]
        parts: list[_RangePartition] = []
        for idx, file in enumerate(_list_gedcom_files(self.path)):
            parts.extend(_split_file(file, idx, self.split_size))
        return parts

    def read(self, partition: _RangePartition) -> Iterator:
        # Arrow RecordBatch yields: one columnar hand-off per ~64k rows
        # instead of per-row tuple conversion in the Python worker —
        # the difference between ~12 us/line and ~2 us/line on a bulk
        # scan. Pushed filters apply at batch-build time (emission
        # semantics unchanged — see pushFilters).
        if self.inline is not None:
            import io

            return _read_range_batches(
                partition,
                io.BytesIO(self.inline.encode("utf-8")),
                self.pushed,
            )
        return _read_range_batches(partition, None, self.pushed)


DEFAULT_MAX_FILE_AGE_S = 7 * 24 * 3600  # same default contract as Spark's file source


class GedcomStreamReader(DataSourceStreamReader):
    """File-discovery streaming: each microbatch processes files that
    appeared since the last offset, one partition per new file.

    **Compacted offsets** (round-2 VERDICT item): an offset is
    ``{"v": 2, "wm": <max mtime seen>, "recent": [names with mtime >=
    wm - max_file_age]}`` — a high-watermark plus the recent set —
    instead of the full processed-file list, so a long-lived inbox
    stream's checkpoint entries are bounded by arrival-rate ×
    max_file_age, not by stream lifetime. The contract this buys is the
    SAME one Spark's built-in file source ships with ``maxFileAge``: a
    file that first appears with an mtime older than the watermark
    minus the age horizon is treated as already seen and ignored
    (immutable-files + files-arrive-with-current-mtime; ``mv`` from
    another filesystem preserving an ancient mtime is outside the
    contract, exactly as for the built-in source). Legacy v1 offsets
    (``{"files": [...]}``) are accepted as the start of the next batch,
    so checkpoints written before compaction resume cleanly.

    ``file_index`` is the file's rank within its batch: deterministic
    under replay of a committed ``(start, end)`` range (the sets are
    frozen in the offsets — partitions() touches no filesystem state),
    and unique within the batch, which is the scope record grouping
    needs (each micro-batch is extracted independently; cross-batch
    outputs are keyed by record_id/epoch, not record_seq).
    """

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("gedcom source requires a path: .load('/data/dir')")
        self.split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
        self.max_file_age = float(
            options.get("max_file_age_s", DEFAULT_MAX_FILE_AGE_S)
        )
        self._wm_floor = 0.0  # monotonic within this reader's life

    def initialOffset(self) -> dict:
        return {"v": 3, "wm": 0.0, "recent": {}}

    def latestOffset(self) -> dict:
        files = _list_gedcom_files(self.path)
        mtimes = {f: os.path.getmtime(f) for f in files}
        wm = max([self._wm_floor, *mtimes.values()]) if mtimes else self._wm_floor
        self._wm_floor = wm
        horizon = wm - self.max_file_age
        # v3: recent carries mtimes so partitions() can re-apply the
        # age contract against the CHECKPOINTED watermark — a fresh
        # reader (restart) whose local watermark regressed (e.g. the
        # newest files were deleted) must not resurrect files that had
        # already aged out of a prior offset's recent set.
        return {
            "v": 3,
            "wm": wm,
            "recent": {f: m for f, m in sorted(mtimes.items()) if m >= horizon},
        }

    @staticmethod
    def _offset_files(offset: dict) -> set[str]:
        if "files" in offset:  # legacy v1 full-list offset
            return set(offset["files"])
        recent = offset.get("recent", {})
        if isinstance(recent, dict):  # v3: {name: mtime}
            return set(recent)
        return set(recent)  # v2: [name, ...]

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # Deterministic under replay: set difference over the two
        # frozen offsets, no filesystem access. Additionally, any file
        # older than the START offset's age horizon is treated as
        # already seen (the documented max_file_age contract) — this is
        # what makes a post-restart WATERMARK REGRESSION safe: a fresh
        # reader may compute a lower end.wm (newest files deleted), and
        # without the horizon check a long-processed file that had aged
        # out of start["recent"] would re-enter end["recent"] and be
        # re-emitted. v2 offsets carry no mtimes, so they keep the
        # plain set-difference behavior.
        start_wm = float(start.get("wm", 0.0))
        self._wm_floor = max(self._wm_floor, start_wm)
        horizon = start_wm - self.max_file_age
        seen = self._offset_files(start)
        end_recent = end.get("recent", {})
        if isinstance(end_recent, dict):
            new = sorted(
                f
                for f, m in end_recent.items()
                if f not in seen and float(m) >= horizon
            )
        else:
            new = sorted(set(end_recent) - seen)
        parts: list[_RangePartition] = []
        for i, file in enumerate(new):
            parts.extend(_split_file(file, i, self.split_size))
        return parts

    def read(self, partition: _RangePartition) -> Iterator:
        return _read_range_batches(partition)

    def commit(self, end: dict) -> None:
        # Offsets are already compact (watermark + recent set); nothing
        # to clean up.
        pass


class GedcomDataSource(DataSource):
    """`spark.read.format("gedcom")` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "gedcom"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return GedcomBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return GedcomStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        return GedcomWriter(self.options)


def register_gedcom_source(spark) -> None:
    spark.dataSource.register(GedcomDataSource)


# ---------------------------------------------------------------------------
# WRITE path: serialize the lines IR back to GEDCOM text (the inverse
# transform), with record-atomic distributed output.
# ---------------------------------------------------------------------------


class _GedcomPartFile(WriterCommitMessage):
    def __init__(self, path: str, n_lines: int, n_records: int):
        self.path = path
        self.n_lines = n_lines
        self.n_records = n_records


class GedcomWriter(DataSourceArrowWriter):
    """One ``part-*.ged`` per task into a job-unique staging dir;
    driver-side commit renames parts into place and writes a
    ``_manifest.json`` marker last. Each part is a VALID standalone GEDCOM file
    provided records are partition-atomic and lines arrive in
    (record_seq, line_no) order — the writer fail-fasts on any
    order violation rather than silently emitting interleaved
    records (use ``write_gedcom`` for the correct pre-shuffle).

    Arrow writer (r6): the row-at-a-time ``DataSourceWriter`` spent
    ~87% of the measured write wall materializing 56M Python Rows and
    string-joining them one by one (`PROFILE_r6_datasource.json`
    write_breakdown: 45 s write vs 6 s synth+layout); this class
    receives ``pyarrow.RecordBatch``es and serializes each with
    vectorized numpy/pandas string ops — the order check, the distinct
    record count, and the text assembly all run per BATCH."""

    def __init__(self, options: dict):
        self.dest = options["path"]
        self.staging = os.path.join(
            self.dest, f"_staging-{uuid.uuid4().hex[:12]}"
        )

    def write(self, iterator) -> _GedcomPartFile:
        import numpy as np
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.staging, exist_ok=True)
        path = os.path.join(self.staging, f"part-{pid:05d}.ged")
        n = 0
        n_records = 0
        last_seq = None  # last (record_seq, line_no) of the prior batch
        last_ln = None
        with open(path, "w", encoding="utf-8") as fh:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                pdf = batch.to_pandas()
                seq = pdf["record_seq"].to_numpy()
                ln = pdf["line_no"].to_numpy()
                # Nondecreasing (record_seq, line_no) — vectorized
                # twin of the old per-row `key < last` fail-fast,
                # including the batch seam.
                bad = (seq[1:] < seq[:-1]) | (
                    (seq[1:] == seq[:-1]) & (ln[1:] < ln[:-1])
                )
                seam = last_seq is not None and (
                    (seq[0], ln[0]) < (last_seq, last_ln)
                )
                if bad.any() or seam:
                    i = 0 if seam else int(np.nonzero(bad)[0][0]) + 1
                    prev = (
                        (last_seq, last_ln)
                        if i == 0
                        else (int(seq[i - 1]), int(ln[i - 1]))
                    )
                    raise ValueError(
                        "GEDCOM writer requires (record_seq, line_no) "
                        f"order within each partition; saw "
                        f"{(int(seq[i]), int(ln[i]))} after {prev}"
                    )
                # Ordered stream => distinct record count is the count
                # of boundaries (plus the cross-batch seam).
                n_records += int((seq[1:] != seq[:-1]).sum()) + int(
                    last_seq is None or seq[0] != last_seq
                )
                last_seq, last_ln = int(seq[-1]), int(ln[-1])
                # Vectorized `LEVEL [@XREF@] TAG [VALUE]` assembly;
                # empty/None xref and value drop their piece exactly
                # as the old truthiness checks did.
                lvl = pdf["level"].astype(str)
                xr = pdf["xref"].fillna("")
                xr = np.where(xr == "", "", " @" + xr + "@")
                val = pdf["value"].fillna("")
                val = np.where(val == "", "", " " + val)
                out = lvl + xr + " " + pdf["tag"] + val
                fh.write("\n".join(out.tolist()) + "\n")
                n += len(pdf)
        return _GedcomPartFile(path, n, n_records)

    def commit(self, messages) -> None:
        import json as _json

        os.makedirs(self.dest, exist_ok=True)
        files = []
        for m in messages:
            if m is None or m.n_lines == 0:
                if m is not None:
                    try:
                        os.remove(m.path)
                    except OSError:
                        pass
                continue
            dst = os.path.join(self.dest, os.path.basename(m.path))
            os.replace(m.path, dst)
            files.append(
                {
                    "file": os.path.basename(m.path),
                    "lines": m.n_lines,
                    "records": m.n_records,
                }
            )
        tmp = os.path.join(self.dest, "_manifest.json.tmp")
        with open(tmp, "w") as fh:
            _json.dump({"files": files}, fh, indent=1)
        os.replace(tmp, os.path.join(self.dest, "_manifest.json"))
        shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


def write_gedcom(df, path: str) -> None:
    """Write a lines-IR DataFrame back out as GEDCOM text with the
    layout the writer requires: hash-partitioned by (file, record_seq)
    so every record's lines land in ONE task (records never split
    across part files), sorted within partitions by (record_seq,
    line_no) so each record's tree structure serializes contiguously.
    Cross-record order across files is free — GEDCOM records are
    independent, which is exactly what makes the write parallel."""
    (
        df.repartition("file", "record_seq")
        .sortWithinPartitions("file", "record_seq", "line_no")
        .write.format("gedcom")
        .mode("append")
        .save(path)
    )
