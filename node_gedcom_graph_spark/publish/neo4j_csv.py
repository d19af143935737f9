"""Neo4j bulk-import CSV export with atomic staging-dir publish.

Re-expresses the reference's sink + publish machinery:
- per-(family, tag) CSV fan-out (csv_writer.js:85-113 / SURVEY op 18)
  -> one CSV file per nodes-<TAG> / relationships-<TAG> group, its
  Neo4j bulk header ('Gedcom Id:ID', ':LABEL', ':START_ID', ':END_ID',
  ':TYPE' — csv_writer.js:126,140-144,183) on the first line. Headers
  are the union of each group's keys, fixing the reference's
  first-record-wins header quirk (documented divergence, SURVEY §7.3).
- RFC 4180 quoting, as the reference's fast-csv writes and neo4j-admin
  reads by default: a field is quoted only when it holds '"', ',', CR
  or LF, embedded quotes are doubled, NULL is an empty field. Header
  fields follow the same rule (a promoted EVEN TYPE is part of a key).
- neo4j-import argv construction (index.js:80-84, neo4j.js:79).
- atomic publish: stage -> swap live to backup -> staging to live,
  rollback on failure (neo4j.js:20-51,84-95 / ops 21-23).
- optional full lifecycle (`run_import_publish` / CLI --run-import):
  spawn `neo4j-admin database import` + DB stop/start, with the
  swap/restore driven by real exit codes — the reference's
  import->stop->swap->start state machine (neo4j.js:84-109 / op 20).

Cost: as the reference writes each node's row from the record it has
just flattened (csv_writer.js:182-185), each node line comes from its
record's one ``GedcomGraph.nodes`` row, with no regroup. Every group
comes from ONE partitioned write, after one small job that collects
each group's column list; the observed row counts ride that write.
Scale: a group is one file (neo4j-admin reads a group's files as one
logical file with the header on the first line only), so each group is
written by one task; groups are written in parallel.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from node_gedcom_graph_spark.gedcom.extract import GedcomGraph, sql_string

ID_COLUMN = "Gedcom Id:ID"
PART_FILE = "part-00000.csv"


def csv_field(s: str | None) -> str:
    """One RFC 4180 field; ``_csv_field_expr`` is the column form."""
    if s is None:
        return ""
    if any(c in s for c in '",\r\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def _csv_field_expr(c: Column) -> Column:
    return (
        F.when(c.isNull(), F.lit(""))
        .when(
            c.rlike('[",\\r\\n]'),
            F.concat(F.lit('"'), F.regexp_replace(c, '"', '""'), F.lit('"')),
        )
        .otherwise(c)
    )


def _counted_rows(
    graph: GedcomGraph, obs: Observation, node_cols=(), edge_cols=()
) -> DataFrame:
    """One row per node (``node_cols`` of ``graph.nodes``) and per edge
    (``edge_cols`` of ``graph.edges``), observed by ``obs``: a node
    counts its record id and its ``size(props)`` property rows."""
    return (
        graph.nodes.select(*node_cols, F.size("props").alias("_props"), "record_id")
        .unionByName(
            graph.edges.select(*edge_cols, F.lit(1).alias("_edge")),
            allowMissingColumns=True,
        )
        .observe(
            obs,
            F.coalesce(F.sum("_props"), F.lit(0)).alias("n_property_rows"),
            F.approx_count_distinct("record_id").alias("n_records_approx"),
            F.count("_edge").alias("n_edges"),
        )
    )


def export_neo4j_csvs(graph: GedcomGraph, out_dir: str) -> dict[str, str]:
    """Write ``out_dir``/<group>/part-00000.csv for every nodes-<TAG> and
    relationships-<TAG> group; returns {group_name: csv_file_path}."""
    return export_with_counts(graph, out_dir)[0]


def export_with_counts(
    graph: GedcomGraph, out_dir: str
) -> tuple[dict[str, str], dict[str, int]]:
    """``export_neo4j_csvs`` plus the ``observed_counts`` numbers, taken
    by ``df.observe`` on the write itself. A group directory left from
    an earlier export into ``out_dir`` is replaced.

    It reads the graph twice (column lists, then the write) and caches
    nothing: extract with ``persist=True``, or pay the extraction twice."""
    spark = graph.nodes.sparkSession
    os.makedirs(out_dir, exist_ok=True)

    # Every group's columns in one job; an edge group's key is NULL.
    node_keys: dict[str, list[str]] = {}
    edge_tags: set[str] = set()
    for tag, key in (
        graph.nodes_long.select(F.col("root_tag").alias("tag"), "flat_key")
        .unionByName(
            graph.edges.select(
                F.col("edge_tag").alias("tag"),
                F.lit(None).cast("string").alias("flat_key"),
            )
        )
        .distinct()
        .collect()
    ):
        if key is None:
            edge_tags.add(tag)
        else:
            node_keys.setdefault(tag, []).append(key)
    node_cols = {
        t: sorted(ks, key=lambda c: (c != ID_COLUMN, c))
        for t, ks in sorted(node_keys.items())
    }
    headers = {
        f"nodes-{t}": ",".join(csv_field(c) for c in cs + [":LABEL"])
        for t, cs in node_cols.items()
    }
    headers.update(
        (f"relationships-{t}", ":START_ID,:END_ID,:TYPE") for t in sorted(edge_tags)
    )
    if not headers:
        return {}, {"n_property_rows": 0, "n_records_approx": 0, "n_edges": 0}
    gid = {g: i for i, g in enumerate(headers)}

    def tag_map(entries: dict[str, str]) -> Column:
        return F.expr(
            "map(" + ", ".join(f"{sql_string(t)}, {v}" for t, v in entries.items())
            + ")"
        )

    # One line per node: its properties in the group's column order
    # (missing ones empty), then :LABEL. Its {key: CSV field} map is bound
    # once as an aggregate's finish argument: a projected column would be
    # inlined into the lambda and rebuilt for every column.
    cols = tag_map({
        t: "array(" + ", ".join(sql_string(c) for c in cs) + ")"
        for t, cs in node_cols.items()
    })
    node_gid = tag_map({t: str(gid[f"nodes-{t}"]) for t in node_cols})
    fields = F.map_from_entries(
        F.transform("props", lambda p: F.struct(p.flat_key, _csv_field_expr(p.value)))
    )
    node_line = F.aggregate(
        F.array(), fields, lambda acc, _: acc,
        lambda m: F.concat_ws(
            ",",
            F.transform(
                F.element_at(cols, F.col("root_tag")),
                lambda k: F.coalesce(F.try_element_at(m, k), F.lit("")),
            ),
            _csv_field_expr(F.col("label")),
        ),
    )
    edge_gid = tag_map({t: str(gid[f"relationships-{t}"]) for t in edge_tags})
    edge_line = F.concat_ws(
        ",", *[_csv_field_expr(F.col(c)) for c in ("src", "dst", "rel_type")]
    )
    # A SQL VALUES relation, not createDataFrame: a local Python list
    # would make the write start a Python worker to unpickle it.
    header_lines = spark.sql(
        "SELECT *, true AS _header FROM VALUES "
        + ", ".join(f"({gid[g]}, {sql_string(h)})" for g, h in headers.items())
        + " AS t(gid, line)"
    )

    obs = Observation("neo4j_csv_counts")
    lines = (
        _counted_rows(
            graph,
            obs,
            (F.element_at(node_gid, F.col("root_tag")).alias("gid"),
             node_line.alias("line")),
            (F.element_at(edge_gid, F.col("edge_tag")).alias("gid"),
             edge_line.alias("line")),
        )
        .unionByName(header_lines, allowMissingColumns=True)
        # One task per group, header first: one file per group.
        .repartition("gid")
        .sortWithinPartitions("gid", F.col("_header").isNull())
        .select("gid", "line")
    )

    tmp = tempfile.mkdtemp(prefix="_write-", dir=out_dir)
    try:
        # maxRecordsPerFile 0: a conf-wide cap must not split a group.
        lines.write.mode("overwrite").option("maxRecordsPerFile", 0) \
            .partitionBy("gid").text(tmp)
        outputs = {}
        for g, i in gid.items():
            [part] = glob.glob(os.path.join(tmp, f"gid={i}", "part-*"))
            group_dir = os.path.join(out_dir, g)
            if os.path.exists(group_dir):
                shutil.rmtree(group_dir)
            os.makedirs(group_dir)
            outputs[g] = os.path.join(group_dir, PART_FILE)
            os.rename(part, outputs[g])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return outputs, obs.get


def build_import_args(outputs: dict[str, str], into: str) -> list[str]:
    """neo4j-import argv (index.js:80-84 + neo4j.js:79): --into first,
    then one --nodes/--relationships per generated group."""
    args = ["--into", into]
    for group in sorted(outputs):
        flag = "--nodes" if group.startswith("nodes-") else "--relationships"
        args.extend([flag, outputs[group]])
    return args


def atomic_publish(staging_dir: str, live_dir: str) -> str:
    """Swap ``staging_dir`` into place at ``live_dir`` atomically:
    live -> live.bak, staging -> live; on a failed swap the backup is
    restored (neo4j.js:31-51). Returns the backup path (caller may
    delete it after verifying the new live dir)."""
    backup = live_dir + ".bak-" + uuid.uuid4().hex[:8]
    had_live = os.path.exists(live_dir)
    if had_live:
        os.rename(live_dir, backup)
    try:
        os.rename(staging_dir, live_dir)
    except Exception:
        if had_live:
            # restore: remove any partial live dir, put the backup back
            if os.path.exists(live_dir):
                shutil.rmtree(live_dir)
            os.rename(backup, live_dir)
        raise
    return backup if had_live else ""


def run_import_publish(
    outputs: dict[str, str],
    db_path: str,
    bindir: str = "/usr/bin",
    runner=None,
) -> str:
    """Execute the reference's full import lifecycle (ops 20-23,
    neo4j.js:84-109): bulk-import into ``db_path + '.tmp'``; on import
    success stop the DB, swap (live -> .bak, .tmp -> live), start the
    DB; a failed start restores the backup and aborts; a failed import
    aborts with the live DB untouched. Returns the backup path ('' if
    there was no live dir — first publish, which the reference assumes
    never happens; handled gracefully here).

    ``runner``: callable(argv: list[str]) -> int exit code. Defaults to
    a real subprocess call; injectable so tests drive every exit-code
    branch without Neo4j installed. The stop exit code is ignored, as
    in the reference (its stopProcess handler never checks ``code``).
    """
    import subprocess

    if runner is None:
        runner = lambda argv: subprocess.call(argv)  # noqa: E731

    temp = db_path + ".tmp"
    backup = db_path + ".bak"
    neo4j_bin = os.path.join(bindir, "neo4j")
    import_bin = os.path.join(bindir, "neo4j-admin")

    # _setupTempDir (neo4j.js:20-29): fresh temp target for the import.
    if os.path.exists(temp):
        shutil.rmtree(temp)
    os.makedirs(temp)

    import_argv = (
        [import_bin, "database", "import", "full"]
        + build_import_args(outputs, into=temp)
    )
    code = runner(import_argv)
    if code != 0:
        # neo4j.js:103-106 — abort; live dir untouched.
        raise RuntimeError(f"Import failed. Exited {code}. Abort.")

    runner([neo4j_bin, "stop"])

    # _swapDirs (neo4j.js:31-44): drop the previous backup, then
    # real -> backup, temp -> real.
    if os.path.exists(backup):
        shutil.rmtree(backup)
    had_live = os.path.exists(db_path)
    if had_live:
        os.rename(db_path, backup)
    os.rename(temp, db_path)

    code = runner([neo4j_bin, "start"])
    if code != 0:
        # _restoreDirs (neo4j.js:46-51): drop the new live dir, put the
        # backup back, then abort.
        if had_live:
            shutil.rmtree(db_path)
            os.rename(backup, db_path)
        raise RuntimeError("Starting neo4j failed.  Abort.")
    return backup if had_live else ""


def observed_counts(graph: GedcomGraph) -> dict[str, int]:
    """Row-level pipeline metrics via ``df.observe`` (SURVEY op 26: the
    reference's read/write/skip event counters, re-expressed as
    accumulator-backed observations). Standalone, this runs one job, a
    noop write over the node and edge rows; ``export_with_counts`` gets
    the same numbers from the CSV write with no extra job.
    """
    obs = Observation("graph_counts")
    _counted_rows(graph, obs).write.format("noop").mode("overwrite").save()
    return obs.get
