"""CLI entry — the reference's `node index.js -s file.ged -d <db>`
surface (/root/reference/index.js:13-45) on Spark:

    python -m node_gedcom_graph_spark --src tree.ged --dest /var/lib/neo4j/data
    python -m node_gedcom_graph_spark --src inbox/ --dest out/ --dry-run

Pipeline (mirrors index.js wiring, re-expressed as jobs, not events):
read GEDCOM -> extract property graph -> export Neo4j bulk CSVs to a
staging dir -> print the `neo4j-admin database import` argv (the
subprocess itself is the operator's to run, as in the reference it
shells out) -> atomically publish staging to the destination with
backup, mirroring neo4j.js:20-51. Audit sets (unused tags, missing
temple codes, skipped records — the reference's `missing`/`skip`
events, index.js:85-90) print to stderr.

Differences from the reference, on purpose: stdin arrives via an
explicit `--src -` spool-to-temp-file shim rather than a true streaming
source (Spark sources are path-based; SURVEY §2 op 2), schema-first CSV
headers (fixes the first-record-wins quirk, SURVEY §7.3), and
`--master` to aim the same command at a cluster.
"""

from __future__ import annotations

import argparse
import shutil
import sys
import tempfile


def _audit_rows(graph) -> dict[str, list[tuple]]:
    """The three audit sets, collected in one job; each value is the
    list of the set's rows as tuples, sorted (nulls last), so that what
    the CLI prints does not depend on partitioning."""
    from pyspark.sql import functions as F

    seq, text = F.lit(None).cast("long"), F.lit(None).cast("string")
    rows = (
        graph.unused_tags.select(
            F.lit(0).alias("k"), seq.alias("seq"), F.col("tag").alias("a"),
            text.alias("b"),
        )
        .union(graph.missing_temple_codes.select(F.lit(1), seq, "code", text))
        .union(graph.skipped_records.select(F.lit(2), "record_seq", "tag", "xref"))
        .collect()
    )
    audits = {
        "unused tags": [(r.a,) for r in rows if r.k == 0],
        "missing temple codes": [(r.a,) for r in rows if r.k == 1],
        "skipped records": [(r.seq, r.a, r.b) for r in rows if r.k == 2],
    }
    return {
        label: sorted(vals, key=lambda t: [(v is None, v) for v in t])
        for label, vals in audits.items()
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m node_gedcom_graph_spark",
        description="GEDCOM -> property-graph CSVs with atomic publish",
    )
    ap.add_argument(
        "--src", "-s", required=True,
        help="GEDCOM file or directory; '-' reads STDIN (index.js:122-125)",
    )
    ap.add_argument("--dest", "-d", required=True, help="publish directory (live)")
    ap.add_argument("--tmpdir", "-t", default=None, help="staging dir (default: mkdtemp)")
    ap.add_argument("--bindir", "-b", default="/usr/bin", help="neo4j-admin location (argv print only)")
    ap.add_argument("--master", default="local[*]", help="Spark master")
    ap.add_argument("--dry-run", action="store_true", help="export + print argv, skip the publish swap")
    ap.add_argument(
        "--run-import",
        action="store_true",
        help="spawn `neo4j-admin database import` + DB stop/start with "
        "exit-code-driven swap/rollback (reference neo4j.js lifecycle); "
        "--dest is then the DB directory, not a CSV publish dir",
    )
    args = ap.parse_args(argv)

    from node_gedcom_graph_spark.gedcom.extract import extract_graph
    from node_gedcom_graph_spark.gedcom.parser import read_gedcom_lines
    from node_gedcom_graph_spark.publish.neo4j_csv import (
        atomic_publish,
        build_import_args,
        export_with_counts,
        run_import_publish,
    )
    from node_gedcom_graph_spark.session import get_spark

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="gedcom-import", master=args.master)
    stdin_tmp = graph = None
    try:
        src = args.src
        if src == "-":
            # STDIN parity with the reference (index.js:122-125): Spark
            # sources are path-based, so spool stdin to a driver-local
            # temp file first. Driver-side by necessity — fine, because
            # stdin is single-machine by definition; the spooled file
            # then fans out through the normal splittable read.
            import os as _os

            fd, stdin_tmp = tempfile.mkstemp(prefix="ged-stdin-", suffix=".ged")
            with _os.fdopen(fd, "w", encoding="utf-8") as fh:
                fh.write(sys.stdin.read())
            src = stdin_tmp
            print(f"reading STDIN -> {stdin_tmp}", file=sys.stderr)
        lines = read_gedcom_lines(spark, src)
        graph = extract_graph(lines, persist=True)

        # Stage on the SAME filesystem as dest: atomic_publish swaps
        # with os.rename, which cannot cross devices — a /tmp default
        # would export everything and then die with EXDEV when dest
        # lives on another mount.
        import os

        dest_parent = os.path.dirname(os.path.abspath(args.dest)) or "."
        os.makedirs(dest_parent, exist_ok=True)
        staging = args.tmpdir or tempfile.mkdtemp(
            prefix="ged2neo-csvs-", dir=dest_parent
        )
        try:
            outputs, counts = export_with_counts(graph, staging)

            for name, rows in sorted(counts.items()):
                print(f"{name}: {rows}", file=sys.stderr)
            for label, vals in _audit_rows(graph).items():
                if vals:
                    print(f"{label}: {vals}", file=sys.stderr)

            if args.run_import and not args.dry_run:
                backup = run_import_publish(outputs, args.dest, bindir=args.bindir)
                print(
                    f"imported + published -> {args.dest}"
                    + (f" (backup: {backup})" if backup else ""),
                    file=sys.stderr,
                )
                return 0
            if args.dry_run:
                final_outputs = outputs
            else:
                backup = atomic_publish(staging, args.dest)
                print(f"published {staging} -> {args.dest}"
                      + (f" (backup: {backup})" if backup else ""), file=sys.stderr)
                # The CSVs now live under dest — the argv must point there.
                final_outputs = {
                    g: os.path.join(args.dest, os.path.relpath(p, staging))
                    for g, p in outputs.items()
                }
        except BaseException:
            # A staging dir this run created holds nothing worth keeping
            # once the export or the publish failed.
            if not args.tmpdir:
                shutil.rmtree(staging, ignore_errors=True)
            raise
        print(" ".join([f"{args.bindir}/neo4j-admin", "database", "import", "full"]
                       + build_import_args(final_outputs,
                                           into=args.dest if not args.dry_run else staging)))
        return 0
    finally:
        if graph is not None:
            graph.unpersist()
        if stdin_tmp is not None:
            import os as _os

            if _os.path.exists(stdin_tmp):
                _os.remove(stdin_tmp)
        if owns_session:  # embedded callers (tests) keep their session
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
