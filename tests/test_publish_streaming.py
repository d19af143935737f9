"""Publish-layer tests: Neo4j CSV export, atomic swap, the neo4j-admin
lifecycle and the CLI."""

import os

import pytest

from node_gedcom_graph_spark.gedcom.extract import extract_graph
from node_gedcom_graph_spark.gedcom.fixtures import DEMO_GEDCOM
from node_gedcom_graph_spark.gedcom.parser import assign_records, lines_from_string
from node_gedcom_graph_spark.publish import (
    atomic_publish,
    build_import_args,
    export_neo4j_csvs,
)


@pytest.fixture(scope="module")
def demo_graph(spark):
    lines = assign_records(lines_from_string(spark, DEMO_GEDCOM, n_partitions=2))
    return extract_graph(lines)


# ------------------------------------------------------------- publish


def test_export_neo4j_csvs(spark, demo_graph, tmp_path):
    out = export_neo4j_csvs(demo_graph, str(tmp_path / "stage"))
    assert set(out) >= {"nodes-INDI", "nodes-FAM", "relationships-HUSB"}
    indi = spark.read.option("header", True).csv(out["nodes-INDI"])
    assert "Gedcom Id:ID" in indi.columns and ":LABEL" in indi.columns
    assert indi.count() == 4
    ids = {r["Gedcom Id:ID"] for r in indi.collect()}
    assert {"I1", "I2", "I3"} <= ids
    husb = spark.read.option("header", True).csv(out["relationships-HUSB"])
    [row] = husb.collect()
    assert (row[":START_ID"], row[":END_ID"], row[":TYPE"]) == ("F1", "I1", "Husband")


def test_build_import_args(tmp_path):
    args = build_import_args(
        {"nodes-INDI": "/x/nodes-INDI/part-00000.csv",
         "relationships-HUSB": "/x/relationships-HUSB/part-00000.csv"},
        into="/db/tmp",
    )
    assert args[:2] == ["--into", "/db/tmp"]
    assert ("--nodes", "/x/nodes-INDI/part-00000.csv") == tuple(args[2:4])
    assert ("--relationships", "/x/relationships-HUSB/part-00000.csv") == tuple(args[4:6])


def test_atomic_publish_swap_and_backup(tmp_path):
    live = tmp_path / "live"
    live.mkdir()
    (live / "old.txt").write_text("old")
    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "new.txt").write_text("new")
    backup = atomic_publish(str(stage), str(live))
    assert (live / "new.txt").read_text() == "new"
    assert os.path.exists(os.path.join(backup, "old.txt"))


def test_atomic_publish_rollback_on_failure(tmp_path):
    live = tmp_path / "live"
    live.mkdir()
    (live / "old.txt").write_text("old")
    with pytest.raises(OSError):
        atomic_publish(str(tmp_path / "does-not-exist"), str(live))
    # live dir restored from backup
    assert (live / "old.txt").read_text() == "old"


def test_atomic_publish_first_publish_no_backup(tmp_path):
    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "new.txt").write_text("new")
    backup = atomic_publish(str(stage), str(tmp_path / "live"))
    assert backup == ""
    assert (tmp_path / "live" / "new.txt").read_text() == "new"


def _scripted_runner(exit_codes: dict[str, int], calls: list):
    """Fake process runner: records argv, returns the scripted exit
    code for the subcommand ('import'/'stop'/'start')."""

    def run(argv: list[str]) -> int:
        if "import" in argv:
            key = "import"
        else:
            key = argv[-1]  # neo4j stop|start
        calls.append((key, list(argv)))
        return exit_codes.get(key, 0)

    return run


def _mk_dirs(tmp_path):
    """A live DB dir with sentinel content + exported CSV outputs."""
    live = tmp_path / "db"
    live.mkdir()
    (live / "old.txt").write_text("old")
    outputs = {"nodes-INDI": str(tmp_path / "nodes-INDI")}
    return str(live), outputs


def test_run_import_success_swaps_and_starts(tmp_path):
    """Exit 0 everywhere: import into .tmp, stop, swap (live -> .bak,
    .tmp -> live), start — the reference's happy path (neo4j.js:84-102)."""
    from node_gedcom_graph_spark.publish.neo4j_csv import run_import_publish

    live, outputs = _mk_dirs(tmp_path)
    calls: list = []
    backup = run_import_publish(
        outputs, live, bindir="/opt/neo4j/bin",
        runner=_scripted_runner({}, calls),
    )
    assert [k for k, _ in calls] == ["import", "stop", "start"]
    imp = calls[0][1]
    assert imp[0] == "/opt/neo4j/bin/neo4j-admin"
    assert imp[1:4] == ["database", "import", "full"]
    assert imp[imp.index("--into") + 1] == live + ".tmp"
    assert "--nodes" in imp and outputs["nodes-INDI"] in imp
    assert backup == live + ".bak"
    assert os.path.isdir(live) and not os.path.exists(live + ".tmp")
    assert (tmp_path / "db.bak" / "old.txt").read_text() == "old"
    assert not os.path.exists(os.path.join(live, "old.txt"))  # new live


def test_run_import_failed_import_aborts_untouched(tmp_path):
    """Nonzero import exit: abort before any stop/swap — the live DB is
    never touched (neo4j.js:103-106 / op 23)."""
    from node_gedcom_graph_spark.publish.neo4j_csv import run_import_publish

    live, outputs = _mk_dirs(tmp_path)
    calls: list = []
    with pytest.raises(RuntimeError, match="Import failed. Exited 2"):
        run_import_publish(
            outputs, live, runner=_scripted_runner({"import": 2}, calls)
        )
    assert [k for k, _ in calls] == ["import"]  # no stop, no start
    assert (tmp_path / "db" / "old.txt").read_text() == "old"
    assert not os.path.exists(live + ".bak")


def test_run_import_failed_start_restores_backup(tmp_path):
    """Nonzero start exit after the swap: the backup is restored as the
    live dir before aborting (neo4j.js:46-51,92-96 / op 22)."""
    from node_gedcom_graph_spark.publish.neo4j_csv import run_import_publish

    live, outputs = _mk_dirs(tmp_path)
    calls: list = []
    with pytest.raises(RuntimeError, match="Starting neo4j failed"):
        run_import_publish(
            outputs, live, runner=_scripted_runner({"start": 1}, calls)
        )
    assert [k for k, _ in calls] == ["import", "stop", "start"]
    assert (tmp_path / "db" / "old.txt").read_text() == "old"  # restored
    assert not os.path.exists(live + ".bak")  # backup consumed by restore


def test_run_import_stop_exit_code_ignored(tmp_path):
    """The reference never checks the stop exit code (neo4j.js:88-91):
    a failing stop (e.g. DB already down) must not block the publish."""
    from node_gedcom_graph_spark.publish.neo4j_csv import run_import_publish

    live, outputs = _mk_dirs(tmp_path)
    calls: list = []
    run_import_publish(outputs, live, runner=_scripted_runner({"stop": 137}, calls))
    assert [k for k, _ in calls] == ["import", "stop", "start"]
    assert not os.path.exists(os.path.join(live, "old.txt"))  # swap happened


def test_run_import_first_publish_no_live_dir(tmp_path):
    """No existing DB dir: import + start succeed, no backup produced
    (divergence from the reference, which assumes a live dir exists)."""
    from node_gedcom_graph_spark.publish.neo4j_csv import run_import_publish

    live = str(tmp_path / "db")
    backup = run_import_publish(
        {"nodes-INDI": str(tmp_path / "n")}, live,
        runner=_scripted_runner({}, []),
    )
    assert backup == ""
    assert os.path.isdir(live) and not os.path.exists(live + ".bak")


def test_cli_run_import_flag(spark, tmp_path, monkeypatch):
    """--run-import drives the full lifecycle through the CLI: the
    subprocess layer is faked at the subprocess.call boundary."""
    import subprocess

    from node_gedcom_graph_spark.__main__ import main

    seen: list = []
    files: list = []

    def call(argv):
        seen.append(list(argv))
        # neo4j-admin reads files: every group flag names an existing CSV.
        files.extend(b for a, b in zip(argv, argv[1:])
                     if a in ("--nodes", "--relationships"))
        assert all(os.path.isfile(f) for f in files)
        return 0

    monkeypatch.setattr(subprocess, "call", call)
    src = tmp_path / "t.ged"
    src.write_text(DEMO_GEDCOM)
    dest = str(tmp_path / "db")
    rc = main(["--src", str(src), "--dest", dest, "--master", "local[4]",
               "--tmpdir", str(tmp_path / "stage"), "--run-import",
               "--bindir", "/opt/neo4j/bin"])
    assert rc == 0
    assert [a[0].rsplit("/", 1)[-1] for a in seen] == [
        "neo4j-admin", "neo4j", "neo4j",
    ]
    assert seen[1][-1] == "stop" and seen[2][-1] == "start"
    assert files and all(f.endswith("/part-00000.csv") for f in files)
    assert os.path.isdir(dest)  # the imported .tmp dir became live


def test_cli_end_to_end(spark, tmp_path, capsys):
    """The `python -m node_gedcom_graph_spark` surface (the reference's
    index.js CLI): export, audits, argv, atomic publish with backup on
    the second run."""
    from node_gedcom_graph_spark.__main__ import main

    src = tmp_path / "t.ged"
    src.write_text(DEMO_GEDCOM)
    dest = str(tmp_path / "live")

    # Reuse the session fixture's master so the CLI's get_spark call
    # returns the active session instead of building a new JVM.
    rc = main(["--src", str(src), "--dest", dest, "--master", "local[4]",
               "--tmpdir", str(tmp_path / "stage1")])
    assert rc == 0
    assert os.path.isdir(f"{dest}/nodes-INDI")
    rc = main(["--src", str(src), "--dest", dest, "--master", "local[4]",
               "--tmpdir", str(tmp_path / "stage2")])
    assert rc == 0
    backups = [d for d in os.listdir(tmp_path) if d.startswith("live.bak-")]
    assert len(backups) == 1  # second publish preserved the first as backup
    # The printed argv names the published files, not the staging dir.
    argv = capsys.readouterr().out.strip().splitlines()[-1].split()
    named = [b for a, b in zip(argv, argv[1:]) if a in ("--nodes", "--relationships")]
    assert f"{dest}/nodes-INDI/part-00000.csv" in named
    assert all(os.path.isfile(f) and f.startswith(dest + "/") for f in named)


def test_cli_stdin_source(spark, tmp_path, monkeypatch):
    """`--src -` pipes STDIN through the normal pipeline (the
    reference's no-src stdin mode, index.js:122-125)."""
    import io

    from node_gedcom_graph_spark.__main__ import main

    monkeypatch.setattr("sys.stdin", io.StringIO(DEMO_GEDCOM))
    dest = str(tmp_path / "live")
    rc = main(["--src", "-", "--dest", dest, "--master", "local[4]",
               "--tmpdir", str(tmp_path / "stage")])
    assert rc == 0
    assert os.path.isdir(f"{dest}/nodes-INDI")
    # the stdin spool file is cleaned up
    import glob as _glob
    import tempfile as _tempfile

    assert not _glob.glob(os.path.join(_tempfile.gettempdir(), "ged-stdin-*"))


def test_observed_counts_match_direct_counts(spark):
    from node_gedcom_graph_spark.gedcom.extract import extract_graph
    from node_gedcom_graph_spark.gedcom.fixtures import DEMO_GEDCOM
    from node_gedcom_graph_spark.gedcom.parser import (
        assign_records,
        lines_from_string,
    )
    from node_gedcom_graph_spark.publish.neo4j_csv import observed_counts

    g = extract_graph(assign_records(lines_from_string(spark, DEMO_GEDCOM)))
    m = observed_counts(g)
    assert m["n_property_rows"] == g.nodes_long.count()
    assert m["n_edges"] == g.edges.count()
    assert m["n_records_approx"] >= 1
