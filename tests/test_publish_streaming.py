"""Publish-layer (Neo4j CSV export + atomic swap) and streaming tests."""

import os

import pytest
from pyspark.sql import functions as F

from node_gedcom_graph_spark.gedcom.extract import extract_graph
from node_gedcom_graph_spark.gedcom.fixtures import DEMO_GEDCOM
from node_gedcom_graph_spark.gedcom.parser import assign_records, lines_from_string
from node_gedcom_graph_spark.publish import (
    atomic_publish,
    build_import_args,
    export_neo4j_csvs,
)
from node_gedcom_graph_spark.streaming import (
    read_events_stream,
    stream_distinct_event_types,
    stream_gedcom_pipeline,
    stream_windowed_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


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


# ----------------------------------------------------------- streaming


def test_stream_windowed_counts_matches_batch(spark, tmp_path):
    events = read_events_stream(spark, SF_DIR)
    q = (
        stream_windowed_event_counts(events)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) AS total FROM win_counts").collect()[0].total
    assert got == 1000  # every sf0.001 event lands in exactly one window


def test_stream_distinct_event_types(spark):
    events = read_events_stream(spark, SF_DIR)
    q = (
        stream_distinct_event_types(events)
        .writeStream.format("memory")
        .queryName("distinct_types")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    types = {r.event_type for r in spark.sql("SELECT * FROM distinct_types").collect()}
    assert {"signup", "purchase", "error"} <= types


def test_stream_stream_join_matches_batch(spark):
    """The watermarked stream-stream join must produce exactly the rows
    of the equivalent batch time-range join (availableNow drains every
    file, and all events fall inside the watermark horizon relative to
    the max event time, so nothing is dropped as late)."""
    from node_gedcom_graph_spark.streaming import stream_stream_view_purchase_join

    events = read_events_stream(spark, SF_DIR)
    q = (
        stream_stream_view_purchase_join(events)
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain within 120s"
    got = {
        (r.purchase_id, r.view_id)
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }

    from node_gedcom_graph_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = ev.filter("event_type = 'view'").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = {
        (r.purchase_id, r.view_id)
        for r in p.join(
            v,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("view_ts") < F.col("purchase_ts"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_gedcom_pipeline_end_to_end(spark, tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "demo.ged").write_text(DEMO_GEDCOM, encoding="utf-8")
    out_dir = str(tmp_path / "out")
    q = stream_gedcom_pipeline(
        spark, str(in_dir), out_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    nodes = spark.read.parquet(f"{out_dir}/nodes")
    edges = spark.read.parquet(f"{out_dir}/edges")
    assert nodes.count() == 26 and edges.count() == 7
    # drop a second file; a new availableNow run picks up ONLY the new file
    (in_dir / "more.ged").write_text("0 @I9@ INDI\n1 SEX F\n", encoding="utf-8")
    q2 = stream_gedcom_pipeline(spark, str(in_dir), out_dir, str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    nodes2 = spark.read.parquet(f"{out_dir}/nodes")
    assert nodes2.count() == 26 + 2  # I9: Gedcom Id + Sex, demo NOT re-ingested


def test_stream_stateful_user_stats_matches_batch(spark):
    from node_gedcom_graph_spark.sources.tables import load_table
    from node_gedcom_graph_spark.streaming.pipeline import stream_user_stats_stateful

    events = read_events_stream(spark, SF_DIR)
    q = (
        stream_user_stats_stateful(events)
        .writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Last update per user = final state (single-batch drain emits once).
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM user_stats").collect()
    }
    batch = load_table(spark, SF_DIR, "events")
    want = {
        r.user_id: (r.n, round(r.total, 6))
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total"),
        )
        .collect()
    }
    assert got == want


def test_stream_dedup_exact_matches_batch(spark):
    from node_gedcom_graph_spark.sources.tables import load_table
    from node_gedcom_graph_spark.streaming.pipeline import (
        read_documents_stream,
        stream_dedup_exact,
    )

    docs = read_documents_stream(spark, SF_DIR)
    q = (
        stream_dedup_exact(docs)
        .writeStream.format("memory")
        .queryName("doc_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT fingerprint FROM doc_dedup").collect()
    batch = load_table(spark, SF_DIR, "documents")
    want_fps = {r.fp for r in batch.select(F.md5("text").alias("fp")).collect()}
    got_fps = [r.fingerprint for r in got]
    assert len(got_fps) == len(set(got_fps))  # one row per fingerprint
    assert set(got_fps) == want_fps  # every distinct doc survives


_SDM_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun near the garden gate"
)


def _write_doc_file(path, rows, mtime=None):
    """One parquet file per micro-batch (doc_id, text[, ts])."""
    import pandas as pd

    # micros, not pandas' default nanos: Spark reads TIMESTAMP(NANOS)
    # as INT64 (the events.parquet gotcha in sources/tables.py)
    pd.DataFrame(rows).to_parquet(
        path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def test_stream_dedup_minhash_matches_batch(spark, tmp_path):
    """Two-batch corpus: the streaming MinHash near-dup pairs (in-batch
    AND cross-batch) must equal the batch minhash_lsh_pairs result on
    the union corpus, with identical jaccard values."""
    from node_gedcom_graph_spark.operators.dedup import minhash_lsh_pairs
    from node_gedcom_graph_spark.streaming.pipeline import stream_dedup_minhash

    near = _SDM_BASE.replace("afternoon", "morning")
    far = "completely different content about spark query engines and shuffle plans today"
    b1 = [
        {"doc_id": 1, "text": _SDM_BASE},
        {"doc_id": 2, "text": _SDM_BASE},
        {"doc_id": 10, "text": far},
    ]
    b2 = [{"doc_id": 3, "text": near}]
    d = tmp_path / "docs"
    d.mkdir()
    _write_doc_file(str(d / "b1.parquet"), b1, mtime=1_700_000_000)
    _write_doc_file(str(d / "b2.parquet"), b2, mtime=1_700_000_100)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    q = (
        stream_dedup_minhash(stream)
        .writeStream.format("memory")
        .queryName("sdm_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in spark.sql("SELECT * FROM sdm_pairs").collect()
    }
    union = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in b1 + b2], "doc_id long, text string"
    )
    want = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in minhash_lsh_pairs(union).collect()
    }
    assert (1, 2, 1.0) in want  # sanity: corpus really has dup pairs
    assert len(want) >= 3  # (1,2) in-batch + (1,3),(2,3) cross-batch
    assert got == want


def test_stream_dedup_minhash_watermark_evicts_state(spark, tmp_path):
    """With a watermark + retention, bucket state older than the
    retention horizon is dropped: a late identical doc no longer pairs
    with the evicted one."""
    import datetime as dt

    from node_gedcom_graph_spark.streaming.pipeline import stream_dedup_minhash

    t0 = dt.datetime(2024, 1, 1)
    late = t0 + dt.timedelta(hours=10)
    fara = "alpha beta gamma delta epsilon zeta eta theta iota kappa unique one"
    farb = "one two three four five six seven eight nine ten eleven twelve"
    d = tmp_path / "docs"
    d.mkdir()
    _write_doc_file(
        str(d / "f1.parquet"),
        [{"doc_id": 1, "text": _SDM_BASE, "ts": t0}],
        mtime=1_700_000_000,
    )
    _write_doc_file(
        str(d / "f2.parquet"),
        [{"doc_id": 50, "text": fara, "ts": late}],
        mtime=1_700_000_100,
    )
    _write_doc_file(
        str(d / "f3.parquet"),
        [{"doc_id": 51, "text": farb, "ts": late}],
        mtime=1_700_000_200,
    )
    _write_doc_file(
        str(d / "f4.parquet"),
        [{"doc_id": 2, "text": _SDM_BASE, "ts": late}],
        mtime=1_700_000_300,
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    q = (
        stream_dedup_minhash(
            stream, watermark="1 hour", retention_ms=3_600_000
        )
        .writeStream.format("memory")
        .queryName("sdm_evict")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pairs = {
        (r.doc_a, r.doc_b)
        for r in spark.sql("SELECT * FROM sdm_evict").collect()
    }
    # doc 1's buckets timed out (watermark passed t0 + 1h retention)
    # before doc 2 arrived -> the identical pair must NOT be emitted.
    assert (1, 2) not in pairs
    assert pairs == set()


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


def test_stream_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics pinned: a duplicate key
    arriving within the delay is dropped; the same key recurring after
    its state was evicted (watermark far past) is emitted again."""
    import datetime as dt

    from node_gedcom_graph_spark.streaming.pipeline import (
        stream_dedup_events_within_watermark,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    d = tmp_path / "events"
    d.mkdir()
    _write_doc_file(
        str(d / "f1.parquet"),
        [
            {"user_id": 1, "event_type": "click", "ts": t0},
            {"user_id": 1, "event_type": "click",
             "ts": t0 + dt.timedelta(minutes=20)},  # dup within delay
        ],
        mtime=1_700_000_000,
    )
    _write_doc_file(
        str(d / "f2.parquet"),
        [{"user_id": 2, "event_type": "view",
          "ts": t0 + dt.timedelta(hours=5)}],  # advances watermark far
        mtime=1_700_000_100,
    )
    # state cleanup runs at batch COMPLETION with the lagged watermark,
    # so an extra batch is needed between the watermark advance and the
    # recurrence for the (1, click) state to actually be evicted.
    _write_doc_file(
        str(d / "f2b.parquet"),
        [{"user_id": 3, "event_type": "view",
          "ts": t0 + dt.timedelta(hours=5, minutes=1)}],
        mtime=1_700_000_150,
    )
    _write_doc_file(
        str(d / "f3.parquet"),
        [{"user_id": 1, "event_type": "click",
          "ts": t0 + dt.timedelta(hours=5, minutes=5)}],  # state evicted
        mtime=1_700_000_200,
    )
    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    q = (
        stream_dedup_events_within_watermark(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sdw")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r.user_id, r.event_type, r.ts)
        for r in spark.sql("SELECT * FROM sdw ORDER BY ts").collect()
    ]
    keys = [(u, e) for u, e, _ in got]
    # in-delay duplicate collapsed to one row...
    assert keys.count((1, "click")) == 2  # first arrival + post-eviction recurrence
    assert len(got) == 4
    # ...and the within-delay copy (t0+20min) is the one that vanished.
    assert t0 + dt.timedelta(minutes=20) not in [t for _, _, t in got]


def test_transform_with_state_gated_on_protobuf(spark):
    """transformWithStateInPandas (Spark 4's successor arbitrary-state
    API) needs google.protobuf, which this container's pyspark ships
    without. The operator surface exists either way; the gate query
    registers only where the dependency resolves — this test runs the
    real streaming comparison when it does, and otherwise pins the
    honest-degradation contract (no half-registered query)."""
    from node_gedcom_graph_spark.streaming.pipeline import (
        _tws_available,
        stream_user_stats_tws_gate,
    )
    from node_gedcom_graph_spark.operators import all_queries

    registered = "stream_user_stats_transform_with_state" in all_queries()
    assert registered == _tws_available()
    if not _tws_available():
        pytest.skip("google.protobuf not installed in this container")
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in stream_user_stats_tws_gate(spark, SF_DIR).collect()
    }
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from pyspark.sql import functions as F

    exp = {
        r.user_id: (r.n, r.t)
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("t"),
        )
        .collect()
    }
    assert got == exp


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Durability: a windowed streaming aggregation drained with
    availableNow, stopped, then RESUMED from its checkpoint after new
    source files land must (a) process only the new files — the
    checkpointed source offsets skip everything already committed —
    and (b) carry its aggregation STATE across the restart, so the
    final complete-mode table equals the batch aggregate over the
    union of both drops."""
    import shutil as _shutil

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    first, second = events.randomSplit([0.5, 0.5], seed=7)
    first = first.cache()
    second = second.cache()
    first.write.mode("overwrite").parquet(str(src / "drop1.parquet"))

    schema = events.schema

    def drain(sink):
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src))
        )
        ts = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000"))) \
            if dict(stream.dtypes).get("ts") in ("bigint", "long") else stream
        agg = ts.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.lastProgress
        return progress

    drain("ckpt_resume_gate1")
    after_first = {
        r.event_type: r.n for r in spark.table("ckpt_resume_gate1").collect()
    }
    exp_first = {
        r.event_type: r.n
        for r in first.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert after_first == exp_first

    second.write.mode("overwrite").parquet(str(src / "drop2.parquet"))
    progress = drain("ckpt_resume_gate2")
    after_second = {
        r.event_type: r.n for r in spark.table("ckpt_resume_gate2").collect()
    }
    exp_all = {
        r.event_type: r.n
        for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # state carried: totals equal the union, not just drop2
    assert after_second == exp_all
    # only the new file was read on resume (offsets skipped drop1)
    if progress is not None:
        rows_read = progress["sources"][0]["numInputRows"]
        assert rows_read == second.count()


def test_late_data_drops_nonzero(spark):
    """The late-arrival fixture must actually exercise the watermark
    drop path: the engine reports dropped rows, and every window in
    the emitted table closes at or before the final watermark."""
    from node_gedcom_graph_spark.streaming.pipeline import (
        LATE_WM_HOURS,
        _drain_late_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    table, dropped = _drain_late_stream(spark, sf_dir)
    assert dropped > 0, "no rows were dropped by the watermark"
    rows = table.collect()
    assert rows, "append drain emitted nothing"
    # every emitted window closed: end <= max(ts) - watermark delay
    from node_gedcom_graph_spark.sources.tables import load_table

    mx = (
        load_table(spark, sf_dir, "events")
        .agg(F.max(F.col("ts").cast("timestamp")))
        .collect()[0][0]
    )
    import datetime

    bound = mx - datetime.timedelta(hours=LATE_WM_HOURS)
    for r in rows:
        assert r.window_start + datetime.timedelta(hours=1) <= bound


def test_dedup_within_watermark_accounting(spark):
    """The ranked-arrival dedup fixture must exercise every branch of
    dropDuplicatesWithinWatermark at sf0.01: rows dropped as LATE
    (below the lagged watermark), rows dropped as DUPLICATES (key state
    alive), and re-emissions after state expiry — with the engine's
    per-batch metrics accounting exactly for fixture size vs emitted."""
    from node_gedcom_graph_spark.streaming.pipeline import (
        _write_dedupwm_fixture,
        stream_dedup_within_watermark,
    )

    sf_dir = "/root/testdata/sf0.01"
    table = stream_dedup_within_watermark(spark, sf_dir)
    emitted = table.count()
    fixture_dir, per_batch = _write_dedupwm_fixture(spark, sf_dir)
    fixture_rows = spark.read.parquet(fixture_dir).count()
    # batch-1 keys all emit; later ranks re-emit only after expiry
    n_keys = table.select("user_id", "event_type").distinct().count()
    assert emitted > n_keys, "no post-expiry re-emission happened"
    assert emitted < fixture_rows, "nothing was ever dropped"
    # progress metrics: the drain already terminated, so re-run the
    # same stream to capture per-batch accounting (same batch grouping:
    # per_batch files per trigger == one rank slice per micro-batch)
    data_dir, per_batch = _write_dedupwm_fixture(spark, sf_dir)
    schema = spark.read.parquet(data_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(per_batch))
        .parquet(data_dir)
    )
    dedup = stream.withWatermark("ts", "24 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    sq = (
        dedup.writeStream.format("memory")
        .queryName("dedupwm_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()
    late = updated = inputs = 0
    for pr in sq.recentProgress:
        inputs += pr["numInputRows"]
        for so in pr.get("stateOperators") or []:
            late += so.get("numRowsDroppedByWatermark") or 0
            updated += so.get("numRowsUpdated") or 0
    assert late > 0, "late-drop branch never exercised"
    assert updated == emitted, "every emitted row must store key state"
    dups = inputs - late - updated
    assert dups > 0, "duplicate-drop branch never exercised"
    assert spark.table("dedupwm_metrics").count() == emitted


def test_dedup_within_watermark_restart_recovery(spark, tmp_path):
    """Stopping the dedup stream after its first batch and restarting
    from the checkpoint must (a) not re-emit batch-1 rows (exactly-once
    across the restart: no duplicate event_ids in the file sink) and
    (b) recover the key-expiry STATE — provable because some post-
    restart rows are duplicate-dropped against state that only the
    pre-restart run built.

    Bit-equality with the continuous drain is deliberately NOT asserted:
    availableNow ends every run with a no-data flush batch that commits
    the advanced watermark, so a restarted run's first batch filters
    with a watermark the continuous drain only reaches one batch later
    — a real, documented semantic of restart, not a defect."""
    import os
    import shutil

    from node_gedcom_graph_spark.streaming.pipeline import (
        DEDUPWM_DELAY_H,
        _write_dedupwm_fixture,
    )

    sf = "/root/testdata/sf0.01"
    src, per_batch = _write_dedupwm_fixture(spark, sf)
    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(stage)
    schema = spark.read.parquet(src).schema

    def stage_rank(k):
        """Copy rank k's file group into the stage dir, preserving the
        fixture's slice-major mtime order."""
        import glob

        for part in sorted(glob.glob(os.path.join(src, f"f{k}_*.parquet"))):
            dst = os.path.join(stage, os.path.basename(part))
            shutil.copy(part, dst)
            st = os.stat(part)
            os.utime(dst, (st.st_mtime, st.st_mtime))

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(per_batch))
            .parquet(stage)
        )
        q = (
            stream.withWatermark("ts", f"{DEDUPWM_DELAY_H} hours")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.recentProgress

    stage_rank(1)
    drain()  # first batch, then the query stops
    run1 = {r.event_id for r in spark.read.parquet(out).collect()}
    import glob as _glob

    n_keys = spark.read.parquet(
        *_glob.glob(os.path.join(src, "f1_*.parquet"))
    ).count()
    assert len(run1) == n_keys  # batch 1 emits one row per key

    for k in (2, 3, 4):
        stage_rank(k)
    progress = drain()  # restart from checkpoint

    rows = spark.read.parquet(out).collect()
    ids = [r.event_id for r in rows]
    assert len(ids) == len(set(ids)), "restart re-emitted rows (sink not exactly-once)"
    assert run1 <= set(ids), "batch-1 emissions lost across restart"
    assert len(ids) > len(run1), "no post-restart emission at all"
    # state recovery: the first restarted batch must duplicate-drop at
    # least one row against state ONLY run 1 built (inputs that were
    # neither late-dropped nor stored as new state)
    first = next(p for p in progress if p["numInputRows"] > 0)
    so = (first.get("stateOperators") or [{}])[0]
    dup_drops = (
        first["numInputRows"]
        - (so.get("numRowsDroppedByWatermark") or 0)
        - (so.get("numRowsUpdated") or 0)
    )
    assert dup_drops > 0, "no duplicate was dropped against recovered state"


def test_left_outer_join_gate_emits_and_withholds(spark):
    """Both eviction outcomes must be exercised: some view-less
    purchases emit null rows (below the final watermark), at least one
    stays buffered (above it) and never emits."""
    from pyspark.sql import functions as F

    from node_gedcom_graph_spark.streaming.pipeline import (
        stream_view_purchase_left_outer,
    )

    out = stream_view_purchase_left_outer(spark, SF_DIR)
    nulls = out.filter(F.col("view_id").isNull())
    n_nulls = nulls.count()
    assert n_nulls > 0
    # recompute the total unmatched set in batch; the stream must have
    # withheld the ones above the watermark
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev = ev.withColumn(
        "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
    ) if dict(ev.dtypes).get("ts") in ("bigint", "long") else ev
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    v = ev.filter(F.col("event_type") == "view").alias("v")
    unmatched_total = p.join(
        v,
        (F.col("v.user_id") == F.col("p.user_id"))
        & (F.col("v.ts") < F.col("p.ts"))
        & (F.col("v.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
        "left_anti",
    ).count()
    assert n_nulls < unmatched_total
