"""Neo4j CSV export: RFC 4180 round trip, one file per group, counts and
audits printed by the CLI, and staging cleanup when the export fails."""

import ast
import csv
import glob
import os

import pytest
from pyspark.sql import functions as F

from node_gedcom_graph_spark.gedcom.extract import extract_graph
from node_gedcom_graph_spark.gedcom.fixtures import DEMO_GEDCOM
from node_gedcom_graph_spark.gedcom.parser import assign_records, lines_from_string
from node_gedcom_graph_spark.publish.neo4j_csv import (
    csv_field,
    export_neo4j_csvs,
    export_with_counts,
)

# Quotes, commas and non-ASCII text in values, and a comma in an EVEN
# TYPE, which becomes part of the column names of its record's group.
TRICKY_GEDCOM = """\
0 HEAD
1 CHAR UTF-8
0 @I1@ INDI
1 NAME John "Jack" /Smith/
1 SEX M
1 BIRT
2 DATE 1 JAN 1900
2 PLAC Boston, Suffolk, Massachusetts
1 EVEN
2 TYPE Degree, honorary
2 DATE 5 MAY 1925
1 FAMS @F1@
0 @I2@ INDI
1 NAME Zoë /Müller-Łukasiewicz/
1 BIRT
2 PLAC Zürich
1 NOTE She said "hi, there"
1 FAMS @F1@
0 @F1@ FAM
1 HUSB @I1@
1 WIFE @I2@
1 MARR
2 PLAC São Paulo, "Brasil"
0 TRLR
"""


def _graph(spark, text):
    return extract_graph(assign_records(lines_from_string(spark, text, n_partitions=2)))


def _read(path):
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.reader(fh))


def _part_files(stage):
    """{group: [part files]} for every entry at the top of ``stage``."""
    return {g: sorted(glob.glob(os.path.join(stage, g, "part-*")))
            for g in os.listdir(stage)}


def test_csv_field_quotes_only_when_needed():
    assert csv_field(None) == ""
    assert csv_field("plain text") == "plain text"
    assert csv_field('John "Jack"') == '"John ""Jack"""'
    assert csv_field("a,b") == '"a,b"'
    assert csv_field("a\nb") == '"a\nb"' and csv_field("a\rb") == '"a\rb"'
    assert csv_field("Zoë") == "Zoë"


def test_round_trip_through_an_rfc4180_reader(spark, tmp_path):
    g = _graph(spark, TRICKY_GEDCOM)
    stage = str(tmp_path / "stage")
    out = export_neo4j_csvs(g, stage)

    parts = _part_files(stage)
    assert set(parts) == set(out)
    for group, files in parts.items():
        assert files == [out[group]], group  # one file per group

    props: dict = {}
    for r in g.nodes_long.collect():
        rec = props.setdefault(r.record_seq, (r.root_tag, r.label, {}))
        rec[2][r.flat_key] = r.value
    for tag in {t for t, _, _ in props.values()}:
        header, *rows = _read(out[f"nodes-{tag}"])
        records = [(label, kv) for t, label, kv in props.values() if t == tag]
        keys = sorted({k for _, kv in records for k in kv},
                      key=lambda k: (k != "Gedcom Id:ID", k))
        assert header == keys + [":LABEL"]
        assert sorted(rows) == sorted(
            [kv.get(k, "") for k in keys] + [label] for label, kv in records)

    edges = g.edges.collect()
    for tag in {e.edge_tag for e in edges}:
        header, *rows = _read(out[f"relationships-{tag}"])
        assert header == [":START_ID", ":END_ID", ":TYPE"]
        assert sorted(rows) == sorted(
            [e.src, e.dst, e.rel_type] for e in edges if e.edge_tag == tag)

    # The cases the fixture exists for really are in the output.
    indi = "\n".join(map(str, _read(out["nodes-INDI"])))
    for s in ('John "Jack" /Smith/', "Boston, Suffolk, Massachusetts",
              "Degree, honorary Date", 'She said "hi, there"', "Zoë"):
        assert s in indi, s


def test_cli_prints_observed_counts_and_audits(spark, tmp_path, capsys):
    from node_gedcom_graph_spark.__main__ import main

    src = tmp_path / "t.ged"
    src.write_text(DEMO_GEDCOM)
    rc = main(["--src", str(src), "--dest", str(tmp_path / "live"),
               "--master", "local[4]", "--tmpdir", str(tmp_path / "stage")])
    assert rc == 0
    printed = {}
    for line in capsys.readouterr().err.splitlines():
        label, _, rest = line.partition(": ")
        printed[label] = rest

    g = _graph(spark, DEMO_GEDCOM)
    assert int(printed["n_property_rows"]) == g.nodes_long.count()
    assert int(printed["n_edges"]) == g.edges.count()
    [[approx]] = g.nodes_long.agg(F.approx_count_distinct("record_id")).collect()
    assert int(printed["n_records_approx"]) == approx
    for label, df in (("unused tags", g.unused_tags),
                      ("missing temple codes", g.missing_temple_codes),
                      ("skipped records", g.skipped_records)):
        assert sorted(ast.literal_eval(printed[label])) == sorted(
            tuple(r) for r in df.collect())


def test_cli_prints_audit_lists_sorted(spark, tmp_path, capsys):
    """Each audit list prints sorted, whatever order the rows arrive in
    from a file read in several splits."""
    from node_gedcom_graph_spark.__main__ import main

    recs = []
    for i in (7, 3, 9, 1, 5, 8, 2, 6, 4):
        recs.append(f"0 @I{i}@ INDI\n1 _T{i} x\n1 BAPL\n2 TEMP Q{i}\n")
        recs.append(f"0 @X{i}@ _REC{i}\n1 NOTE n\n")
    src = tmp_path / "t.ged"
    src.write_text("0 HEAD\n" + "".join(recs) + "0 TRLR\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128")
    try:
        rc = main(["--src", str(src), "--dest", str(tmp_path / "live"),
                   "--master", "local[4]", "--dry-run"])
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert rc == 0
    printed = dict(line.partition(": ")[::2]
                   for line in capsys.readouterr().err.splitlines())
    for label in ("unused tags", "missing temple codes", "skipped records"):
        vals = ast.literal_eval(printed[label])
        assert len(vals) == 9 and vals == sorted(vals), label


@pytest.mark.parametrize("fault", ["write", "publish"])
def test_failed_import_leaves_no_staging_dir(spark, tmp_path, monkeypatch, fault):
    from pyspark.sql import DataFrameWriter

    from node_gedcom_graph_spark.__main__ import main
    from node_gedcom_graph_spark.publish import neo4j_csv

    def boom(*args, **kwargs):
        raise OSError(f"injected {fault} fault")

    if fault == "write":
        monkeypatch.setattr(DataFrameWriter, "text", boom)
    else:
        monkeypatch.setattr(neo4j_csv, "atomic_publish", boom)
    src = tmp_path / "t.ged"
    src.write_text(DEMO_GEDCOM)
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(OSError, match="injected"):
        main(["--src", str(src), "--dest", str(tmp_path / "live"),
              "--master", "local[4]"])
    assert not glob.glob(str(tmp_path / "ged2neo-csvs-*"))
    assert not os.path.exists(tmp_path / "live")
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached


def test_export_caches_nothing_of_its_own(spark, tmp_path, monkeypatch):
    """A persisted extraction is the one cache of an import: the export
    reads it and persists nothing more."""
    g = extract_graph(
        assign_records(lines_from_string(spark, DEMO_GEDCOM, n_partitions=2)),
        persist=True,
    )
    calls = []
    cls = type(g.edges)
    for name in ("persist", "cache"):
        def spy(self, *args, _orig=getattr(cls, name), **kwargs):
            calls.append(self)
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, spy)
    try:
        export_with_counts(g, str(tmp_path / "stage"))
    finally:
        g.unpersist()
    assert calls == []


def test_write_and_wide_plans_hold_only_the_record_aggregate(
    spark, tmp_path, monkeypatch
):
    """The CSV write and the wide table read each record's row as
    extraction left it: the only aggregate in their plans is
    extraction's per-record collect_list of its lines."""
    from pyspark.sql import DataFrameWriter

    g = _graph(spark, TRICKY_GEDCOM)
    plans = []
    text = DataFrameWriter.text

    def spy(self, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return text(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "text", spy)
    export_neo4j_csvs(g, str(tmp_path / "stage"))
    plans.append(g.nodes_wide("INDI")._jdf.queryExecution().executedPlan().toString())
    assert len(plans) == 2
    for plan in plans:
        aggregates = [ln for ln in plan.splitlines() if "Aggregate" in ln]
        assert aggregates, plan
        for ln in aggregates:
            assert "collect_list(l#" in ln, ln
        assert "first(" not in plan
