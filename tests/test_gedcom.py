"""Golden tests pinning the GEDCOM extraction semantics to the reference
(/root/reference/lib/csv_writer.js — each case cites the line it pins)."""

import os
from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from node_gedcom_graph_spark.gedcom.extract import extract_graph
from node_gedcom_graph_spark.gedcom.fixtures import DEMO_GEDCOM
from node_gedcom_graph_spark.gedcom.parser import (
    assign_records,
    lines_from_string,
    read_gedcom_lines,
    scan_chunks,
)


def graph_of(spark, text, **kw):
    return extract_graph(assign_records(lines_from_string(spark, text, **kw)))


def node_map(g, record_seq):
    rows = g.nodes_long.filter(F.col("record_seq") == record_seq).collect()
    return {r.flat_key: r.value for r in rows}


def edge_set(g):
    return {tuple(r) for r in g.edges.collect()}


# ---------------------------------------------------------------- parser


def test_parse_lines_shapes(spark):
    lines = lines_from_string(spark, "0 @I1@ INDI\n1 NAME John /Smith/ \n2 DATE\n")
    rows = {r.line_no: r for r in lines.collect()}
    assert rows[0].level == 0 and rows[0].xref == "I1" and rows[0].tag == "INDI"
    assert rows[1].value == "John /Smith/ "  # trailing space significant
    assert rows[2].value == "" and rows[2].xref is None


def test_record_assignment_multi_partition(spark):
    text = "\n".join(f"0 @R{i}@ INDI\n1 SEX M" for i in range(20))
    lines = assign_records(lines_from_string(spark, text, n_partitions=7))
    recs = lines.groupBy("record_seq").count().collect()
    assert len(recs) == 20 and all(r["count"] == 2 for r in recs)


def test_read_gedcom_lines_from_file(spark, tmp_path):
    p = tmp_path / "demo.ged"
    p.write_text(DEMO_GEDCOM, encoding="utf-8")
    g = extract_graph(assign_records(read_gedcom_lines(spark, str(p))))
    assert g.nodes_long.count() == 26
    assert g.edges.count() == 7


# ------------------------------------------------- demo-fixture semantics


@pytest.fixture(scope="module")
def demo(spark):
    return graph_of(spark, DEMO_GEDCOM, n_partitions=3)


def test_name_split_with_suffix(demo):
    """csv_writer.js:66-82 — pieces untrimmed, suffix after 2nd slash dropped."""
    n = node_map(demo, 2)
    assert n["Given Name"] == "John "  # raw piece, trailing space kept
    assert n["Surname"] == "Smith"
    assert n["Name"] == "John /Smith/ Jr."


def test_name_no_slash_all_given(demo):
    n = node_map(demo, 3)
    assert n["Given Name"] == "Mary" and n["Name"] == "Mary" and "Surname" not in n


def test_scalar_name_helpers_match_extraction(spark):
    """functions.scalar.given_name/surname are pinned equal to the
    authoritative extraction path (untrimmed raw pieces, slash-less
    value is the Given Name verbatim, blank pieces -> absent)."""
    from node_gedcom_graph_spark.functions.scalar import given_name, surname

    names = [
        "John /Smith/ Jr.",  # suffix dropped, given keeps trailing space
        "Mary",  # no slash: all given
        "John /Smith/",
        " /Smith/",  # all-space given piece -> NULL
        "A / /",  # blank surname piece -> NULL
        "/Jones/",  # empty given piece -> NULL
        "//",
    ]
    ged = "".join(f"0 @I{i}@ INDI\n1 NAME {nm}\n" for i, nm in enumerate(names, 1))
    g = graph_of(spark, ged)
    nodes = g.nodes_long.collect()
    by_record: dict[int, dict[str, str]] = {}
    for r in nodes:
        by_record.setdefault(r.record_seq, {})[r.flat_key] = r.value
    expected = {
        props["Name"]: (props.get("Given Name"), props.get("Surname"))
        for props in by_record.values()
    }
    df = spark.createDataFrame([(nm,) for nm in names], "name string")
    got = {
        r.name: (r.g, r.s)
        for r in df.select(
            "name",
            given_name(F.col("name")).alias("g"),
            surname(F.col("name")).alias("s"),
        ).collect()
    }
    assert got == expected


def test_name_last_wins_per_key(demo):
    """Two NAME lines: later line overwrites only the keys it produces."""
    n = node_map(demo, 4)
    assert n["Given Name"] == "Bobby"  # from 2nd NAME
    assert n["Surname"] == "Jones"  # survives from 1st NAME
    assert n["Name"] == "Bobby"


def test_nested_flatten_prefix(demo):
    """csv_writer.js:164-167 — space-joined composite keys."""
    n = node_map(demo, 2)
    assert n["Birth Date"] == "1 JAN 1900" and n["Birth Place"] == "Boston"


def test_even_type_promotion(demo):
    """csv_writer.js:159-163 — Type value becomes prefix, Type key deleted."""
    n = node_map(demo, 3)
    assert n["Graduation Date"] == "5 MAY 1925"
    assert not any(k.startswith("Event") for k in n)
    assert "Type" not in " ".join(n)


def test_pointer_hoisted_to_root(demo):
    """csv_writer.js:158,181 — nested SOUR pointer anchors at the INDI."""
    assert ("I1", "S1", "Source", "SOUR") in edge_set(demo)


def test_boolean_encode(demo):
    assert node_map(demo, 2)["Primary"] == "True"  # _PRIMARY Y
    assert node_map(demo, 3)["Primary"] == "False"  # _PRIMARY empty leaf


def test_temple_decode_hit_and_miss(demo):
    n2 = node_map(demo, 3)
    assert n2["LDS Baptism Temple"] == "Salt Lake City Utah"
    assert n2["LDS Baptism Place"] == "Salt Lake City Utah Temple"
    nf = node_map(demo, 5)
    assert nf["Marriage Temple"] == "XXXXX"  # passthrough
    assert [r.code for r in demo.missing_temple_codes.collect()] == ["XXXXX"]


def test_unknown_tags(demo):
    """Child unknown -> dropped + accumulated; top-level unknown -> record
    skipped, NOT accumulated (csv_writer.js:132-135 vs 176-180)."""
    assert [r.tag for r in demo.unused_tags.collect()] == ["_WEIRD"]
    assert demo.nodes_long.filter(F.col("root_tag") == "FOO").count() == 0


def test_idless_record_no_edges_but_node(demo):
    """csv_writer.js:139 — pointers in id-less records emit nothing; the
    node itself is still emitted if it has properties."""
    n = node_map(demo, 7)
    assert n == {"Note": "idless"}
    assert not any(e[3] == "ALIA" for e in edge_set(demo))


def test_empty_structural_child_no_property(demo):
    """csv_writer.js:137 — GEDC (empty value, has children) emits no
    'Gedcom' property, but its children flatten through it."""
    n = node_map(demo, 1)
    assert "Gedcom" not in n and n["Gedcom Version"] == "5.5"


def test_trlr_suppressed(demo):
    """Node with zero properties is not emitted (csv_writer.js:182)."""
    assert demo.nodes_long.filter(F.col("root_tag") == "TRLR").count() == 0


# ------------------------------------------------------- extra edge cases


def test_even_without_type_keeps_event_prefix(spark):
    """Documented divergence: reference emits JS-artifact 'undefined'
    prefix; this engine keeps 'Event'."""
    g = graph_of(spark, "0 @I1@ INDI\n1 EVEN\n2 DATE 1 JAN 2000\n")
    assert node_map(g, 1)["Event Date"] == "1 JAN 2000"


def test_even_with_value_keeps_scalar_event(spark):
    """A valued EVEN keeps its scalar 'Event' property; only the merged
    subtree keys are renamed (csv_writer.js:153 runs before :159)."""
    g = graph_of(spark, "0 @I1@ INDI\n1 EVEN something\n2 TYPE Grad\n2 DATE D1\n")
    n = node_map(g, 1)
    assert n["Event"] == "something" and n["Grad Date"] == "D1" and "Type" not in n


def test_even_multiple_types_last_wins(spark):
    g = graph_of(spark, "0 @I1@ INDI\n1 EVEN\n2 TYPE A\n2 TYPE B\n2 DATE D\n")
    n = node_map(g, 1)
    assert n["B Date"] == "D" and "A Date" not in n


def test_pointer_with_children_emits_both(spark):
    """csv_writer.js:138-146 then :157 — relationship AND flattened kids."""
    g = graph_of(spark, "0 @I1@ INDI\n1 FAMC @F1@\n2 PEDI birth\n")
    assert ("I1", "F1", "Child in Family", "FAMC") in edge_set(g)
    assert node_map(g, 1)["Child in Family Pedigree"] == "birth"


def test_duplicate_sibling_structures_last_wins(spark):
    g = graph_of(spark, "0 @I1@ INDI\n1 BIRT\n2 DATE D1\n1 BIRT\n2 DATE D2\n")
    assert node_map(g, 1)["Birth Date"] == "D2"


def test_unknown_subtree_fully_dropped(spark):
    """continue at csv_writer.js:135 skips the subtree — its children are
    neither properties nor unused-tag entries."""
    g = graph_of(spark, "0 @I1@ INDI\n1 _NOPE x\n2 DATE D1\n2 _DEEP y\n1 SEX M\n")
    n = node_map(g, 1)
    assert n == {"Gedcom Id:ID": "I1", "Sex": "M"}
    assert {r.tag for r in g.unused_tags.collect()} == {"_NOPE"}


def test_record_with_only_id_still_emitted(spark):
    """node['Gedcom Id:ID'] alone is a non-empty map (csv_writer.js:125)."""
    g = graph_of(spark, "0 @I1@ INDI\n1 _NOPE x\n")
    assert node_map(g, 1) == {"Gedcom Id:ID": "I1"}


def test_deep_nesting_four_levels(spark):
    g = graph_of(
        spark,
        "0 @I1@ INDI\n1 BIRT\n2 SOUR src\n3 DATA\n4 TEXT deep\n",
    )
    assert node_map(g, 1)["Birth Source Data Text"] == "deep"


def test_temp_empty_value_tracked_as_missing(spark):
    g = graph_of(spark, "0 @I1@ INDI\n1 BAPL\n2 TEMP\n")
    assert node_map(g, 1)["LDS Baptism Temple"] == ""
    assert [r.code for r in g.missing_temple_codes.collect()] == [""]


def test_name_only_slashes(spark):
    g = graph_of(spark, "0 @I1@ INDI\n1 NAME //\n")
    n = node_map(g, 1)
    assert n["Name"] == "//" and "Given Name" not in n and "Surname" not in n


def test_nodes_wide_shape(spark):
    g = graph_of(spark, DEMO_GEDCOM, n_partitions=2)
    wide = g.nodes_wide("INDI")
    assert wide.count() == 4  # I1, I2, I3, idless
    row = {r["record_id"]: r for r in wide.collect()}
    assert row["I1"]["Birth Date"] == "1 JAN 1900"
    assert row["I3"]["Surname"] == "Jones"


def test_read_gedcom_directory_multi_file(spark, tmp_path):
    """Directory scan: multiple .ged files in one read — records never
    span files, and per-file split ordering keeps boundaries correct."""
    d = tmp_path / "many"
    d.mkdir()
    (d / "a.ged").write_text(
        "0 @A1@ INDI\n1 SEX M\n0 @A2@ INDI\n1 SEX F\n", encoding="utf-8"
    )
    (d / "b.ged").write_text(
        "0 @B1@ FAM\n1 HUSB @A1@\n1 WIFE @A2@\n", encoding="utf-8"
    )
    g = extract_graph(assign_records(read_gedcom_lines(spark, str(d))))
    ids = {
        r.value
        for r in g.nodes_long.filter(F.col("flat_key") == "Gedcom Id:ID").collect()
    }
    assert ids == {"A1", "A2", "B1"}
    edges = {(r.src, r.dst, r.rel_type) for r in g.edges.collect()}
    assert edges == {("B1", "A1", "Husband"), ("B1", "A2", "Wife")}
    # every record's lines stayed together (2 or 3 lines per record)
    sizes = sorted(
        r["count"]
        for r in assign_records(read_gedcom_lines(spark, str(d)))
        .groupBy("record_seq")
        .count()
        .collect()
    )
    assert sizes == [2, 2, 3]


def test_cont_conc_are_plain_properties_not_spliced(spark):
    """The reference treats CONC/CONT as ordinary dictionary tags
    (const/tags.js:62,65 — 'Concatenation'/'Continued'), NOT as value
    continuations to splice into the parent; multiple CONT children
    collapse last-wins like any repeated key. Pinned here so the
    faithful oddity reads as intent, not accident."""
    g = graph_of(
        spark,
        "0 @I1@ INDI\n1 NOTE first part\n2 CONT second part\n2 CONT third part\n",
    )
    props = node_map(g, 1)
    assert props["Note"] == "first part"
    assert props["Note Continued"] == "third part"  # last CONT wins
    assert "second part" not in props.values()


def test_on_disk_fixture_matches_embedded():
    """tests/fixtures/demo.ged (FIXTURES.md §2) must stay in sync with
    the embedded DEMO_GEDCOM the oracles are hand-computed against."""
    here = os.path.dirname(os.path.abspath(__file__))
    on_disk = open(os.path.join(here, "fixtures", "demo.ged")).read()
    assert on_disk == DEMO_GEDCOM


# ------------------------------------------------------ record-delimited scan


@contextmanager
def spark_conf(spark, **conf):
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_read_gedcom_directory_one_partition(spark, tmp_path):
    """Two small files share one scan partition: b.ged's first chunk
    follows a.ged's chunks in that partition, at block start 0 like
    them, and must still keep its own leading "0 "."""
    d = tmp_path / "many"
    d.mkdir()
    (d / "a.ged").write_text(
        "0 @A1@ INDI\n1 SEX M\n0 @A2@ INDI\n1 SEX F\n", encoding="utf-8"
    )
    (d / "b.ged").write_text(
        "0 @B1@ FAM\n1 HUSB @A1@\n1 WIFE @A2@\n", encoding="utf-8"
    )
    one_partition = {
        "spark.sql.files.minPartitionNum": "1",
        "spark.sql.files.openCostInBytes": "1",
    }
    with spark_conf(spark, **one_partition):
        assert scan_chunks(spark.read, str(d)).rdd.getNumPartitions() == 1
        lines = read_gedcom_lines(spark, str(d))
        records = sorted(
            (tuple(ln[1:] for ln in sorted(ls)) for ls in _records(lines)), key=repr
        )
        g = extract_graph(lines)
        edges = {(r.src, r.dst, r.rel_type) for r in g.edges.collect()}
    assert records == [
        ((0, "A1", "INDI", ""), (1, None, "SEX", "M")),
        ((0, "A2", "INDI", ""), (1, None, "SEX", "F")),
        ((0, "B1", "FAM", ""), (1, None, "HUSB", "@A1@"), (1, None, "WIFE", "@A2@")),
    ]
    assert edges == {("B1", "A1", "Husband"), ("B1", "A2", "Wife")}


def _records(lines):
    """Lines grouped by record_seq, in record_seq order, each record a
    list of (line_no, level, xref, tag, value)."""
    by_seq = {}
    for r in lines.collect():
        by_seq.setdefault(r.record_seq, []).append(
            (r.line_no, r.level, r.xref, r.tag, r.value)
        )
    return [by_seq[s] for s in sorted(by_seq)]


def _snapshot(lines):
    """Records as ordered line tuples, plus the whole extract_graph
    output with each record_seq replaced by its rank (a scanned file's
    record_seq is unique and ordered but not dense)."""
    records = _records(lines)
    seqs = sorted({r.record_seq for r in lines.select("record_seq").collect()})
    rank = {s: i for i, s in enumerate(seqs, 1)}
    g = extract_graph(lines)
    nodes = sorted(
        (rank[r.record_seq], r.record_id, r.label, r.root_tag, r.flat_key, r.value)
        for r in g.nodes_long.collect()
    )
    edges = Counter(tuple(r) for r in g.edges.collect())
    audits = (
        {r[0] for r in g.unused_tags.collect()},
        {r[0] for r in g.missing_temple_codes.collect()},
        sorted((rank[r.record_seq], r.tag, r.xref) for r in g.skipped_records.collect()),
    )
    lines_only = [tuple(ln[1:] for ln in sorted(rec)) for rec in records]
    return lines_only, nodes, edges, audits


def _with_blank_lines(text):
    out = []
    for i, ln in enumerate(text.split("\n")):
        out.append(ln)
        if i % 3 == 0:
            out.append("" if i % 2 else "   ")
    return "\n".join(out)


# (file text, LF text it must read like, extra Spark confs)
SCAN_CASES = {
    "crlf": (DEMO_GEDCOM.replace("\n", "\r\n"), DEMO_GEDCOM, {}),
    "lone_cr": (DEMO_GEDCOM.replace("\n", "\r"), DEMO_GEDCOM, {}),
    "bom": ("\ufeff" + DEMO_GEDCOM, DEMO_GEDCOM, {}),
    "blank_lines": (_with_blank_lines(DEMO_GEDCOM), DEMO_GEDCOM, {}),
    "lines_before_first_record": (
        "1 NOTE orphan\n2 CONT more\n\n" + DEMO_GEDCOM, DEMO_GEDCOM, {}
    ),
    "indented_level_0": (
        DEMO_GEDCOM.replace("0 TRLR", "  0 @I9@ INDI\n1 SEX F\n0 TRLR"),
        DEMO_GEDCOM.replace("0 TRLR", "  0 @I9@ INDI\n1 SEX F\n0 TRLR"),
        {},
    ),
    "records_cross_splits": (
        DEMO_GEDCOM,
        DEMO_GEDCOM,
        {"spark.sql.files.maxPartitionBytes": "64"},
    ),
}


@pytest.mark.parametrize("case", sorted(SCAN_CASES))
def test_file_scan_matches_in_memory_text(spark, tmp_path, case):
    """read_gedcom_lines on a file gives the same records and the same
    extraction as lines_from_string on the LF text."""
    file_text, lf_text, conf = SCAN_CASES[case]
    p = tmp_path / "case.ged"
    p.write_bytes(file_text.encode("utf-8"))
    with spark_conf(spark, **conf):
        if conf:
            assert scan_chunks(spark.read, str(p)).rdd.getNumPartitions() > 1
        got = _snapshot(read_gedcom_lines(spark, str(p)))
    want = _snapshot(lines_from_string(spark, lf_text))
    assert got == want
    assert len(got[0]) == sum(
        1 for ln in lf_text.splitlines() if ln.lstrip().startswith("0 ")
    )


def test_import_plan_runs_no_python(spark, tmp_path):
    """The import's read and extraction plans hold no Python worker
    node: no mapInPandas, no Python UDF."""
    p = tmp_path / "demo.ged"
    p.write_text(DEMO_GEDCOM, encoding="utf-8")
    g = extract_graph(assign_records(read_gedcom_lines(spark, str(p))))
    for df in (g.nodes_long, g.edges):
        qe = df._jdf.queryExecution()
        plan = qe.optimizedPlan().toString() + qe.executedPlan().toString()
        for node in ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, node
