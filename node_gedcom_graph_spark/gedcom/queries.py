"""GEDCOM extraction as driver-checkable queries.

The driver's tables carry no GEDCOM data, so these queries run the full
frontend (parse -> record assembly -> extraction) over the embedded demo
fixture; the oracles are hand-computed literal VALUES — a golden-file
check routed through the same hash gate as the relational queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_gedcom_graph_spark.gedcom.extract import GedcomGraph, extract_graph
from node_gedcom_graph_spark.gedcom.fixtures import DEMO_GEDCOM
from node_gedcom_graph_spark.gedcom.parser import lines_from_string
from node_gedcom_graph_spark.operators import register


_DEMO_GRAPH_CACHE: dict[str, GedcomGraph] = {}
_SYNTH_GRAPH_CACHE: dict[tuple[str, str, int], GedcomGraph] = {}


def _session_key(spark: SparkSession) -> str:
    """Stable cache key for a live session: the SparkContext's
    applicationId. id(spark._jsparkSession) is unsafe — CPython reuses
    ids, so a stopped-then-recreated session could alias a stale graph
    whose persisted RDDs belong to the dead context. applicationId is
    fresh per context, and sessions sharing a context can safely share
    the persisted frames."""
    return spark.sparkContext.applicationId


def _synth_graph(spark: SparkSession, kind: str, n: int) -> GedcomGraph:
    """Synthetic-scale extraction, built once per (session, generator,
    n): repeated registry sweeps (driver gate, plan audit, bench) would
    otherwise persist a fresh enriched frame per invocation — the same
    unbounded-accumulation hazard the Q15 revenue cache avoids."""
    from node_gedcom_graph_spark.gedcom.fixtures import (
        synth_gedcom_fam_lines,
        synth_gedcom_lines,
    )

    key = (_session_key(spark), kind, n)
    cached = _SYNTH_GRAPH_CACHE.get(key)
    if cached is not None:
        return cached
    gen = synth_gedcom_lines if kind == "indi" else synth_gedcom_fam_lines
    g = extract_graph(gen(spark, n), max_depth=2, persist=True)
    _SYNTH_GRAPH_CACHE[key] = g
    return g


def _demo_graph(spark: SparkSession) -> GedcomGraph:
    """Demo extraction, built once per SparkSession — four registered
    queries read different outputs of the same DAG; the memoized
    enriched frame is persisted (extract_graph(persist=True)) so each
    output materializes from the cached per-line frame instead of
    re-running parse + windows."""
    key = _session_key(spark)
    cached = _DEMO_GRAPH_CACHE.get(key)
    if cached is not None:
        return cached
    lines = lines_from_string(spark, DEMO_GEDCOM, n_partitions=3)
    g = extract_graph(lines, persist=True)
    _DEMO_GRAPH_CACHE[key] = g
    return g


@register(
    "gedcom_extract_nodes",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(NULL AS VARCHAR), 'Header', 'HEAD', 'Character', 'UTF-8'),
      (1, NULL, 'Header', 'HEAD', 'Gedcom Version', '5.5'),
      (2, 'I1', 'Individual', 'INDI', 'Birth Date', '1 JAN 1900'),
      (2, 'I1', 'Individual', 'INDI', 'Birth Place', 'Boston'),
      (2, 'I1', 'Individual', 'INDI', 'Gedcom Id:ID', 'I1'),
      (2, 'I1', 'Individual', 'INDI', 'Given Name', 'John '),
      (2, 'I1', 'Individual', 'INDI', 'Name', 'John /Smith/ Jr.'),
      (2, 'I1', 'Individual', 'INDI', 'Primary', 'True'),
      (2, 'I1', 'Individual', 'INDI', 'Sex', 'M'),
      (2, 'I1', 'Individual', 'INDI', 'Surname', 'Smith'),
      (3, 'I2', 'Individual', 'INDI', 'Gedcom Id:ID', 'I2'),
      (3, 'I2', 'Individual', 'INDI', 'Given Name', 'Mary'),
      (3, 'I2', 'Individual', 'INDI', 'Graduation Date', '5 MAY 1925'),
      (3, 'I2', 'Individual', 'INDI', 'LDS Baptism Date', '2 FEB 1920'),
      (3, 'I2', 'Individual', 'INDI', 'LDS Baptism Place', 'Salt Lake City Utah Temple'),
      (3, 'I2', 'Individual', 'INDI', 'LDS Baptism Temple', 'Salt Lake City Utah'),
      (3, 'I2', 'Individual', 'INDI', 'Name', 'Mary'),
      (3, 'I2', 'Individual', 'INDI', 'Primary', 'False'),
      (4, 'I3', 'Individual', 'INDI', 'Gedcom Id:ID', 'I3'),
      (4, 'I3', 'Individual', 'INDI', 'Given Name', 'Bobby'),
      (4, 'I3', 'Individual', 'INDI', 'Name', 'Bobby'),
      (4, 'I3', 'Individual', 'INDI', 'Surname', 'Jones'),
      (5, 'F1', 'Family', 'FAM', 'Gedcom Id:ID', 'F1'),
      (5, 'F1', 'Family', 'FAM', 'Marriage Date', '3 MAR 1921'),
      (5, 'F1', 'Family', 'FAM', 'Marriage Temple', 'XXXXX'),
      (7, NULL, 'Individual', 'INDI', 'Note', 'idless')
    ) t(record_seq, record_id, label, root_tag, flat_key, value)
    """,
)
def gedcom_extract_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full GEDCOM frontend, node side (SURVEY §2 ops 3-6, 9-17)."""
    return _demo_graph(spark).nodes_long


@register(
    "gedcom_extract_edges",
    oracle="""
    SELECT * FROM (VALUES
      ('I1', 'S1', 'Source', 'SOUR'),
      ('I1', 'F1', 'Spouse in Family', 'FAMS'),
      ('I2', 'F1', 'Spouse in Family', 'FAMS'),
      ('I3', 'F1', 'Child in Family', 'FAMC'),
      ('F1', 'I1', 'Husband', 'HUSB'),
      ('F1', 'I2', 'Wife', 'WIFE'),
      ('F1', 'I3', 'Child', 'CHIL')
    ) t(src, dst, rel_type, edge_tag)
    """,
)
def gedcom_extract_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEDCOM pointer routing + hoist-to-root edge construction (ops 7-8)."""
    return _demo_graph(spark).edges


@register(
    "gedcom_unused_tags",
    oracle="SELECT * FROM (VALUES ('_WEIRD')) t(tag)",
)
def gedcom_unused_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unknown-tag distinct-set accumulator (ops 5, 17)."""
    return _demo_graph(spark).unused_tags


@register(
    "gedcom_missing_temple_codes",
    oracle="SELECT * FROM (VALUES ('XXXXX')) t(code)",
)
def gedcom_missing_temple_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing temple-code distinct-set accumulator (ops 10, 17)."""
    return _demo_graph(spark).missing_temple_codes


@register(
    "gedcom_skipped_records",
    oracle="""
    SELECT * FROM (VALUES (CAST(6 AS BIGINT), 'FOO', 'X9'))
      t(record_seq, tag, xref)
    """,
)
def gedcom_skipped_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's `skip` event as an audit table (unknown top-level
    tags; the demo's record 6 `FOO`). TRLR is NOT here: it has a
    dictionary entry and is suppressed by the >=1-property guard
    instead (csv_writer.js:182-185)."""
    return _demo_graph(spark).skipped_records


@register(
    "gedcom_nodes_wide_indi",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(2 AS BIGINT), 'I1', 'John /Smith/ Jr.', 'M', '1 JAN 1900'),
      (3, 'I2', 'Mary', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
      (4, 'I3', 'Bobby', NULL, NULL),
      (7, CAST(NULL AS VARCHAR), NULL, NULL, NULL)
    ) t(record_seq, record_id, "Name", "Sex", "Birth Date")
    """,
)
def gedcom_nodes_wide_indi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's nodes-INDI.csv wide shape (op 13/18): one row per
    Individual record, one column per flat key — via groupBy().pivot()
    with an explicit key list (no second pass at scale when the key
    vocabulary is supplied). Projected to three stable keys for the
    golden oracle."""
    from pyspark.sql import functions as F

    wide = _demo_graph(spark).nodes_wide("INDI")
    return wide.select(
        "record_seq",
        "record_id",
        F.col("Name"),
        F.col("Sex"),
        F.col("Birth Date"),
    )


@register(
    "gedcom_synth_extract_stats",
    oracle="""
    SELECT * FROM (VALUES
      ('node', 'Individual/Birth Date',   5000, 100),
      ('node', 'Individual/Birth Place',  5000, 2),
      ('node', 'Individual/Gedcom Id:ID', 5000, 5000),
      ('node', 'Individual/Given Name',   5000, 5000),
      ('node', 'Individual/Name',         5000, 5000),
      ('node', 'Individual/Sex',          5000, 2),
      ('node', 'Individual/Surname',      5000, 1000),
      ('edge', 'Spouse in Family',        5000, 5000)
    ) t(entity, key, n_values, n_distinct)
    """,
)
def gedcom_synth_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL extraction pipeline gated at data scale: 5,000 synthetic
    individuals (35,000 lines, generated Spark-side with closed-form
    value distributions — fixtures.synth_gedcom_lines) run through
    extract_graph, then aggregate per-key value/distinct counts are
    hash-checked against the HAND-COMPUTED oracle: unique names and
    untrimmed given names (5000), surnames id%1000 (1000), 2 sexes, 100
    birth years, 2 birth places (Springfield vs the decoded SLAKE
    temple — exercising the conditional PLAC decode at scale), and the
    id%10000 family pointer fan-in. The demo-fixture queries pin the
    per-row semantics; this pins that the windows/explodes/joins
    preserve them across a shuffled, multi-partition run.

    Scale: extraction as in bench.py (one record_seq shuffle, collapsed
    window stack); the stats are two grouped aggregates over the long
    table — map-side partials, distinct counts keyed by (key, value).
    """
    g = _synth_graph(spark, "indi", 5000)
    nodes = (
        g.nodes_long.groupBy(
            F.concat(F.col("label"), F.lit("/"), F.col("flat_key")).alias("key")
        )
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_values"),
            F.countDistinct("value").cast("int").alias("n_distinct"),
        )
        .select(F.lit("node").alias("entity"), "key", "n_values", "n_distinct")
    )
    edges = (
        g.edges.groupBy(F.col("rel_type").alias("key"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_values"),
            F.countDistinct("dst").cast("int").alias("n_distinct"),
        )
        .select(F.lit("edge").alias("entity"), "key", "n_values", "n_distinct")
    )
    return nodes.unionAll(edges)


@register(
    "gedcom_synth_family_stats",
    oracle="""
    SELECT * FROM (VALUES
      ('node',  'Family/Gedcom Id:ID',    1000, 1000),
      ('node',  'Family/Marriage Date',   1000, 80),
      ('node',  'Family/Marriage Temple', 1000, 8),
      ('edge',  'Husband',                1000, 1000),
      ('edge',  'Wife',                   1000, 1000),
      ('edge',  'Child',                  1000, 1000),
      ('audit', 'missing_temple_codes',   7,    7)
    ) t(entity, key, n_values, n_distinct)
    """,
)
def gedcom_synth_family_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Family-record twin of gedcom_synth_extract_stats: 1,000 synthetic
    FAM records gate pointer HOISTING (HUSB/WIFE/CHIL pointers anchor to
    the FAM root — op 8's subtle semantic) and the TEMP decode with
    miss-tracking (op 10) at data scale. Hand-computed oracle: distinct
    spouse/child pointer fan-outs (1000 each — children cover exactly
    the odd individual ids), 80 marriage years, 8 temple values (1
    decoded SLAKE + 7 unknown XX codes), and the missing-temple audit
    set of exactly those 7 codes.
    """
    g = _synth_graph(spark, "fam", 1000)
    nodes = (
        g.nodes_long.groupBy(
            F.concat(F.col("label"), F.lit("/"), F.col("flat_key")).alias("key")
        )
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_values"),
            F.countDistinct("value").cast("int").alias("n_distinct"),
        )
        .select(F.lit("node").alias("entity"), "key", "n_values", "n_distinct")
    )
    edges = (
        g.edges.groupBy(F.col("rel_type").alias("key"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_values"),
            F.countDistinct("dst").cast("int").alias("n_distinct"),
        )
        .select(F.lit("edge").alias("entity"), "key", "n_values", "n_distinct")
    )
    audit = g.missing_temple_codes.agg(
        F.count(F.lit(1)).cast("int").alias("n_values"),
        F.countDistinct("code").cast("int").alias("n_distinct"),
    ).select(
        F.lit("audit").alias("entity"),
        F.lit("missing_temple_codes").alias("key"),
        "n_values",
        "n_distinct",
    )
    return nodes.unionAll(edges).unionAll(audit)
