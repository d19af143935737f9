"""Graph traversals as driver-checkable queries (over the embedded demo
fixture, oracled with hand-computed literal VALUES — same pattern as
gedcom/queries.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from node_gedcom_graph_spark.gedcom.extract import extract_graph
from node_gedcom_graph_spark.gedcom.fixtures import DEMO_GEDCOM
from node_gedcom_graph_spark.gedcom.parser import assign_records, lines_from_string
from node_gedcom_graph_spark.graph.queries import (
    ancestors,
    connected_components,
    parents_of,
    spouses,
)
from node_gedcom_graph_spark.operators import register


_DEMO_EDGES_CACHE: dict[int, DataFrame] = {}


def _demo_edges(spark: SparkSession) -> DataFrame:
    """Demo-fixture edge table, extracted once per SparkSession.

    Five registered graph queries share this input; without the memo
    each re-runs the whole parse+extract DAG (a dozen tiny jobs), which
    dominates their wall time. localCheckpoint materializes the edges so
    the traversals start from a trivial scan."""
    key = id(spark._jsparkSession)
    cached = _DEMO_EDGES_CACHE.get(key)
    if cached is not None:
        return cached
    lines = assign_records(lines_from_string(spark, DEMO_GEDCOM, n_partitions=3))
    edges = extract_graph(lines).edges.localCheckpoint(eager=True)
    _DEMO_EDGES_CACHE[key] = edges
    return edges


@register(
    "gedcom_graph_parents",
    oracle="""
    SELECT * FROM (VALUES
      ('I3', 'I1', 'Husband'),
      ('I3', 'I2', 'Wife')
    ) t(child, parent, parent_role)
    """,
)
def gedcom_graph_parents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """person -FAMC-> family -HUSB|WIFE-> parent traversal."""
    return parents_of(_demo_edges(spark))


@register(
    "gedcom_graph_spouses",
    oracle="SELECT * FROM (VALUES ('I1', 'I2', 'F1')) t(husband, wife, family)",
)
def gedcom_graph_spouses(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spouses(_demo_edges(spark))


@register(
    "gedcom_graph_ancestors",
    oracle="""
    SELECT * FROM (VALUES
      ('I3', 'I1', 1),
      ('I3', 'I2', 1)
    ) t(person, ancestor, depth)
    """,
)
def gedcom_graph_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS with early termination (the depth-2 frontier is
    empty on the demo tree, so the kernel stops after one round)."""
    return ancestors(_demo_edges(spark), max_depth=5)


@register(
    "gedcom_graph_components",
    oracle="""
    SELECT * FROM (VALUES
      ('F1', 'F1'), ('I1', 'F1'), ('I2', 'F1'), ('I3', 'F1'), ('S1', 'F1')
    ) t(id, component)
    """,
)
def gedcom_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the undirected edge set."""
    return connected_components(_demo_edges(spark))


@register(
    "gedcom_graph_descendants",
    oracle="""
    SELECT * FROM (VALUES
      ('I1', 'I3', 1),
      ('I2', 'I3', 1)
    ) t(person, descendant, depth)
    """,
)
def gedcom_graph_descendants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downward BFS (ancestors reversed) over the demo tree."""
    from node_gedcom_graph_spark.graph.queries import descendants

    return descendants(_demo_edges(spark), max_depth=5)
