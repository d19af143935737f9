"""Property-graph queries over the extracted GEDCOM edges.

The reference leaves all graph semantics to Neo4j after bulk load; this
engine answers the same queries itself over the edges DataFrame
(src, dst, rel_type, edge_tag), the GraphFrames model (vertices DF +
edges DF) without the external package.

GEDCOM topology reminder: families are first-class nodes. An individual
points at their family via 'Child in Family' (FAMC) / 'Spouse in Family'
(FAMS); the family points back at members via 'Husband'/'Wife'/'Child'.
Parent-of therefore traverses person -FAMC-> family -HUSB|WIFE-> person.

The one-hop lookups are equi-joins on ids. The iterative queries
(``ancestors``, ``descendants``, ``connected_components``) run on the
two kernels in ``graph/traverse.py``: one job per round, and no cached
block outlives the call except the returned frame's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from node_gedcom_graph_spark.graph.traverse import components, reach

PARENT_RELS = ("Husband", "Wife")


def _family_links(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(child->family, family->parent) link tables."""
    famc = edges.filter(F.col("rel_type") == "Child in Family").select(
        F.col("src").alias("child"), F.col("dst").alias("family")
    )
    fam_parent = edges.filter(F.col("rel_type").isin(*PARENT_RELS)).select(
        F.col("src").alias("family"),
        F.col("dst").alias("parent"),
        F.col("rel_type").alias("parent_role"),
    )
    return famc, fam_parent


def parents_of(edges: DataFrame) -> DataFrame:
    """(child, parent, parent_role) — person -FAMC-> family -HUSB|WIFE->."""
    famc, fam_parent = _family_links(edges)
    return famc.join(fam_parent, "family").select("child", "parent", "parent_role")


def children_of(edges: DataFrame) -> DataFrame:
    """(parent, child) via the family's explicit Child edges."""
    fam_child = edges.filter(F.col("rel_type") == "Child").select(
        F.col("src").alias("family"), F.col("dst").alias("child")
    )
    _, fam_parent = _family_links(edges)
    return fam_parent.join(fam_child, "family").select("parent", "child", "parent_role")


def spouses(edges: DataFrame) -> DataFrame:
    """(husband, wife, family) from each family's Husband/Wife edges."""
    h = edges.filter(F.col("rel_type") == "Husband").select(
        F.col("src").alias("family"), F.col("dst").alias("husband")
    )
    w = edges.filter(F.col("rel_type") == "Wife").select(
        F.col("src").alias("family"), F.col("dst").alias("wife")
    )
    return h.join(w, "family").select("husband", "wife", "family")


def siblings(edges: DataFrame) -> DataFrame:
    """(person_a, person_b) sharing a family they are children of."""
    fam_child = edges.filter(F.col("rel_type") == "Child").select(
        F.col("src").alias("family"), F.col("dst").alias("child")
    )
    a, b = fam_child.alias("a"), fam_child.alias("b")
    return (
        a.join(
            b,
            (F.col("a.family") == F.col("b.family"))
            & (F.col("a.child") < F.col("b.child")),
        )
        .select(
            F.col("a.child").alias("person_a"), F.col("b.child").alias("person_b")
        )
        .distinct()
    )


def _bfs(edges: DataFrame, up: bool, col: str, max_depth: int) -> DataFrame:
    """(person, <col>, depth) over parent links, upward or downward."""
    src, dst = ("child", "parent") if up else ("parent", "child")
    link = parents_of(edges).select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()
    first = link.select(
        F.col("src").alias("person"), F.col("dst").alias(col), F.lit(1).alias("depth")
    )
    return reach(first, link, ("person", col), max_depth)


def ancestors(edges: DataFrame, max_depth: int = 10) -> DataFrame:
    """(person, ancestor, depth): every ancestor within ``max_depth``
    generations, once, at its nearest depth."""
    return _bfs(edges, True, "ancestor", max_depth)


def descendants(edges: DataFrame, max_depth: int = 10) -> DataFrame:
    """(person, descendant, depth): ``ancestors`` walked downward."""
    return _bfs(edges, False, "descendant", max_depth)


def connected_components(edges: DataFrame) -> DataFrame:
    """(id, component): each node labelled with the minimum node id in
    its component, edges taken as undirected."""
    return components(edges.select("src", "dst"))
