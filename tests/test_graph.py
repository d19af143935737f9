"""Graph-layer tests over multi-generation GEDCOM fixtures."""

import pytest

from node_gedcom_graph_spark.gedcom.extract import extract_graph
from node_gedcom_graph_spark.gedcom.parser import assign_records, lines_from_string
from node_gedcom_graph_spark.graph.queries import (
    ancestors,
    children_of,
    connected_components,
    descendants,
    parents_of,
    siblings,
    spouses,
)

THREE_GEN = """\
0 @G1@ INDI
1 FAMS @FG@
0 @G2@ INDI
1 FAMS @FG@
0 @I1@ INDI
1 FAMC @FG@
1 FAMS @F1@
0 @I2@ INDI
1 FAMS @F1@
0 @I3@ INDI
1 FAMC @F1@
0 @I4@ INDI
1 FAMC @F1@
0 @FG@ FAM
1 HUSB @G1@
1 WIFE @G2@
1 CHIL @I1@
0 @F1@ FAM
1 HUSB @I1@
1 WIFE @I2@
1 CHIL @I3@
1 CHIL @I4@
0 @Z1@ INDI
1 FAMS @FZ@
0 @FZ@ FAM
1 HUSB @Z1@
"""


@pytest.fixture(scope="module")
def edges(spark):
    lines = assign_records(lines_from_string(spark, THREE_GEN, n_partitions=2))
    return extract_graph(lines).edges.cache()


def test_parents(edges):
    got = {(r.child, r.parent) for r in parents_of(edges).collect()}
    assert got == {("I1", "G1"), ("I1", "G2"), ("I3", "I1"), ("I3", "I2"),
                   ("I4", "I1"), ("I4", "I2")}


def test_children(edges):
    got = {(r.parent, r.child) for r in children_of(edges).collect()}
    assert ("I1", "I3") in got and ("G1", "I1") in got and ("I2", "I4") in got


def test_spouses(edges):
    got = {(r.husband, r.wife) for r in spouses(edges).collect()}
    assert got == {("G1", "G2"), ("I1", "I2")}


def test_siblings(edges):
    got = {(r.person_a, r.person_b) for r in siblings(edges).collect()}
    assert got == {("I3", "I4")}


def test_ancestors_bfs_depth(edges):
    got = {(r.person, r.ancestor): r.depth for r in ancestors(edges).collect()}
    assert got[("I3", "I1")] == 1
    assert got[("I3", "G1")] == 2  # grandparent found at depth 2
    assert got[("I4", "G2")] == 2
    assert got[("I1", "G1")] == 1
    assert ("I3", "Z1") not in got  # other component never reached


def test_connected_components_two_clusters(edges):
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    main = {comp[x] for x in ("G1", "G2", "I1", "I2", "I3", "I4", "FG", "F1")}
    other = {comp[x] for x in ("Z1", "FZ")}
    assert len(main) == 1 and len(other) == 1 and main != other


def test_descendants_rows(edges):
    got = {(r.person, r.descendant, r.depth) for r in descendants(edges).collect()}
    assert got == {
        ("G1", "I1", 1), ("G2", "I1", 1),
        ("I1", "I3", 1), ("I1", "I4", 1), ("I2", "I3", 1), ("I2", "I4", 1),
        ("G1", "I3", 2), ("G1", "I4", 2), ("G2", "I3", 2), ("G2", "I4", 2),
    }


# Pedigree collapse: X is P's grandfather through A and great-grandfather
# through B -> C, so X is reachable from P at depth 2 and at depth 3.
COLLAPSE = """\
0 @P@ INDI
1 FAMC @F1@
0 @A@ INDI
1 FAMS @F1@
1 FAMC @F2@
0 @B@ INDI
1 FAMS @F1@
1 FAMC @F3@
0 @C@ INDI
1 FAMS @F3@
1 FAMC @F4@
0 @X@ INDI
1 FAMS @F2@
1 FAMS @F4@
0 @F1@ FAM
1 HUSB @A@
1 WIFE @B@
1 CHIL @P@
0 @F2@ FAM
1 HUSB @X@
1 CHIL @A@
0 @F3@ FAM
1 HUSB @C@
1 CHIL @B@
0 @F4@ FAM
1 HUSB @X@
1 CHIL @C@
"""


def _edges_of(spark, gedcom):
    lines = assign_records(lines_from_string(spark, gedcom, n_partitions=2))
    return extract_graph(lines).edges


def test_pedigree_collapse_keeps_min_depth(spark):
    e = _edges_of(spark, COLLAPSE)
    anc = [(r.person, r.ancestor, r.depth) for r in ancestors(e).collect()]
    assert sorted(a for a in anc if a[0] == "P") == [
        ("P", "A", 1), ("P", "B", 1), ("P", "C", 2), ("P", "X", 2),
    ]
    assert len(anc) == len(set((p, a) for p, a, _ in anc))
    desc = [(r.person, r.descendant, r.depth) for r in descendants(e).collect()]
    assert sorted(d for d in desc if d[0] == "X") == [
        ("X", "A", 1), ("X", "B", 2), ("X", "C", 1), ("X", "P", 2),
    ]
    assert len(desc) == len(set((p, d) for p, d, _ in desc))


def _chain_gedcom(generations):
    """A single line of descent: person k is the only child of person
    k+1's family, for ``generations`` families (2 * generations + 1
    nodes in one path-shaped component)."""
    out = []
    for k in range(generations + 1):
        out.append(f"0 @I{k:02d}@ INDI")
        if k:
            out.append(f"1 FAMS @F{k:02d}@")
        if k < generations:
            out.append(f"1 FAMC @F{k + 1:02d}@")
    for k in range(1, generations + 1):
        out += [f"0 @F{k:02d}@ FAM", f"1 HUSB @I{k:02d}@", f"1 CHIL @I{k - 1:02d}@"]
    return "\n".join(out) + "\n"


def test_connected_components_long_chain_converges(spark):
    e = _edges_of(spark, _chain_gedcom(30))
    comp = {r.id: r.component for r in connected_components(e).collect()}
    assert len(comp) == 61
    assert set(comp.values()) == {min(comp)}


def _storage_entries(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_traversals_free_their_blocks(spark, edges, monkeypatch):
    edges.count()  # materialize the fixture's own cache first
    kept = []
    for fn in (ancestors, descendants, connected_components):
        before = _storage_entries(spark)
        kept.append(fn(edges))
        assert _storage_entries(spark) <= before + 1, fn.__name__

    from node_gedcom_graph_spark.graph import traverse

    monkeypatch.setattr(traverse, "MAX_ROUNDS", 1)
    before = _storage_entries(spark)
    with pytest.raises(RuntimeError):
        connected_components(edges)
    assert _storage_entries(spark) <= before


def _synth_lineitem(tmp_path, pairs):
    """Write a minimal lineitem.parquet whose co-purchase graph (weight
    >= 2 canonical edges) is exactly `pairs` — each pair appears in two
    distinct orders."""
    import pandas as pd

    rows = []
    order = 0
    for a, b in pairs:
        for _ in range(2):  # weight-2 threshold
            rows.append((order, a))
            rows.append((order, b))
            order += 1
    pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"]).to_parquet(
        tmp_path / "lineitem.parquet"
    )
    return str(tmp_path)


def test_label_propagation_min_tiebreak_converges(spark, tmp_path):
    """Hand-computed 3-iteration LPA on a triangle + pendant:
    edges 1-2, 2-3, 1-3, 3-4. Iteration 1 exercises the min-label
    tie-break (node 1 sees {2,3} one vote each -> takes 2); by
    iteration 3 every node has converged to community 1."""
    from node_gedcom_graph_spark.operators.graphalgo import (
        copurchase_label_propagation_3iter,
    )

    sf_dir = _synth_lineitem(tmp_path, [(1, 2), (2, 3), (1, 3), (3, 4)])
    got = {
        r.p_partkey: r.community
        for r in copurchase_label_propagation_3iter(spark, sf_dir).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_bfs_2hop_min_distance(spark, tmp_path):
    """Path 500-1-2-3 seeded at 500 (the mod-500 seed rule): node 1 at
    distance 1, node 2 at distance 2, node 3 unreached within 2 hops,
    and the seed itself excluded."""
    from node_gedcom_graph_spark.operators.graphalgo import copurchase_bfs_2hop

    sf_dir = _synth_lineitem(tmp_path, [(500, 1), (1, 2), (2, 3)])
    got = {
        (r.seed, r.node): r.dist
        for r in copurchase_bfs_2hop(spark, sf_dir).collect()
    }
    assert got == {(500, 1): 1, (500, 2): 2}


def _copurchase_edge_set():
    """Pure-Python co-purchase edges (pa<pb, weight>=2) from parquet."""
    from collections import Counter
    from itertools import combinations

    import pandas as pd

    li = pd.read_parquet("/root/testdata/sf0.001/lineitem.parquet")
    per_order = li.groupby("l_orderkey")["l_partkey"].apply(
        lambda s: sorted(set(s))
    )
    pair_w = Counter()
    for parts in per_order:
        for a, b in combinations(parts, 2):
            pair_w[(a, b)] += 1
    return {p for p, w in pair_w.items() if w >= 2}


def test_degree_powerlaw_matches_pure_python(spark):
    import math
    from collections import Counter

    from node_gedcom_graph_spark.operators.graphalgo import (
        copurchase_degree_powerlaw,
    )

    row = copurchase_degree_powerlaw(spark, "/root/testdata/sf0.001").collect()[0]
    edges = _copurchase_edge_set()
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    n = len(deg)
    assert row["n_nodes"] == n
    assert row["n_edges"] == len(edges)
    assert abs(row["mean_degree"] - sum(deg.values()) / n) < 1e-6
    assert row["max_degree"] == max(deg.values())
    alpha = 1.0 + n / sum(math.log(d / 0.5) for d in deg.values())
    assert abs(row["alpha_mle"] - alpha) < 1e-6


def test_assortativity_matches_numpy(spark):
    from collections import Counter

    import numpy as np

    from node_gedcom_graph_spark.operators.graphalgo import (
        copurchase_assortativity,
    )

    row = copurchase_assortativity(spark, "/root/testdata/sf0.001").collect()[0]
    edges = _copurchase_edge_set()
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    assert row["n_edges"] == len(edges)
    assert abs(row["assortativity"] - np.corrcoef(xs, ys)[0, 1]) < 1e-6


def test_global_clustering_matches_pure_python(spark):
    from collections import Counter, defaultdict

    from node_gedcom_graph_spark.operators.graphalgo import (
        copurchase_clustering_global,
    )

    row = copurchase_clustering_global(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    edges = _copurchase_edge_set()
    adj = defaultdict(set)
    deg = Counter()
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
        deg[a] += 1
        deg[b] += 1
    tri = 0
    for a, b in edges:
        if a < b:
            tri += len(adj[a] & adj[b] - {a, b})
    tri //= 3
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    assert row["n_triangles"] == tri
    assert row["n_wedges"] == wedges
    if wedges:
        assert abs(row["global_clustering"] - 3 * tri / wedges) < 1e-6
