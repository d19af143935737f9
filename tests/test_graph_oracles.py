"""Registry queries that run on the traversal kernels, checked against
their DuckDB oracles at sf0.01: same columns, same rows in any order
(floats rounded to 6 dp), and at least the declared vacuity floor."""

from __future__ import annotations

import os
from collections import Counter

import duckdb
import pytest

import __spark_entry__ as ent
from tests.conftest import SF_DIR as SF0001_DIR
from tools.verify_local import TABLES, _norm_cell

SF_DIR = os.path.join(os.path.dirname(SF0001_DIR), "sf0.01")

QUERIES = (
    "copurchase_cc_converged",
    "copurchase_bfs_converged",
    "copurchase_harmonic_centrality_seeds",
    "gedcom_graph_components",
    "gedcom_graph_ancestors",
    "gedcom_graph_descendants",
    "dedup_cluster_canonical",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm_cell(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", QUERIES)
def test_matches_oracle(spark, duck, name):
    sdf = ent.queries()[name](spark, SF_DIR)
    got = [tuple(r) for r in sdf.collect()]
    assert len(got) >= ent.expected_rows()[name]
    res = duck.execute(ent.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(ocols)
    assert _rows(sdf.columns, got) == _rows(ocols, res.fetchall())
