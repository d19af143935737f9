"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q
"""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_same_seed_same_inputs():
    a, b = gen.pedigree(7, 600), gen.pedigree(7, 600)
    assert a.text.encode() == b.text.encode() and a.truth == b.truth
    assert gen.pedigree(8, 600).text != a.text
    c1, c2 = gen.corpus(7, 300), gen.corpus(7, 300)
    assert (c1.doc_ids, c1.texts, c1.planted) == (c2.doc_ids, c2.texts, c2.planted)
    assert gen.corpus(8, 300).texts != c1.texts
    e1, e2 = gen.embeddings(7, 500, 20), gen.embeddings(7, 500, 20)
    assert e1.vectors.tobytes() == e2.vectors.tobytes()
    assert np.array_equal(e1.topk_ids, e2.topk_ids)


def test_pedigree_covers_the_audit_cases():
    truth = gen.pedigree(5, 3000).truth
    assert truth["unused_tags"] == [gen.UNKNOWN_LEAF, gen.UNKNOWN_SUBTREE]
    assert set(truth["missing_temple_codes"]) <= set(gen.TEMPLES_MISS)
    assert truth["missing_temple_codes"] and truth["skipped_records"] >= 1
    assert all(truth["ancestor_pairs_by_depth"])


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from node_gedcom_graph_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "1g"})
    yield s
    s.stop()


def test_generated_edges_are_what_extract_graph_produces(spark, tmp_path):
    """read_path queries the generator's edges instead of importing the
    tree; they must be exactly the import's edges."""
    from node_gedcom_graph_spark.gedcom.extract import extract_graph
    from node_gedcom_graph_spark.gedcom.parser import assign_records, read_gedcom_lines

    tree = gen.pedigree(11, 400)
    path = tmp_path / "tree.ged"
    path.write_text(tree.text)
    g = extract_graph(assign_records(read_gedcom_lines(spark, str(path))))
    assert sorted(tuple(r) for r in g.edges.collect()) == sorted(tree.edges)


def test_small_seed_end_to_end_has_no_errors(tmp_path):
    """Every workload at a small size: all checks pass, error_rate is 0,
    and the last stdout line is the result object."""
    checkout = tmp_path / "checkout"
    shutil.copytree(HERE, checkout / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copytree(os.path.join(ROOT, "node_gedcom_graph_spark"),
                    checkout / "node_gedcom_graph_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--seed", "3",
         "--seconds", "1", "--scale", "0.05"],
        cwd=checkout, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    for name in ("gedcom_import", "read_path"):
        assert result["metrics"][f"{name}.error_rate"]["value"] == 0
    assert result["metrics"]["dedup_recall"]["value"] >= 0.95
    assert not (checkout / ".perfbench_work").exists()


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "gedcom_import",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
