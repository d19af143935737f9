"""Round-8 fix pins.

1. curation_funnel_report keeps punctuation-only documents (zero
   alphanumeric tokens) as candidates — the tokstats join is LEFT, so
   the Spark side matches the oracle's len(toks)=0 rows.
2. decontaminate_ngram_bloom caps the benchmark set BEFORE the driver
   collect: a set over BLOOM_MAX_ITEMS must never reach toPandas().
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from node_gedcom_graph_spark.operators import llmprep4
from node_gedcom_graph_spark.operators.llmprep4 import (
    curation_funnel_report,
    decontaminate_ngram_bloom,
)
from tests.conftest import SF_DIR

LONG = "the quick brown fox jumps over the lazy dog again and again ok"


@pytest.fixture(scope="module")
def punct_sf_dir(tmp_path_factory):
    """A tiny sf dir whose corpus contains a punctuation-only doc."""
    d = tmp_path_factory.mktemp("punct_sf")
    rows = [
        (1, LONG, "en", "src1"),
        (2, "!!! ??? *** ---", "en", "src1"),  # length>0, zero tokens
        (3, LONG + " extra words here for variety", "en", "src2"),
        (4, "held out benchmark text with many distinct words", "en", "src0"),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def test_funnel_keeps_zero_token_docs(spark, punct_sf_dir):
    rows = {r.source: r for r in curation_funnel_report(spark, punct_sf_dir).collect()}
    # Both src1 docs are candidates; the punctuation-only one fails
    # quality but is COUNTED (inner join used to drop it entirely).
    assert rows["src1"].n_candidates == 2
    assert rows["src1"].n_pass_quality == 1
    # Full oracle agreement on the punctuation-bearing corpus.
    from node_gedcom_graph_spark.operators import all_oracles

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{punct_sf_dir}/documents.parquet')"
    )
    oracle = {
        r[0]: r
        for r in con.execute(all_oracles()["curation_funnel_report"]).fetchall()
    }
    assert set(rows) == set(oracle)
    for src, r in rows.items():
        assert (
            r.n_candidates,
            r.n_pass_quality,
            r.n_pass_classifier,
            r.n_pass_decontam,
            r.n_kept,
            r.kept_tokens,
        ) == tuple(oracle[src][1:]), src


def _poison_topandas(monkeypatch):
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):  # pragma: no cover - failure is the assert
        raise AssertionError("driver collect reached despite over-cap benchmark set")

    monkeypatch.setattr(DataFrame, "toPandas", boom)


def test_bloom_over_cap_never_reaches_driver(spark, monkeypatch):
    baseline = {
        (r.doc_id, r.n_hits)
        for r in decontaminate_ngram_bloom(spark, SF_DIR).collect()
    }
    assert baseline  # sf0.001 has real contamination
    monkeypatch.setattr(llmprep4, "BLOOM_MAX_ITEMS", 1)
    _poison_topandas(monkeypatch)
    capped = {
        (r.doc_id, r.n_hits)
        for r in decontaminate_ngram_bloom(spark, SF_DIR).collect()
    }
    assert capped == baseline


def test_gate_artifacts_self_consistent():
    """Every committed gate artifact's summary equals its row census
    (r7's shipped 279/289 against 282/292 rows — a partial-run merge
    that skipped the summary; the lint makes that class impossible to
    re-commit)."""
    import glob
    import json
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from verify_local import lint_artifact

    paths = sorted(
        glob.glob(os.path.join(repo, "GATE_SF01_r*.json"))
        + glob.glob(os.path.join(repo, "GATE_SYNTH_SF1_r*.json"))
    )
    assert paths
    stale = {
        os.path.basename(p): errs
        for p in paths
        if (errs := lint_artifact(json.load(open(p))))
    }
    assert stale == {}
