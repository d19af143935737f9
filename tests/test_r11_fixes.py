"""Equivalence pins for the round-11 optimizations.

Each rewrite this round must keep its query's declared results
bit-identical; these tests pin the structural equivalences directly
(the oracle gates at sf0.001/0.01/0.1 are the end-to-end check)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ties_fixture(spark):
    """3 types x 400 rows with 3-way ts ties, a large mid-series jump
    (empty buckets), and m spacing chosen so a 200ms bucket holds ~12
    rows — most rows are head rows needing the fix-up branch."""
    rows = []
    for t in range(3):
        for i in range(400):
            m = (i // 3) * 50_000 + (7_000_000_000 if i >= 300 else 0)
            rows.append((f"t{t}", m, i * 10 + t, float((i * 37 + t) % 91)))
    return spark.createDataFrame(
        rows, "event_type string, m long, eid long, value double"
    )


def test_bucketed_lags_equal_global_window(spark):
    """r11 rewrite pin: the bucketed lag frame (parallel per-(type,
    bucket) windows + head/tail fix-up branch) produces exactly the
    global per-type window's lag values, on a fixture with ties, tiny
    buckets (most rows in the fix-up branch) and empty buckets."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from node_gedcom_graph_spark.operators.distribution import (
        _bucketed_lag_values,
    )

    df = _ties_fixture(spark)
    n_lags = 7
    got = _rows(
        _bucketed_lag_values(df, n_lags, bucket_micros=200_000)
    )

    wg = W.partitionBy("event_type").orderBy("m", "eid")
    want = _rows(
        df.select(
            "event_type",
            "m",
            "eid",
            "value",
            *[
                F.lag("value", j).over(wg).alias(f"x{j}")
                for j in range(n_lags + 1)
            ],
        )
    )
    assert got == want and len(got) == 1200


def test_bucketed_lags_equal_global_window_wide_bucket(spark):
    """Degenerate case: one bucket per type (bucket wider than the
    whole span) must reduce to the global window exactly."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from node_gedcom_graph_spark.operators.distribution import (
        _bucketed_lag_values,
    )

    df = _ties_fixture(spark)
    got = _rows(
        _bucketed_lag_values(df, 7, bucket_micros=10**13)
    )
    wg = W.partitionBy("event_type").orderBy("m", "eid")
    want = _rows(
        df.select(
            "event_type",
            "m",
            "eid",
            "value",
            *[F.lag("value", j).over(wg).alias(f"x{j}") for j in range(8)],
        )
    )
    assert got == want


def test_bucketed_gaps_equal_global_window(spark):
    """r11 rewrite pin: the bucketed gap decomposition (within-bucket
    window gaps + min/max-summary boundary gaps) yields the same
    per-type gap multiset as the global per-type window."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from node_gedcom_graph_spark.operators.distribution import (
        _bucketed_gap_values,
    )

    df = _ties_fixture(spark).select("event_type", "m")
    got = _rows(_bucketed_gap_values(df, bucket_micros=200_000))

    wg = W.partitionBy("event_type").orderBy("m")
    want = _rows(
        df.select(
            "event_type",
            (
                (F.col("m") - F.lag("m").over(wg)) / F.lit(1e6)
            ).alias("gap_s"),
        ).filter(F.col("gap_s").isNotNull())
    )
    assert got == want and len(got) == 1197


def test_incremental_base_state_served_equals_unserved(spark, monkeypatch):
    """r11 rewrite pin: copurchase_edges_incremental with the base
    pair-count state served from the per-fixture materialization is
    row- and bit-identical to the self-contained build path."""
    import shutil

    from node_gedcom_graph_spark.operators import graphalgo
    from node_gedcom_graph_spark.operators.graphalgo import (
        copurchase_edges_incremental,
    )

    import tempfile

    d = tempfile.mkdtemp(prefix="incr_cache_")
    monkeypatch.setattr(graphalgo, "_EDGE_CACHE_ROOT", d)
    try:
        monkeypatch.delenv("NGG_EDGE_CACHE", raising=False)
        served_cold = _rows(copurchase_edges_incremental(spark, SF_DIR))
        served_warm = _rows(copurchase_edges_incremental(spark, SF_DIR))
        monkeypatch.setenv("NGG_EDGE_CACHE", "0")
        unserved = _rows(copurchase_edges_incremental(spark, SF_DIR))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert served_cold == served_warm == unserved and len(unserved) > 0


def test_ewma_fir_equals_naive_global_window(spark):
    """r11 rewrite pin: events_ewma_fir (bucketed lags) equals the naive
    single-partition-per-type window form on the gate fixture."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from node_gedcom_graph_spark.operators.distribution import (
        EWMA_ALPHA,
        EWMA_SPIKE_TH,
        EWMA_TAPS,
        events_ewma_fir,
    )
    from node_gedcom_graph_spark.sources.tables import load_table

    got = _rows(events_ewma_fir(spark, SF_DIR))

    events = load_table(spark, SF_DIR, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    lag_cols = [
        F.lag("value", j).over(w).alias(f"x{j}") for j in range(EWMA_TAPS)
    ]
    lagged = events.select("event_type", "value", *lag_cols).filter(
        F.col(f"x{EWMA_TAPS - 1}").isNotNull()
    )
    weights = [EWMA_ALPHA * (1 - EWMA_ALPHA) ** j for j in range(EWMA_TAPS)]
    num = None
    for j, wj in enumerate(weights):
        term = F.col(f"x{j}") * F.lit(wj)
        num = term if num is None else num + term
    fir = num / F.lit(sum(weights))
    resid = F.abs(F.col("value") - fir)
    want = _rows(
        lagged.select("event_type", resid.alias("resid"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_smoothed"),
            F.round(F.avg("resid"), 6).alias("mean_abs_resid"),
            F.round(F.max("resid"), 6).alias("max_abs_resid"),
            F.sum(
                F.when(
                    F.round(F.col("resid") - EWMA_SPIKE_TH, 9) > 0, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_spikes"),
        )
    )
    assert got == want and len(got) == 5
