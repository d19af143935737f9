"""SparkSession factory with engine defaults.

Defaults are chosen for correctness-vs-DuckDB comparison (UTC session
timezone, NTZ parquet inference) and for scale (AQE on, skew-join
handling, Arrow transfers for the pandas-UDF slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that must be set for the engine's semantics to hold. Keys are
# plain Spark confs; all public.
ENGINE_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics; DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # The events table carries TIMESTAMP(NANOS) which vanilla Spark
    # refuses to read; read as raw nanos and convert (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas-UDF / toPandas transfers.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow-batched UDTF evaluation: without it Python UDTFs fall back
    # to row-at-a-time pickle transfer (BatchEvalPythonUDTF); with it
    # the plan shows ArrowEvalPythonUDTF (same semantics, columnar
    # transfer) — the only Python-UDTF surface is sentence splitting.
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Let Python data sources (sources/gedcom_datasource.py) absorb
    # filters via pushFilters — off by default in Spark 4.1.
    "spark.sql.python.filterPushdown.enabled": "true",
    # InferFiltersFromGenerate adds size(e)>0/isnotnull(e) under every
    # explode; predicate pushdown then inlines the generator's whole
    # child expression into a pre-codegen Filter at the scan. For
    # computed arrays (shingles, token arrays — every explode in this
    # engine) that re-runs the array-building expression per element
    # reference: measured 14x slowdown on the MinHash pipeline. The rule
    # only ever helps when the exploded column is a bare scan attribute,
    # which never occurs here, so exclude it engine-wide.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def get_spark(
    app_name: str = "node-gedcom-graph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the same entry points serve tests, bench, and a real
    cluster (where ``master`` is supplied by spark-submit and this arg is
    left None with an existing session).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and os.environ.get("SPARK_GRAFT_CPUS"):
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
        if master.startswith("local"):
            # In local mode the driver JVM IS the executor; Spark's 1g
            # default heap makes 32 concurrent tasks GC-thrash (and OOM
            # outright on larger persists). Static conf — only applies
            # when this builder launches the JVM. Overridable via env.
            builder = builder.config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
            )
    # Static conf (builder-time only — cannot go in ENGINE_CONFS, which
    # is also applied to externally-created sessions via spark.conf.set):
    # the whole-stage-codegen class cache holds 100 entries by default.
    # This engine's largest plans (the GEDCOM window/pivot stack)
    # generate classes that a mixed workload evicts between runs,
    # re-paying ~1-2 s of janino compilation per query — observed
    # directly in bench.py as a 2x swing on the GEDCOM pipeline when it
    # runs after nine other queries. A production
    # engine serving many concurrent query shapes wants this cache sized
    # to its working set, not to a 100-entry default.
    builder = builder.config("spark.sql.codegen.cache.maxEntries", "2000")
    # Static conf too: C1-only JIT. On a fresh JVM a 3k-person import
    # (0.57 MB GEDCOM, 4 vCPU) spent ~20 of ~44 s of JVM CPU in the C2
    # compiler threads, compiling code the run then barely used. With
    # C1 only it uses ~19 s in all, and its wall time falls ~14%. The
    # trade-off turns with input size: at 5.8 MB CPU still falls ~25%
    # but wall time rises 4-12%, and at 19 MB C2's faster code pays for
    # its compile (C1 costs ~9% more CPU and ~20% more wall time). Long
    # batch imports should put -XX:TieredStopAtLevel=4 in
    # spark.driver.extraJavaOptions: Spark appends those after these
    # defaults, and HotSpot keeps the last.
    builder = builder.config(
        "spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1"
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Set the engine's dynamic confs on an externally-created session.

    The driver harness hands us its own SparkSession; every conf in
    ENGINE_CONFS is dynamic (SQL-layer), so applying them here is enough
    for correct reads of the test tables.
    """
    for k, v in ENGINE_CONFS.items():
        spark.conf.set(k, v)
    return spark
