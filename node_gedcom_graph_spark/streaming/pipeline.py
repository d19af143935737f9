"""Structured Streaming surface.

The reference *is* a streaming pipeline mechanically (single-pass
backpressured Node pipes) but has no event-time semantics (SURVEY §2.1);
the engine provides both:

- the pipeline analog: ``stream_gedcom_pipeline`` — files-source text
  stream -> per-batch GEDCOM extraction -> exactly-once parquet sink via
  foreachBatch (the reference's end-of-stream barrier becomes the
  micro-batch epoch).
- real event-time processing over the events table: watermarked tumbling
  windows, session windows, streaming distinct (the op-17 accumulators
  as a live stream).

All queries run identically under ``availableNow`` (batch-drain, used in
tests) and continuous triggers.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_gedcom_graph_spark.session import apply_engine_confs

log = logging.getLogger(__name__)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the same nanos->micros
    normalization as the batch loader (streams need an explicit schema,
    taken from a batch peek of the same path)."""
    apply_engine_confs(spark)
    base = sf_dir.rstrip("/")
    schema = spark.read.parquet(f"{base}/events.parquet").schema
    # File sources stream a *directory*; glob-filter to the events table.
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(base)
    )
    # Watermarks require an event-time column of TIMESTAMP type (the
    # batch loader keeps NTZ for DuckDB parity; under the UTC session
    # timezone the cast is a pure reinterpretation — same instants).
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def stream_windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the
    watermark are dropped, state is evicted per window close."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (dynamic-gap state) per user — the streaming twin
    of operators.relational.sessionize_user_events."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def stream_distinct_event_types(events: DataFrame) -> DataFrame:
    """Streaming distinct-set accumulator (reference op 17 as a stream):
    state = one row per distinct key, exactly the reference's in-memory
    set, but partitioned and fault-tolerant."""
    return events.select("event_type").dropDuplicates(["event_type"])


def stream_gedcom_pipeline(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """The reference pipeline as a file-watching stream: GEDCOM files
    dropped into ``in_dir`` are parsed, extracted, and appended to
    nodes/edges parquet under ``out_dir``.

    foreachBatch gives the end-of-batch barrier the reference implements
    by hand (csv_writer.js:91-107); checkpointing makes the sink
    effectively exactly-once across restarts. The stream scans the same
    record-delimited chunks as a batch read, and each micro-batch goes
    through the batch chunks -> lines path (a GEDCOM file never
    straddles batches with the files source, mirroring the reference's
    one-file-per-run contract), so ``record_seq`` and ``line_no`` are
    numbered per batch.
    Returns the StreamingQuery; callers stop it or drain with
    availableNow.
    """
    from node_gedcom_graph_spark.gedcom.extract import extract_graph
    from node_gedcom_graph_spark.gedcom.parser import lines_from_chunks, scan_chunks

    apply_engine_confs(spark)
    raw = scan_chunks(spark.readStream, in_dir)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        g = extract_graph(lines_from_chunks(batch_df))
        g.nodes_long.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            f"{out_dir}/nodes"
        )
        g.edges.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            f"{out_dir}/edges"
        )

    return (
        raw.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_user_stats_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful per-user aggregation via applyInPandasWithState —
    the escape hatch for operators the built-in streaming aggs can't
    express (here: running count + running value total + last seen
    event-time, emitted as an updated row per user per micro-batch).

    State is one small tuple per user key, Arrow-transferred; the
    framework shuffles by key, so state for a user lives on exactly one
    executor — the 100 TB path is horizontal partitioning of the key
    space, identical to built-in streaming aggregation state.

    The running total is kept as INTEGER CENTS (half-away-from-zero per
    row, the same rounding as a CAST to DECIMAL(18,2) on Spark or
    DuckDB) so the emitted double is bit-identical to
    ``CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)`` regardless of
    micro-batch arrival order — float accumulation would drift with
    batch boundaries and break the oracle hash gate.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total_cents", LongType()),
            StructField("last_us", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        n, total_cents, last_us = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            v = pdf["value"].fillna(0.0).to_numpy()
            # per-row half-away-from-zero cents == CAST(v AS DECIMAL(18,2))
            cents = np.sign(v) * np.floor(np.abs(v) * 100.0 + 0.5)
            total_cents += int(cents.sum())
            batch_max = pdf["ts"].max()
            if pd.notna(batch_max):
                last_us = max(last_us, int(batch_max.value // 1000))
        state.update((n, total_cents, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total_cents / 100.0],
                "last_ts": [pd.Timestamp(last_us * 1000)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (schema from a batch peek)."""
    apply_engine_confs(spark)
    base = sf_dir.rstrip("/")
    schema = spark.read.parquet(f"{base}/documents.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(base)
    )


def stream_dedup_exact(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup — the training-data-pipeline dedup operator
    as a continuous query: fingerprint each document, keep the first
    occurrence of each fingerprint across the whole stream.

    State is one row per distinct fingerprint (16-byte md5, not the
    text), partitioned by fingerprint — the same layout the batch
    groupBy uses, held incrementally. Unbounded without a watermark by
    design: dedup state is the product here; bound it per-deployment
    with ``withWatermark`` on an event-time column when the dedup window
    can be finite.
    """
    return docs.select(
        "doc_id", F.md5("text").alias("fingerprint")
    ).dropDuplicates(["fingerprint"])


def stream_dedup_minhash(
    docs: DataFrame,
    threshold: float = 0.35,
    watermark: str | None = None,
    retention_ms: int | None = None,
) -> DataFrame:
    """Streaming MinHash near-dup detection — the streaming twin of the
    batch ``operators.dedup.minhash_lsh_pairs`` (tests pin the two to
    the identical pair set on a multi-batch corpus).

    Shape: per-document 64-slot MinHash signature (the batch
    pipeline's ``with_minhash_signature``, per row) -> 16
    LSH band buckets per doc (same band/bucket hashing as batch, so the
    candidate space is identical) -> ``applyInPandasWithState`` keyed
    by (band, bucket). Bucket state holds (doc_id, shingle-hash set)
    for every member; a new arrival is verified against its bucket
    members with EXACT Jaccard on the hash sets, so emitted pairs carry
    the same jaccard the batch verify computes (xxhash64 collisions are
    the only divergence — negligible). Keyed state lives on exactly one
    executor per bucket; scale-out is the key space, like built-in
    streaming aggregation.

    A pair colliding in several bands is emitted once per band, always
    within the micro-batch where the later doc arrives — dedupe at the
    sink with a per-batch dropDuplicates (a second stateful operator in
    the same query is what Spark restricts, not the sink).

    State bounding (the watermark knob): pass ``watermark`` (docs must
    carry an event-time ``ts``) and ``retention_ms`` — a bucket's state
    is dropped once the watermark passes its newest member's ts +
    retention. Without it, state is the full signature index by design
    (dedup state IS the product), same contract as stream_dedup_exact.

    100 TB honesty: member shingle sets are duplicated across the 16
    band buckets (~16x the signature bytes). That is the price of
    bucket-local exact verification; the lean variant stores only the
    64-slot signature per member and emits estimated Jaccard
    (slot-agreement fraction, stderr ~1/sqrt(64)~0.12) — flip when
    state size dominates over verification exactness.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from node_gedcom_graph_spark.functions.scalar import tokens
    from node_gedcom_graph_spark.operators.dedup import (
        SHINGLE_K,
        lsh_band_buckets,
        shingle_hashes,
        shingles_from_tokens,
        with_minhash_signature,
    )

    has_ts = watermark is not None
    if has_ts:
        docs = docs.withWatermark("ts", watermark)
        if retention_ms is None:
            raise ValueError("watermark requires retention_ms")
    ts_cols = ["ts"] if has_ts else []

    # Staged projections: every higher-order function reads a
    # materialized attribute, never an inline expression (Spark does not
    # CSE subexpressions through HOF lambdas).
    toks = docs.select(
        "doc_id", *ts_cols, tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= SHINGLE_K)
    sh_stage = toks.select(
        "doc_id", *ts_cols, shingles_from_tokens(F.col("toks")).alias("shingles")
    ).select("doc_id", *ts_cols, shingle_hashes(F.col("shingles")).alias("sh"))
    # The batch pipeline's signature and band buckets, so the candidate
    # space is identical.
    banded = with_minhash_signature(sh_stage, "sh").select(
        "doc_id",
        *ts_cols,
        "sh",
        F.explode(lsh_band_buckets(F.col("sig"))).alias("bk"),
    ).select("doc_id", *ts_cols, "sh", "bk.band", "bk.bucket")

    out_schema = "doc_a long, doc_b long, jaccard double"
    state_schema = "ids array<long>, shs array<array<long>>"

    def _empty() -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "doc_a": pd.Series(dtype="int64"),
                "doc_b": pd.Series(dtype="int64"),
                "jaccard": pd.Series(dtype="float64"),
            }
        )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield _empty()
            return
        if state.exists:
            ids, shs = state.get
            members = [(int(i), set(int(v) for v in s)) for i, s in zip(ids, shs)]
        else:
            members = []
        known = {i for i, _ in members}
        arrivals = []
        max_ts_ms = None
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                arrivals.append((int(row.doc_id), set(int(v) for v in row.sh)))
                if has_ts and pd.notna(row.ts):
                    t = int(pd.Timestamp(row.ts).value // 1_000_000)
                    max_ts_ms = t if max_ts_ms is None else max(max_ts_ms, t)
        arrivals.sort(key=lambda t: t[0])
        out = []
        for doc_id, sset in arrivals:
            if doc_id in known:
                continue  # replayed micro-batch: state already has it
            for other_id, oset in members:
                inter = len(sset & oset)
                union = len(sset) + len(oset) - inter
                j = inter / union if union else 0.0
                if j >= threshold:
                    out.append(
                        (min(doc_id, other_id), max(doc_id, other_id), j)
                    )
            members.append((doc_id, sset))
            known.add(doc_id)
        state.update(
            ([i for i, _ in members], [sorted(s) for _, s in members])
        )
        if has_ts and max_ts_ms is not None:
            state.setTimeoutTimestamp(
                max(max_ts_ms + retention_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(out, columns=["doc_a", "doc_b", "jaccard"]) if out else _empty()

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if has_ts
            else GroupStateTimeout.NoTimeout
        ),
    )


def stream_stream_view_purchase_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join with watermarks: each purchase matched
    to the same user's view events from the preceding hour.

    Both sides carry a watermark so the join state is BOUNDED: a
    buffered view can be evicted once the purchase-side watermark passes
    view_ts + 1 hour (the time-range condition gives Spark the eviction
    bound — without it, stream-stream join state grows forever). This is
    the streaming twin of the batch as-of join
    (relational.asof_last_view_before_purchase), trading its exact
    "latest view" semantics for all-views-in-window with O(watermark
    horizon) keyed state per user.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") < F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "p_user", "purchase_ts", "view_id", "view_ts", "amount")


# ---------------------------------------------------------------------------
# Oracle-gated streaming query: the tumbling-window aggregation run as an
# actual Structured Streaming job (availableNow trigger), registered with
# the SAME DuckDB oracle as its batch twin — streaming correctness is
# hash-checked, not just rows-only.
# ---------------------------------------------------------------------------

from node_gedcom_graph_spark.operators import register as _register


@_register(
    "stream_event_time_tumbling_hourly",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_event_time_tumbling_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tumbling-window counts computed BY A STREAM: readStream over the
    events table, availableNow trigger (drain-and-stop), complete-mode
    memory sink, result returned as a batch DataFrame. Shares the batch
    twin's oracle (event_time_tumbling_hourly), so the streaming
    engine's windowed-aggregation state machine is value-hash-checked
    against DuckDB — most streaming surfaces only get rows-only checks.

    Complete mode is the gate-appropriate choice: no watermark, so zero
    rows can be dropped by late-data policy and the final state equals
    the batch aggregate by definition. The PRODUCTION shape for
    unbounded streams is stream_windowed_event_counts (watermarked,
    append, bounded state — tested for batch-equality separately);
    complete+memory is bounded here by the window-count cardinality,
    not the stream length. Decimal sums keep the aggregate
    order-independent across micro-batch boundaries.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            # batch parity: session TZ is UTC, so the NTZ cast is a pure
            # reinterpretation of the same instant.
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    # fixed sink name: the memory sink createOrReplaces the temp view,
    # so repeat invocations reuse one driver-side table instead of
    # accumulating a uuid-named copy per run.
    sink = "stream_tumbling_gate"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@_register(
    "stream_dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS fingerprint,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def stream_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup group table computed BY A STREAM (stateful grouped
    aggregation on the md5 fingerprint, availableNow drain, complete-
    mode memory sink), sharing the batch dedup_exact oracle shape minus
    n_sources (streaming aggregations don't support COUNT(DISTINCT);
    the batch query keeps it).

    State is one row per distinct fingerprint — identical layout to the
    incremental dropDuplicates dedup (stream_dedup_exact), but exposing
    the group statistics so the oracle can hash-check the streaming
    aggregation state machine end-to-end. MIN/COUNT are
    order-independent, so micro-batch arrival order cannot change the
    result.
    """
    docs = read_documents_stream(spark, sf_dir)
    agg = docs.groupBy(F.md5("text").alias("fingerprint")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    sink = "stream_dedup_gate"  # fixed name: see stream_tumbling_gate
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def stream_dedup_events_within_watermark(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "1 hour",
) -> DataFrame:
    """Event-stream dedup with TIME-BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps one row per business key
    among arrivals within the watermark delay of each other, and evicts
    key state once the watermark passes — so, unlike the unbounded
    ``dropDuplicates`` dedup (stream_dedup_exact, where state is the
    product), memory is bounded by keys-per-window regardless of stream
    length. The contract is exactly the at-least-once-source dedup
    guarantee: duplicates from retries/replays arrive close together,
    and a key legitimately recurring much later is a NEW observation.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


@_register(
    "stream_user_stats_stateful",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def stream_user_stats_stateful_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState per-user aggregator run as an ACTUAL
    streaming job (availableNow drain, update-mode memory sink) and
    hash-checked against the batch SQL aggregate — graduating the custom
    stateful operator from batch-equality-pinned to oracle-gated.

    Update mode emits one row per user per micro-batch that touched the
    user; the final state per user is the row with the highest running
    n_events (strictly increasing), selected with one MAX(struct) hash
    agg — no window sort. Totals are exact because the operator's state
    accumulates integer cents (see stream_user_stats_stateful); arrival
    order and batch boundaries cannot change any output bit.
    """
    events = read_events_stream(spark, sf_dir)
    sink = "stream_user_stats_gate"  # fixed name: see stream_tumbling_gate
    q = (
        stream_user_stats_stateful(events)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.max(F.struct("n_events", "total_value", "last_ts")).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.total_value").alias("total_value"),
            # batch parity: UTC session, so the NTZ cast reinterprets the
            # same instant.
            F.col("s.last_ts").cast("timestamp_ntz").alias("last_ts"),
        )
    )


@_register(
    "stream_view_purchase_hour_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id AS p_user,
           p.ts AS purchase_ts,
           v.event_id AS view_id,
           v.ts AS view_ts,
           p.value AS amount
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND v.event_type = 'view'
     AND v.ts < p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_view_purchase_hour_join_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The watermarked stream-stream join run as an ACTUAL streaming job
    (availableNow drain, append-mode memory sink) and hash-checked
    against the equivalent batch time-range join — graduating it from
    batch-equality-pinned to oracle-gated.

    Inner-join results are emitted as soon as both sides match, so the
    drained sink holds every matched pair; the watermark only bounds
    buffered state (and the drain arrives in one file-source batch, so
    no row can be late relative to a prior batch's watermark). Event
    timestamps carry no sub-microsecond component in this dataset, so
    the µs-truncated streaming timestamps compare identically to
    DuckDB's on the range boundaries.
    """
    events = read_events_stream(spark, sf_dir)
    sink = "stream_ss_join_gate"  # fixed name: see stream_tumbling_gate
    q = (
        stream_stream_view_purchase_join(events)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        "purchase_id",
        "p_user",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "view_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        "amount",
    )


@_register(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute inactivity gap) computed BY
    A STREAM: ``F.session_window`` merges an event's [ts, ts+30min)
    window into the user's open session whenever they overlap, exactly
    the gap-and-island sessionization the batch twin
    (sessionize_user_events) computes with LAG + running sum — so the
    streaming session-merge state machine is value-hash-checked against
    a DuckDB islands oracle, not just row-counted. The boundary
    convention is merge-at-exactly-gap (an event landing exactly 30:00
    after the last one EXTENDS the session; the islands oracle breaks
    strictly at > 30 min) — pinned by
    tests/test_tpch3.py::test_session_window_gap_boundary.

    Complete mode is the gate-appropriate choice (same argument as
    stream_event_time_tumbling_hourly): no watermark means no
    late-data drops, and the drained final state equals the batch
    sessionization by definition. The PRODUCTION shape for unbounded
    streams adds ``withWatermark`` so closed sessions evict; state is
    then one open session per active user, not per event.

    Scale: session_window aggregation shuffles once on user_id; window
    merging is per-key and incremental (sorted-merge within the state
    store), so a billion-user stream partitions cleanly by user hash.
    MIN/MAX/COUNT are arrival-order-independent, which is what makes
    the micro-batch boundary invisible in the result.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            # batch parity: UTC session TZ makes the NTZ cast a pure
            # reinterpretation (same instants as DuckDB's TIMESTAMP).
            F.col("session_window.start")
            .cast("timestamp_ntz")
            .alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    sink = "stream_session_gate"  # fixed name: see stream_tumbling_gate
    # RocksDB state store for THIS query (provider is read at stream
    # start; restored after the drain): session-window state is the
    # heaviest in the suite — per user, the pre-merge window list
    # within a batch — and the default HDFS-backed store keeps the
    # whole state map ON HEAP, which OOMed the 32 g local JVM at the
    # sf100 tier (100 M events, 1.5 M users at 1000x per-user density).
    # RocksDB holds state off-heap/on-disk with the same exact
    # semantics — the production choice for large-state streaming.
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)
    return spark.table(sink)


@_register(
    "stream_session_windows_production",
    min_rows=1,
)
def stream_session_windows_production(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION-SHAPE measurement twin of stream_session_windows (r8
    verdict item 3): watermarked session windows in APPEND mode drained
    to a distributed PARQUET sink — closed sessions evict from the
    RocksDB store and flow executor-side to files; the driver never
    materializes a row. This is the shape an unbounded deployment runs,
    and it is what the sf100 tier should measure: the gate twin's
    complete-mode memory-sink drain was paying a 95.5M-row driver
    materialization that graded the harness, not the operator.

    NO ORACLE, BY DESIGN (rows-only driver check): append mode emits
    only sessions CLOSED by the watermark (global max event time minus
    1 h), so the tail of still-open sessions is legitimately absent —
    the emitted-row total is still deterministic (append emits each
    session exactly once, when it closes; batch boundaries change only
    WHEN, never WHETHER — the availableNow no-data batch flushes every
    session the final watermark closes). Final-state equality is
    already oracle-gated by the complete-mode twin.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start")
            .cast("timestamp_ntz")
            .alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    spill = tempfile.mkdtemp(prefix="session_prod_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            agg.writeStream.format("parquet")
            .option("path", f"{spill}/data")
            .option("checkpointLocation", f"{spill}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)
    # Explicit schema: zero committed files leave only _spark_metadata,
    # where inference raises — pinned schema degrades to empty.
    return spark.read.schema(agg.schema).parquet(f"{spill}/data")


@_register(
    "stream_user_stats_production",
    min_rows=1,
)
def stream_user_stats_production(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PRODUCTION-SHAPE measurement twin of stream_user_stats_stateful
    (r8 verdict item 3): the applyInPandasWithState per-user aggregator
    in update mode drained through a foreachBatch NOOP write — each
    micro-batch's updated rows are consumed distributed, executor-side;
    the driver sees only scalar counters. The gate twin's update-mode
    memory sink accumulates every per-batch update row on the driver,
    which is a harness cost, not an operator cost.

    NO ORACLE, BY DESIGN (rows-only driver check): the per-batch update
    stream depends on micro-batch boundaries (one row per user PER
    BATCH that touched the user); final-state equality is already
    oracle-gated by stream_user_stats_stateful. Returns a one-row
    summary (rows_emitted, n_batches) with a stable schema.
    """
    events = read_events_stream(spark, sf_dir)
    totals = {"rows": 0, "batches": 0}

    def _drain(bdf: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Observation

        obs = Observation(f"user_stats_prod_{epoch_id}")
        bdf.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        totals["rows"] += obs.get["n"]
        totals["batches"] += 1

    spill = tempfile.mkdtemp(prefix="user_stats_prod_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    q = (
        stream_user_stats_stateful(events)
        .writeStream.foreachBatch(_drain)
        .outputMode("update")
        .option("checkpointLocation", f"{spill}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        [(int(totals["rows"]), int(totals["batches"]))],
        "rows_emitted long, n_batches long",
    )


@_register(
    "stream_static_enrich_segment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
    """,
)
def stream_static_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events STREAM joined to the static
    customer dimension (market segment), aggregated per segment — the
    canonical production shape for enriching a firehose with reference
    data, value-hash-checked against the equivalent batch join.

    Scale: a stream-static inner join needs NO stream-side state at all
    — each micro-batch joins against the static side independently
    (Spark re-plans the static side per batch, picking broadcast while
    the dim fits; at 100 TB-of-stream the static side is the ONLY
    memory cost, and a shuffled stream-static join remains stateless).
    The segment aggregate runs in complete mode (bounded by segment
    cardinality); decimal sums keep micro-batch arrival order out of
    the result.
    """
    from node_gedcom_graph_spark.sources.tables import load_table

    events = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        events.join(customer, events.user_id == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    sink = "stream_static_enrich_gate"  # fixed name: see stream_tumbling_gate
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


@_register(
    "stream_hypertable_rollup_daily",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS bucket_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hypertable_rollup_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The streaming half of the hypertable continuous aggregate: the
    HOURLY partial layer is maintained BY A STREAM (stateful windowed
    aggregation, availableNow drain, complete-mode memory sink), and
    the daily resolution is then derived by a batch merge OVER THE SINK
    — raw events only ever flow through the streaming hourly aggregate,
    exactly how a continuous aggregate serves coarser resolutions
    without rescanning the hypertable. Gated against DuckDB computing
    daily stats directly from raw events: hash equality proves the
    stream-maintained partials merge losslessly (decimal sums, min/max,
    counts are all order/batch-boundary independent).

    Scale: streaming state is one row per (event_type, hour) window —
    bounded by time span, not stream length; the batch merge reads
    |types| x |hours| rows. The production variant adds a watermark and
    append mode (see stream_windowed_event_counts) — complete+memory is
    the gate-appropriate drain (no late-data drops by construction).
    """
    events = read_events_stream(spark, sf_dir)
    hourly = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("sum_dec"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("window.start").alias("bucket_hour"),
            "event_type",
            "n_events",
            "sum_dec",
            "min_value",
            "max_value",
        )
    )
    sink = "stream_hypertable_gate"  # fixed name: see stream_tumbling_gate
    q = (
        hourly.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy(
            "event_type",
            F.to_date("bucket_hour").alias("bucket_day"),
        )
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .select(
            "event_type",
            "bucket_day",
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


def stream_user_stats_transform_with_state(events: DataFrame) -> DataFrame:
    """The Spark 4 ``transformWithStateInPandas`` spelling of the
    per-user running aggregator (stream_user_stats_stateful is the
    applyInPandasWithState spelling of the SAME semantics) — the
    successor API: named state variables on a handle (value/list/map
    state, optional TTL, timers) instead of one opaque state tuple.
    State layout and determinism are identical: (n, total_cents,
    last_us), integer cents per row so micro-batch boundaries cannot
    move any output bit.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", "n bigint, total_cents bigint, last_us bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np
            import pandas as pd

            prev = self._stats.get() if self._stats.exists() else None
            n, total_cents, last_us = prev if prev is not None else (0, 0, 0)
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                v = pdf["value"].fillna(0.0).to_numpy()
                cents = np.sign(v) * np.floor(np.abs(v) * 100.0 + 0.5)
                total_cents += int(cents.sum())
                batch_max = pdf["ts"].max()
                if pd.notna(batch_max):
                    last_us = max(last_us, int(batch_max.value // 1000))
            self._stats.update((n, total_cents, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total_cents / 100.0],
                    "last_ts": [pd.Timestamp(last_us * 1000)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=(
            "user_id bigint, n_events bigint, "
            "total_value double, last_ts timestamp"
        ),
        outputMode="Update",
        timeMode="None",
    )


def _tws_available() -> bool:
    """transformWithStateInPandas drives its state protocol over
    protobuf; this container ships pyspark without the google.protobuf
    dependency, so the gate query registers only where the import
    works (the operator itself is import-clean either way)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _register_tws(fn):
    if _tws_available():
        return _register(
            "stream_user_stats_transform_with_state",
            oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
        )(fn)
    return fn


@_register_tws
def stream_user_stats_tws_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas run as an ACTUAL streaming job
    (availableNow drain, update-mode memory sink), hash-checked against
    the same batch SQL oracle as its applyInPandasWithState twin — the
    8th oracle-gated streaming query, covering Spark 4's successor
    arbitrary-state API (named state variables; the migration target
    for every applyInPandasWithState operator in this repo).

    Final state per user = MAX(struct) over the update stream (n_events
    strictly increases), same selection as the twin's gate.
    """
    events = read_events_stream(spark, sf_dir)
    sink = "stream_user_stats_tws_gate"  # fixed name: see tumbling gate
    q = (
        stream_user_stats_transform_with_state(events)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(
            F.max(F.struct("n_events", "total_value", "last_ts")).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.total_value").alias("total_value"),
            F.col("s.last_ts").cast("timestamp_ntz").alias("last_ts"),
        )
    )


@_register(
    "stream_sliding_window_counts",
    oracle="""
    WITH contrib AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, value
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL 1 HOUR,
             event_type, value
      FROM events
    )
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM contrib
    GROUP BY 1, 2
    """,
)
def stream_sliding_window_counts_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SLIDING windows (2h duration, 1h slide) computed BY A STREAM —
    every event contributes to exactly two overlapping windows, the
    aggregation state the tumbling gate can't exercise. The oracle
    spells the overlap as a UNION ALL of the two hourly alignments
    (an event at t lands in the windows starting at trunc(t) and
    trunc(t)-1h); hash equality proves the streaming window-assignment
    and state merge across micro-batches. Complete-mode availableNow
    drain — the gate-appropriate shape (see stream_event_time_
    tumbling_hourly); decimal sums keep overlap totals order-independent.
    """
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    sink = "stream_sliding_gate"  # fixed name: see stream_tumbling_gate
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# Late-data watermark-drop gate: out-of-order arrival against a watermark
# with append-mode emission — the 10th streaming gate (round-3 verdict
# item 8), and the only one whose fixture deliberately REORDERS time.
# ---------------------------------------------------------------------------

LATE_WM_HOURS = 12
_LATE_FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".stream_fixtures",
)


def _arrival_files_per_batch(spark: SparkSession, *slice_counts: int) -> int:
    """File count P written for EVERY arrival slice of a replay fixture.

    The arrival fixtures force micro-batch composition through
    FileStreamSource's modification-time ordering plus
    ``maxFilesPerTrigger``. With one file per slice (the r3-r9 shape)
    the slice's entire scan/window/encode collapses into a single task
    (``coalesce(1)`` pulls the whole upstream into it) — measured at
    sf100 this left ``stream_dedup_within_watermark`` at 0.6 of 32
    cores for 292 s. Writing each slice as exactly P files and draining
    with ``maxFilesPerTrigger=P`` keeps batch i == slice i (identical
    watermark/state semantics, identical results) while the build AND
    the per-batch reads parallelize.

    P must be the SAME for every slice (the trigger option is one
    number), and ``repartition(P)`` emits one file per partition with
    rows distributed evenly — so P non-empty partitions (hence exactly
    P files) are guaranteed only when every slice has >= P rows. Cap P
    at the smallest slice: scale-adaptive (guide §2) — P rides
    defaultParallelism at the scaled tiers and degrades to the old
    single-file-per-slice fixture on tiny gate fixtures.
    """
    return max(1, min(spark.sparkContext.defaultParallelism, *slice_counts))


def _write_arrival_slice(
    df: DataFrame, n_files: int, tmp: str, data_dir: str, slice_idx: int
) -> None:
    """Write one arrival slice as exactly ``n_files`` parquet files with
    forced slice-major, strictly-increasing mtimes (FileStreamSource
    replays oldest-first; DISTINCT mtimes make the order total, so the
    P-file groups land in the same micro-batches as the old one-file
    slices)."""
    import glob as _glob

    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    parts = sorted(_glob.glob(os.path.join(tmp, "part-*.parquet")))
    if len(parts) != n_files:
        raise RuntimeError(
            f"arrival slice {slice_idx}: expected {n_files} part files, "
            f"got {len(parts)} — batch composition would change"
        )
    for j, part in enumerate(parts):
        dst = os.path.join(data_dir, f"f{slice_idx}_{j:05d}.parquet")
        shutil.copy(part, dst)
        t = 1_000_000_000 + slice_idx * 100_000 + j
        os.utime(dst, (t, t))


def _write_late_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Deterministic 4-file arrival-order fixture derived from the
    events table. With ``gm`` = max event time, files arrive (by
    forced mtime) as:

      f1 scout      ts in (gm-18h, gm-12h]  — sets the watermark
      f2 filler     ts in (gm-12h, gm-6h]   — commits f1's watermark
                    into the offset log (Spark's late-event filter for
                    batch N uses the watermark METADATA of batch N-1,
                    which reflects data through batch N-2 — measured
                    on the planned StateStoreSave: late-events wm lags
                    eviction wm by one batch)
      f3 stragglers ts <= gm-18h            — ALL arrive late; rows
                    whose hour-window end is <= floor_ms(max(f1))-12h
                    are dropped by the watermark, newer ones applied
      f4 closer     ts > gm-6h              — advances the final
                    watermark to floor_ms(gm)-12h so the closed
                    windows flush out of append-mode state

    Rewritten (overwrite) on every call: content is a pure function of
    the events table, so repeat runs are idempotent. Returns
    (data_dir, files_per_batch) — each slice is ``files_per_batch``
    parquet files (see _arrival_files_per_batch) so the whole build and
    the drain's batch reads parallelize; the old ``coalesce(1)``
    single-file writes dragged the full events scan into one task per
    slice.
    """
    import shutil as _shutil

    from node_gedcom_graph_spark.sources.tables import load_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = os.path.join(_LATE_FIXTURE_ROOT, tag, "late4")
    _shutil.rmtree(base, ignore_errors=True)
    data_dir = os.path.join(base, "data")
    os.makedirs(data_dir)
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("ts", "event_type")
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]

    def before(h: int):
        return F.lit(mx) - F.expr(f"INTERVAL {h} HOURS")

    conds = {
        1: (F.col("ts") > before(18)) & (F.col("ts") <= before(12)),
        2: (F.col("ts") > before(12)) & (F.col("ts") <= before(6)),
        3: F.col("ts") <= before(18),
        4: F.col("ts") > before(6),
    }
    # One parallel pass for all four slice counts (bounded 4-value
    # collect), to size files_per_batch.
    cnt_row = ev.agg(
        *[F.sum(c.cast("long")).alias(f"n{i}") for i, c in conds.items()]
    ).collect()[0]
    per_batch = _arrival_files_per_batch(
        spark, *[int(cnt_row[f"n{i}"] or 0) for i in conds]
    )
    for i, cond in conds.items():
        _write_arrival_slice(
            ev.filter(cond), per_batch, os.path.join(base, f"t{i}"),
            data_dir, i,
        )
    return data_dir, per_batch


def _drain_late_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """Run the late-data drain; returns (emitted table, total rows the
    engine reported dropped by the watermark)."""
    apply_engine_confs(spark)
    data_dir, per_batch = _write_late_fixture(spark, sf_dir)
    schema = spark.read.parquet(data_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(per_batch))
        .parquet(data_dir)
    )
    agg = (
        stream.withWatermark("ts", f"{LATE_WM_HOURS} hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
        )
    )
    sink = "stream_late_drop_gate"  # fixed name: see stream_tumbling_gate
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = 0
    for pr in q.recentProgress:
        for so in pr.get("stateOperators") or []:
            dropped += so.get("numRowsDroppedByWatermark") or 0
    return spark.table(sink), dropped


@_register(
    "stream_late_data_watermark_drops",
    oracle=f"""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
    mx AS (SELECT date_trunc('ms', MAX(ts)) AS m FROM e),
    wm1 AS (
      SELECT date_trunc('ms', MAX(ts)) - INTERVAL {LATE_WM_HOURS} HOUR AS w
      FROM e, mx
      WHERE ts > m - INTERVAL 18 HOUR AND ts <= m - INTERVAL 12 HOUR
    ),
    wmf AS (SELECT m - INTERVAL {LATE_WM_HOURS} HOUR AS w FROM mx),
    late AS (SELECT e.* FROM e, mx WHERE ts <= m - INTERVAL 18 HOUR),
    ontime AS (SELECT e.* FROM e, mx WHERE ts > m - INTERVAL 18 HOUR),
    applied AS (
      SELECT ts, event_type FROM ontime
      UNION ALL
      SELECT late.ts, late.event_type FROM late, wm1
      WHERE date_trunc('hour', late.ts) + INTERVAL 1 HOUR > wm1.w
    )
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM applied, wmf
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wmf.w
    GROUP BY 1, 2
    """,
)
def stream_late_data_watermark_drops(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly event counts streamed through an out-of-order,
    LATE-ARRIVING fixture against a 12-hour watermark, append mode —
    the gate that proves rows BELOW the watermark are dropped and
    rows above it still merge into open windows (every other
    streaming gate drains a clean in-order fixture; none exercised
    the drop policy, round-3 verdict item 8).

    The oracle prices in Spark's exact micro-batch semantics, each
    pinned empirically against the planned StateStoreSave operator:
    the late-event filter for a batch uses the watermark committed in
    the PREVIOUS batch's offset metadata (hence the f2 filler batch),
    watermarks truncate event times to milliseconds, a late row
    survives iff its window END is strictly above the late-event
    watermark, and append mode emits exactly the windows whose end is
    <= the final eviction watermark (flushed by the f4-advanced
    no-data batch). Window ends are hour-aligned, so every boundary
    comparison is robust to the ms truncation.

    Scale: the drain is one watermarked streaming aggregation with
    O(open windows x event types) state; the fixture derivation is
    four filtered single-file writes (gate-scale only — a production
    replay would point the same query at the real out-of-order
    source). The drop/apply accounting is pinned by
    tests/test_publish_streaming.py::test_late_data_drops_nonzero.
    """
    table, _ = _drain_late_stream(spark, sf_dir)
    return table


# ---------------------------------------------------------------------------
# Bounded-state streaming dedup gate: dropDuplicatesWithinWatermark under
# forced arrival order — the 11th streaming gate, covering the one
# stateful API (time-bounded dedup) the other ten don't execute.
# ---------------------------------------------------------------------------

DEDUPWM_DELAY_H = 24
DEDUPWM_RANKS = 4


def _write_dedupwm_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Per-(user_id, event_type) ranked-arrival fixture: batch k holds
    each key's k-th earliest event (k = 1..4, ROW_NUMBER over
    (ts, event_id)), batches arriving in rank order by forced mtime.
    One row per key per batch, so every dedup decision is cross-batch
    state — never an order-dependent within-batch race — and the whole
    fixture is a pure function of the events table (idempotent
    rewrite, same as the late-data fixture).

    Returns (data_dir, files_per_batch): each rank is written as
    ``files_per_batch`` parquet files (see _arrival_files_per_batch).
    The old shape — ``coalesce(1)`` per rank over the un-persisted
    window — recomputed the full ROW_NUMBER window four times AND ran
    each of those windows in a single task (coalesce pulls the whole
    post-shuffle sort+window into it): 292 s at 0.6 of 32 cores at
    sf100. The window now computes once into a persisted cache and
    each rank writes in parallel.
    """
    import shutil as _shutil

    from pyspark import StorageLevel
    from pyspark.sql import Window as W

    from node_gedcom_graph_spark.sources.tables import load_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = os.path.join(_LATE_FIXTURE_ROOT, tag, "dedupwm")
    _shutil.rmtree(base, ignore_errors=True)
    data_dir = os.path.join(base, "data")
    os.makedirs(data_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ranked = (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DEDUPWM_RANKS)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # Bounded collect: DEDUPWM_RANKS rows, to size files_per_batch.
        cnts = {
            r["rk"]: r["n"]
            for r in ranked.groupBy("rk").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        per_batch = _arrival_files_per_batch(
            spark,
            *[int(cnts.get(k, 0)) for k in range(1, DEDUPWM_RANKS + 1)],
        )
        for k in range(1, DEDUPWM_RANKS + 1):
            _write_arrival_slice(
                ranked.filter(F.col("rk") == k).drop("rk"),
                per_batch,
                os.path.join(base, f"t{k}"),
                data_dir,
                k,
            )
    finally:
        ranked.unpersist()
    return data_dir, per_batch


@_register(
    "stream_dedup_within_watermark",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             value
      FROM events
    ), rk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rk
      FROM ev
    ), r4 AS (
      SELECT * FROM rk WHERE rk <= {DEDUPWM_RANKS}
    ), fm AS (
      SELECT rk AS k, date_trunc('ms', MAX(ts)) AS m FROM r4 GROUP BY rk
    ), w AS (
      SELECT (SELECT m FROM fm WHERE k = 1)
               - INTERVAL {DEDUPWM_DELAY_H} HOUR AS w3,
             GREATEST((SELECT m FROM fm WHERE k = 1),
                      (SELECT m FROM fm WHERE k = 2))
               - INTERVAL {DEDUPWM_DELAY_H} HOUR AS w4
    ), piv AS (
      SELECT user_id, event_type,
             MAX(CASE WHEN rk = 1 THEN ts END) AS a1,
             MAX(CASE WHEN rk = 3 THEN ts END) AS a3
      FROM r4 GROUP BY user_id, event_type
    ), dec AS (
      SELECT p.user_id, p.event_type,
             (p.a3 IS NOT NULL AND p.a3 > w.w3
              AND p.a1 + INTERVAL {DEDUPWM_DELAY_H} HOUR <= w.w3) AS emit3,
             CASE WHEN (p.a3 IS NOT NULL AND p.a3 > w.w3
                        AND p.a1 + INTERVAL {DEDUPWM_DELAY_H} HOUR <= w.w3)
                  THEN p.a3 ELSE p.a1 END AS e4
      FROM piv p, w
    )
    SELECT r.event_id, r.ts, r.user_id, r.event_type, r.value
    FROM r4 r
    JOIN dec d ON d.user_id = r.user_id AND d.event_type = r.event_type
    CROSS JOIN w
    WHERE (r.rk = 1)
       OR (r.rk = 3 AND d.emit3)
       OR (r.rk = 4 AND r.ts > w.w4
           AND d.e4 + INTERVAL {DEDUPWM_DELAY_H} HOUR <= w.w4)
    """,
)
def stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` drained over the ranked-arrival
    fixture (one event per key per batch, 24 h delay): at-least-once-
    source dedup whose state is TIME-BOUNDED — a key recurring after its
    state expires is a new observation, and rows below the watermark are
    discarded as late before dedup sees them.

    The oracle unrolls the exact per-batch semantics, pinned against the
    engine's per-batch progress metrics (stateOperators rows
    updated/removed/droppedByWatermark at every batch):

    - the LATE filter of batch N uses the watermark metadata of batch
      N-1, which reflects data through batch N-2 (same one-batch lag the
      late-data gate measured) — so batch 3 filters with
      trunc_ms(max ts of file 1) - 24 h and batch 4 with data through
      file 2; batches 1-2 filter nothing;
    - the DUPLICATE check of batch N sees state as evicted at the END of
      batch N-1 with the watermark reflecting data through N-2:
      a duplicate is dropped iff its key's last-emitted expiry
      (emit ts + 24 h) still exceeds that watermark, and a drop does
      NOT extend the stored expiry;
    - therefore file-2 rows are always duplicates (no eviction has
      happened when batch 2 runs), file-3 rows emit iff on time and the
      file-1 state expired, file-4 rows emit iff on time and the
      last-emitted state expired.

    At sf0.01 every branch is exercised: 750 + 62 + 22 = 834 emitted,
    686 + 718 late-dropped, 2 + 9 duplicate-dropped (engine metrics and
    oracle agree row-for-row).

    Scale: state is O(live keys), bounded by key cardinality per delay
    window regardless of stream length — the entire point of the
    within-watermark variant vs unbounded dropDuplicates
    (stream_dedup_exact). The drain is one stateful operator, no
    shuffle beyond the key partitioning; the emitted table (~one row
    per key per surviving rank — 7.5 M rows at sf100) spills to a
    distributed parquet sink and is read back lazily, instead of the
    in-driver memory sink's collect (the stream_view_purchase precedent).
    """
    apply_engine_confs(spark)
    data_dir, per_batch = _write_dedupwm_fixture(spark, sf_dir)
    schema = spark.read.parquet(data_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(per_batch))
        .parquet(data_dir)
    )
    dedup = stream.withWatermark(
        "ts", f"{DEDUPWM_DELAY_H} hours"
    ).dropDuplicatesWithinWatermark(["user_id", "event_type"])
    spill = tempfile.mkdtemp(prefix="stream_dedupwm_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    q = (
        dedup.writeStream.format("parquet")
        .option("path", f"{spill}/data")
        .option("checkpointLocation", f"{spill}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Explicit schema: a zero-commit run leaves only _spark_metadata and
    # schema inference would raise where the memory sink returned an
    # empty table (r9 ADVICE precedent on the left-outer drain).
    return spark.read.schema(dedup.schema).parquet(f"{spill}/data")


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join gate (12th streaming gate): matched
# pairs plus watermark-evicted null rows for view-less purchases.
# ---------------------------------------------------------------------------

LOJ_WM_HOURS = 2


def _write_two_batch_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Two-batch arrival fixture (cut at max ts - 6h) so the left-outer
    join buffers cross-batch state: batch 1's purchases must wait in
    state while batch 2's views arrive, and the null-side rows only
    flush in the final no-data batch. Overwritten each call
    (idempotent pure function of the events table). Returns
    (data_dir, files_per_batch); each slice is files_per_batch parquet
    files (see _arrival_files_per_batch) so the build's scan+encode and
    the drain's batch reads parallelize instead of the old coalesce(1)
    single task per slice."""
    import shutil as _shutil

    from node_gedcom_graph_spark.sources.tables import load_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = os.path.join(_LATE_FIXTURE_ROOT, tag, "loj2")
    _shutil.rmtree(base, ignore_errors=True)
    data_dir = os.path.join(base, "data")
    os.makedirs(data_dir)
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]
    cut = F.lit(mx) - F.expr("INTERVAL 6 HOURS")
    conds = {1: F.col("ts") <= cut, 2: F.col("ts") > cut}
    cnt_row = ev.agg(
        *[F.sum(c.cast("long")).alias(f"n{i}") for i, c in conds.items()]
    ).collect()[0]
    per_batch = _arrival_files_per_batch(
        spark, *[int(cnt_row[f"n{i}"] or 0) for i in conds]
    )
    for i, cond in conds.items():
        _write_arrival_slice(
            ev.filter(cond), per_batch, os.path.join(base, f"t{i}"),
            data_dir, i,
        )
    return data_dir, per_batch


@_register(
    "stream_view_purchase_left_outer",
    oracle=f"""
    WITH p AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
      FROM events WHERE event_type = 'view'
    ),
    wm AS (
      SELECT date_trunc('ms', LEAST((SELECT MAX(ts) FROM v),
                                    (SELECT MAX(ts) FROM p)))
             - INTERVAL {LOJ_WM_HOURS} HOUR AS w
    ),
    matched AS (
      SELECT p.event_id AS purchase_id, p.user_id AS p_user,
             p.ts AS purchase_ts, v.event_id AS view_id, v.ts AS view_ts,
             p.value AS amount
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    )
    SELECT * FROM matched
    UNION ALL
    SELECT p.event_id, p.user_id, p.ts,
           CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), p.value
    FROM p, wm
    WHERE p.ts < wm.w
      AND NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id
                      AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR)
    """,
)
def stream_view_purchase_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join drained over a
    two-batch arrival fixture: every purchase joined to the preceding
    hour's views; purchases with NO view emit a null-side row — but
    only once the watermark proves no matching view can still arrive.

    Pinned semantics (measured on the planned join, and what the
    oracle unrolls): inner matches emit in the batch that completes
    them; null-side rows emit on state EVICTION, which happens for
    purchases with ``purchase_ts < final global watermark``, where the
    global watermark is the MIN over both sides' per-column watermarks
    (ms-truncated max event time minus the {LOJ_WM_HOURS}h delay) —
    here the view side's max, which trails the purchase side's.
    availableNow runs a final no-data micro-batch after the last file,
    so the last watermark advance DOES flush eviction-pending rows;
    unmatched purchases above the final watermark stay buffered and
    are never emitted (both outcomes exercised: the sf0.01 fixture
    holds 1941 view-less purchases, 1934 below the cutoff).

    Scale: join state is keyed by user and bounded by the watermark
    horizon per side (the time-range predicate gives Spark the
    eviction bound); the outer side adds no extra state beyond the
    inner join — eviction just also emits the null row.
    """
    apply_engine_confs(spark)
    data_dir, per_batch = _write_two_batch_fixture(spark, sf_dir)
    schema = spark.read.parquet(data_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(per_batch))
        .parquet(data_dir)
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", f"{LOJ_WM_HOURS} hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", f"{LOJ_WM_HOURS} hours")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") < F.col("purchase_ts"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
        ),
        "left_outer",
    ).select(
        "purchase_id", "p_user", "purchase_ts", "view_id", "view_ts", "amount"
    )
    # Distributed parquet drain, not the in-driver memory sink: the
    # join's output is ~linear in the purchase side (every purchase
    # emits matched or null-side rows), and at sf100 the memory sink's
    # collect-back blew spark.driver.maxResultSize (serialized results
    # of 21 tasks > 1 GiB — caught by the r9 tier sweep). Append mode
    # supports file sinks, so the gate query itself can BE the
    # production drain shape; rows are identical either way.
    spill = tempfile.mkdtemp(prefix="stream_loj_")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    q = (
        joined.writeStream.format("parquet")
        .option("path", f"{spill}/data")
        .option("checkpointLocation", f"{spill}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Explicit schema (r9 ADVICE): a run that commits ZERO output files
    # leaves only _spark_metadata in the sink dir, and schema inference
    # would raise 'Unable to infer schema' where the old memory sink
    # returned an empty table — with the schema pinned, the empty case
    # degrades to an empty DataFrame.
    return spark.read.schema(joined.schema).parquet(f"{spill}/data").select(
        "purchase_id",
        "p_user",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "view_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        "amount",
    )

# ---------------------------------------------------------------------------
# Streaming paragraph-span dedup (13th streaming gate): the span-level
# first-occurrence table of dedup_paragraph_exact, computed by a stream.
# ---------------------------------------------------------------------------


def _paragraph_spans_oracle_ctes() -> str:
    """DuckDB span construction shared verbatim with the batch
    dedup_paragraph_exact oracle (operators/dedup.py)."""
    from node_gedcom_graph_spark.operators.dedup import PARA_WORDS

    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE length(text) > 0
    ), para AS MATERIALIZED (
      SELECT doc_id,
             CAST(u.s / {PARA_WORDS} AS BIGINT) AS pidx,
             array_to_string(
               list_slice(w, u.s + 1, u.s + {PARA_WORDS}), ' ') AS para
      FROM toks
      CROSS JOIN LATERAL (
        SELECT unnest(range(0, GREATEST(len(w), 1), {PARA_WORDS})) AS s
      ) u
    )"""


def _stream_paragraph_oracle() -> str:
    return (
        _paragraph_spans_oracle_ctes()
        + """
    , firsts AS (
      SELECT para, doc_id AS first_doc, pidx AS first_pidx
      FROM (
        SELECT para, doc_id, pidx,
               ROW_NUMBER() OVER (
                 PARTITION BY para ORDER BY doc_id, pidx) AS rn
        FROM para
      ) WHERE rn = 1
    ), counts AS (
      SELECT para, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM para GROUP BY para
    )
    SELECT md5(f.para) AS span_md5, f.first_doc, f.first_pidx,
           c.n_occurrences
    FROM firsts f JOIN counts c USING (para)
    """
    )


@_register("stream_dedup_paragraph_spans", oracle=_stream_paragraph_oracle())
def stream_dedup_paragraph_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPAN-granular streaming dedup — the streaming twin of
    dedup_paragraph_exact's first stage, closing the r5 gap (the batch
    span-level dedup had no streaming member): documents arrive as a
    stream, each is split into the SAME non-overlapping PARA_WORDS-word
    spans (operators.dedup.paragraph_spans — one span definition, two
    execution modes), and a stateful grouped aggregation maintains the
    span first-occurrence table incrementally: per distinct span, its
    occurrence count and the minimum (doc_id, pidx) — exactly the keep
    decision the batch reconstruction applies.

    MIN/COUNT are order-independent, so micro-batch arrival order
    cannot change the final state, which makes the drained table
    hash-gateable against the batch oracle (complete-mode memory sink,
    availableNow drain — the module's end-of-stream-barrier pattern).
    State is keyed by the 16-byte md5 of the span, not the text, one
    row per distinct span — the same layout a production paragraph-
    dedup keeps; bound it with a watermarked event-time column when
    the dedup window can be finite (the stream_dedup_exact note).
    """
    from node_gedcom_graph_spark.operators.dedup import paragraph_spans

    docs = read_documents_stream(spark, sf_dir)
    agg = (
        paragraph_spans(docs)
        .groupBy(F.md5("para").alias("span_md5"))
        .agg(
            F.min(F.struct("doc_id", "pidx")).alias("k"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .select(
            "span_md5",
            F.col("k.doc_id").alias("first_doc"),
            F.col("k.pidx").alias("first_pidx"),
            "n_occurrences",
        )
    )
    sink = "stream_para_dedup_gate"  # fixed name: see stream_tumbling_gate
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)

# ---------------------------------------------------------------------------
# Streaming n-gram decontamination (14th streaming gate): the training
# corpus arrives as a stream; the held-out benchmark shingle set is a
# STATIC side (eval suites are fixed by construction).
# ---------------------------------------------------------------------------


def _decontaminate_ngram_oracle() -> str:
    """Shared verbatim with the batch decontaminate_ngram_overlap
    oracle (operators/dedup.py) — the streaming twin must land on the
    same per-doc hit counts."""
    return """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(range(len(w) - 2),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
      FROM toks
    )
    SELECT t.doc_id, COUNT(DISTINCT t.shingle) AS n_hits
    FROM sh t
    JOIN (SELECT DISTINCT shingle FROM sh WHERE source = 'src0') b
      ON t.shingle = b.shingle
    WHERE t.source <> 'src0'
    GROUP BY t.doc_id
    """


@_register("stream_decontaminate_ngram", oracle=_decontaminate_ngram_oracle())
def stream_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of decontaminate_ngram_overlap, closing the r5
    note that the decontamination family had no streaming member: the
    candidate TRAINING corpus arrives as a document stream, each doc
    is shingled with the SAME word-3-gram definition as the batch
    operator (operators.dedup.shingled_docs — stateless, so it
    composes with a streaming frame), every shingle is checked against
    the STATIC held-out benchmark shingle set via a stream-static
    inner join (an eval suite is fixed, which is exactly what makes
    the static side legitimate), and a stateful grouped aggregation
    maintains each doc's hit count incrementally.

    Per-doc shingle sets are DISTINCT by construction (array_distinct
    in the shared shingler), so the streaming COUNT(*) after the join
    equals the batch operator's COUNT(DISTINCT shingle) row for row —
    the drained complete-mode state shares the batch oracle verbatim.
    Scale: the join is shuffle-on-shingle against a distinct-reduced
    (at real scale broadcast/bloom) bench side; state is one counter
    per contaminated doc, NOT per shingle.
    """
    from node_gedcom_graph_spark.operators.dedup import (
        DECON_BENCH_SOURCE as _DECON_SRC,
    )
    from node_gedcom_graph_spark.operators.dedup import shingled_docs
    from node_gedcom_graph_spark.sources.tables import load_table

    bench = (
        shingled_docs(
            load_table(spark, sf_dir, "documents").filter(
                F.col("source") == _DECON_SRC
            )
        )
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    docs = read_documents_stream(spark, sf_dir)
    train = shingled_docs(docs.filter(F.col("source") != _DECON_SRC)).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    agg = (
        train.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    sink = "stream_decon_gate"  # fixed name: see stream_tumbling_gate
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)

# ---------------------------------------------------------------------------
# Streaming ExactSubstr window dedup (15th streaming gate): the batch
# dedup_substring_spans family's detection pass as a continuous query.
# ---------------------------------------------------------------------------


def _stream_substring_oracle() -> str:
    """Window construction shared with the batch dedup_substring_spans
    oracle (operators/dedup.py), aggregated to the duplicated-window
    first-occurrence table the stream maintains."""
    from node_gedcom_graph_spark.operators.dedup import SUBSTR_W

    return f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE length(text) >= {SUBSTR_W}
    ), pos AS MATERIALIZED (
      SELECT doc_id, CAST(u.p AS BIGINT) AS p,
             md5(substr(text, CAST(u.p AS INT), {SUBSTR_W})) AS window_md5
      FROM docs
      CROSS JOIN LATERAL (
        SELECT unnest(range(1, length(text) - {SUBSTR_W} + 2)) AS p
      ) u
    ), firsts AS (
      SELECT window_md5, doc_id AS first_doc, p AS first_p
      FROM (
        SELECT window_md5, doc_id, p,
               ROW_NUMBER() OVER (
                 PARTITION BY window_md5 ORDER BY doc_id, p) AS rn
        FROM pos
      ) WHERE rn = 1
    ), counts AS (
      SELECT window_md5, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM pos GROUP BY window_md5 HAVING COUNT(*) >= 2
    )
    SELECT f.window_md5, f.first_doc, f.first_p, c.n_occurrences
    FROM firsts f JOIN counts c USING (window_md5)
    """


def _substr_precombine_batches(batches):
    """Arrow-batched ExactSubstr pre-combine kernel (module-level so
    tests can pin the combine math directly): explode each document
    into its W-char window positions AND fold to (window fingerprint,
    min (doc_id, p), count) within the batch, in one vectorizable pass.
    See stream_dedup_substring_windows for why this beats the
    interpreted microbatch explode."""
    import hashlib

    from node_gedcom_graph_spark.operators.dedup import SUBSTR_W

    md5 = hashlib.md5
    for pdf in batches:
        if not len(pdf):
            continue
        wks: list = []
        dids: list = []
        pps: list = []
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None:
                continue
            n = len(text) - SUBSTR_W + 1
            if n <= 0:
                continue
            wks.extend(
                md5(text[i : i + SUBSTR_W].encode("utf-8")).digest()
                for i in range(n)
            )
            dids.extend([did] * n)
            pps.extend(range(1, n + 1))
        if not wks:
            continue
        pf = pd.DataFrame(
            {
                "wk": wks,
                "doc_id": pd.array(dids, dtype="int64"),
                "p": pd.array(pps, dtype="int64"),
                "cnt": 1,
            }
        )
        # distinct-min + count per window within the batch: rows are
        # generated in (doc_id, p) order per doc but docs may
        # interleave arbitrarily — one stable sort makes "first" the
        # lexicographic min(struct(doc_id, p)).
        pf.sort_values(["doc_id", "p"], inplace=True, kind="stable")
        grp = pf.groupby("wk", sort=False)
        out = grp.agg(
            doc_id=("doc_id", "first"),
            p=("p", "first"),
            cnt=("cnt", "size"),
        ).reset_index()
        out["cnt"] = out["cnt"].astype("int64")
        yield out[["wk", "doc_id", "p", "cnt"]]


@_register("stream_dedup_substring_windows", oracle=_stream_substring_oracle())
def stream_dedup_substring_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ExactSubstr detection pass (batch: dedup_substring_spans,
    operators/dedup.py) as a continuous query: documents arrive as a
    stream, each is exploded into its W-char sliding window positions,
    and a stateful grouped aggregation maintains the duplicated-window
    table incrementally — per distinct window, its corpus occurrence
    count and minimum (doc_id, position). Emitted rows are the windows
    seen at least twice: exactly the dup-position predicate the batch
    islands merge consumes, so a downstream batch pass can reconstruct
    spans from the drained state at any point in the stream.

    MIN/COUNT are arrival-order independent, so the drained table is
    hash-gateable against the batch oracle (complete-mode memory sink,
    availableNow drain).

    STATE BOUND (the structural cost, stated): state is keyed by the
    16-byte raw md5 of the window — exactly ONE row per DISTINCT
    W-char window, value = (min struct 16 B + count 8 B), so state
    rows <= total corpus characters and state bytes ~= rows x ~56 B
    (measured via the progress stateOperators metrics this function
    exposes as ``last_state_metrics``; pinned by
    tests/test_r8_fixes.py and the committed STATE_SUBSTR_r8.json
    curve). This table is not overhead — it IS the product, the same
    first-occurrence index the batch operator materializes; the sf10
    wall is the state-store commit of that product-sized table (the
    batch twin writes the same table as a shuffle instead, which is
    why it is the throughput path). Production bounds state three
    ways: (a) key-range sharding — the md5 key is uniform, so N
    stores of rows/N; (b) periodic compaction to the >=2-count rows,
    the only rows the downstream span pass reads; (c) a dedup
    HORIZON via watermarked event time when the corpus carries one
    (windows older than the horizon age out — the Lee et al. 2022
    pipeline dedups within a crawl snapshot, not across all time).
    """
    from node_gedcom_graph_spark.functions.scalar import ascii_fold
    from node_gedcom_graph_spark.operators.dedup import SUBSTR_W

    docs = read_documents_stream(spark, sf_dir)

    # Per-microbatch PARTIAL PRE-AGGREGATION (r8 verdict item 5): the
    # microbatch planner runs the explode+md5 position fan-out without
    # AQE/whole-stage codegen, so the 130M-position (sf10) exploded
    # table used to reach the stateful shuffle row-at-a-time. This
    # Arrow-batched kernel fuses the fan-out WITH a distinct-min/count
    # combine per window fingerprint inside each batch, so (a) the hot
    # path is vectorized pandas instead of interpreted expressions and
    # (b) under dup pressure (the synth tiers are 100-way dup groups)
    # the stateful shuffle receives one row per distinct window per
    # Arrow batch, not one per position. State/shuffle key stays the
    # RAW 16-byte digest (half the state width of hex); the digest is
    # md5 of the UTF-8 bytes of the CHARACTER-based window slice —
    # identical to both Spark's md5(substring(...)) and DuckDB's
    # md5(substr(...)).
    pre = (
        docs.filter(F.length("text") >= SUBSTR_W)
        .select("doc_id", "text")
        .mapInPandas(
            _substr_precombine_batches,
            "wk binary, doc_id bigint, p bigint, cnt bigint",
        )
    )
    agg = (
        pre.groupBy("wk")
        .agg(
            F.min(F.struct("doc_id", "p")).alias("k"),
            F.sum("cnt").alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .select(
            ascii_fold(F.hex("wk")).alias("window_md5"),
            F.col("k.doc_id").alias("first_doc"),
            F.col("k.p").alias("first_p"),
            "n_occurrences",
        )
    )
    sink = "stream_substr_dedup_gate"  # fixed name: see stream_tumbling_gate
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Surface the stateful-agg state size (rows / bytes) from the last
    # progress event so tests and the sweep can pin the documented
    # state bound instead of trusting the docstring.
    metrics = {}
    prog = q.lastProgress
    if prog and prog.get("stateOperators"):
        so = prog["stateOperators"][0]
        metrics = {
            "state_rows": so.get("numRowsTotal"),
            "state_bytes": so.get("memoryUsedBytes"),
        }
    stream_dedup_substring_windows.last_state_metrics = metrics
    return spark.table(sink)


# ---------------------------------------------------------------------------
# Streaming incremental dedup (16th gate): continuous new-crawl ingest
# checked against the static corpus fingerprint index.
# ---------------------------------------------------------------------------


@_register(
    "stream_dedup_incremental",
    oracle="""
    WITH old AS (
      SELECT md5(text) AS fp, MIN(doc_id) AS match_old_id
      FROM documents WHERE doc_id % 10 < 8
      GROUP BY md5(text)
    ), new AS (
      SELECT doc_id, source, md5(text) AS fp
      FROM documents WHERE doc_id % 10 >= 8
    )
    SELECT n.doc_id, n.source,
           CAST(CASE WHEN o.match_old_id IS NULL THEN 0 ELSE 1 END
                AS INTEGER) AS is_dup,
           o.match_old_id
    FROM new n LEFT JOIN old o USING (fp)
    """,
)
def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of dedup_incremental_snapshot — the production
    CONTINUOUS-INGEST shape: new crawl documents arrive as a stream
    and each is checked against the STATIC fingerprint index of the
    existing corpus (md5 -> min doc_id) by a stream-static LEFT OUTER
    join. Shares the batch operator's oracle verbatim.

    Scale: completely STATELESS — a stream-static join holds no
    stream-side state (each micro-batch probes the index
    independently), so the memory cost is the index side alone, which
    in production is the persisted artifact the batch operator
    builds, refreshed between batches, and at 100 TB is still only
    |distinct texts| x 48 bytes, shardable by fingerprint range. No
    watermark needed: nothing accumulates. Append mode — each new doc
    emits exactly one verdict row as it lands.
    """
    from node_gedcom_graph_spark.sources.tables import load_table

    old = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 < 8)
        .select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("match_old_id"))
    )
    new = (
        read_documents_stream(spark, sf_dir)
        .filter(F.col("doc_id") % 10 >= 8)
        .select("doc_id", "source", F.md5("text").alias("fp"))
    )
    verdicts = new.join(old, "fp", "left").select(
        "doc_id",
        "source",
        F.when(F.col("match_old_id").isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("is_dup"),
        "match_old_id",
    )
    sink = "stream_dedup_incr_gate"  # fixed name: see stream_tumbling_gate
    q = (
        verdicts.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# Streaming curation scoring (17th gate): the funnel's per-document
# scoring path as a STATELESS continuous query; dedup + rollup stay in
# the batch layer over the drained verdicts (the hypertable hybrid
# pattern — cross-document state by definition belongs to the merge).
# ---------------------------------------------------------------------------


def _curation_funnel_oracle() -> str:
    from node_gedcom_graph_spark.operators import all_oracles

    return all_oracles()["curation_funnel_report"]


@_register("stream_curation_funnel", oracle=_curation_funnel_oracle())
def stream_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of curation_funnel_report: every arriving
    training candidate is scored IN the stream — token count, punct
    ratio, the hashed-feature classifier logit (an `F.aggregate` fold
    over the token array: interpreted per element, but STATELESS,
    which is what a row-at-a-time continuous scorer needs), and the
    n-gram contamination verdict via an exact membership probe of the
    held-out shingle set broadcast to the executors — and the drained
    per-document verdict table is rolled up by a batch layer that adds
    the one inherently cross-document stage (first-occurrence dedup on
    the streamed fingerprint) plus the per-source counts. Shares the
    batch funnel's oracle verbatim.

    Scale: the streaming side holds NO state at all — every verdict
    column is a per-row expression, and the reference set is the only
    memory cost (exact set here, gate-sized by contract like the eval
    suites; at 100 TB swap in the bloom prefilter of
    decontaminate_ngram_bloom and let the batch layer's exact join
    confirm). Dedup state lives in the batch merge, where it is the
    product.
    """
    import pandas as pd

    from node_gedcom_graph_spark.functions.scalar import (
        md5_bucket,
        punct_chars,
        tokens,
    )
    from node_gedcom_graph_spark.operators.dedup import (
        DECON_BENCH_SOURCE,
        shingled_docs,
        shingles_from_tokens,
    )
    from node_gedcom_graph_spark.operators.llmprep4 import (
        BLOOM_MAX_ITEMS,
        FUNNEL_MAX_PUNCT,
        FUNNEL_MIN_TOKENS,
        QCLS_BUCKETS,
        QCLS_WEIGHT_MOD,
        QCLS_WEIGHT_SHIFT,
    )
    from node_gedcom_graph_spark.sources.tables import load_table

    bench_df = (
        shingled_docs(
            load_table(spark, sf_dir, "documents").filter(
                F.col("source") == DECON_BENCH_SOURCE
            )
        )
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    # Size-gate the driver collect (same cap as decontaminate_ngram_
    # bloom, counted via a bounded limit BEFORE anything reaches the
    # driver): an oversized held-out set must not OOM the driver just
    # to build the broadcast probe. Above the cap the stream carries
    # each document's shingle array through the sink instead, and the
    # contamination verdict becomes a static-batch join over the
    # drained table — identical results, the membership probe just
    # moves from the hot streaming path to the batch merge that
    # already owns the cross-document stages.
    n_bench = bench_df.limit(BLOOM_MAX_ITEMS + 1).count()
    small_bench = n_bench <= BLOOM_MAX_ITEMS
    if small_bench:
        bench_set = frozenset(r.s for r in bench_df.collect())
        b_set = spark.sparkContext.broadcast(bench_set)

        @F.pandas_udf("boolean")
        def any_contaminated(shingles: pd.Series) -> pd.Series:
            ref = b_set.value
            return pd.Series(
                [
                    any(s in ref for s in (arr if arr is not None else ()))
                    for arr in shingles
                ]
            )
    else:
        log.warning(
            "stream_curation_funnel: >%d benchmark shingles — skipping "
            "the driver collect/broadcast; contamination moves to a "
            "stream-static join over the drained verdicts",
            BLOOM_MAX_ITEMS,
        )

    docs = read_documents_stream(spark, sf_dir).filter(
        (F.col("source") != DECON_BENCH_SOURCE) & (F.length("text") > 0)
    )
    # Materialize the token array BEFORE any higher-order lambda
    # references it (shingles_from_tokens' CSE warning: an inline
    # tokens(...) expression re-evaluates the tokenizer per element).
    base = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("fp"),
        (punct_chars(F.col("text")).cast("double") / F.length("text")).alias(
            "punct_ratio"
        ),
        tokens(F.col("text")).alias("toks"),
    )
    w_of = lambda t: (  # noqa: E731 — inline weight expression
        md5_bucket(t, QCLS_BUCKETS) % QCLS_WEIGHT_MOD - QCLS_WEIGHT_SHIFT
    )
    logit = F.aggregate(
        F.col("toks"), F.lit(0).cast("bigint"), lambda acc, t: acc + w_of(t)
    )
    probe = (
        any_contaminated(shingles_from_tokens(F.col("toks"))).alias("is_cont")
        if small_bench
        # fallback: ship 8-byte xxhash64 shingle FINGERPRINTS (not the
        # raw strings — an order of magnitude smaller per row) through
        # a temp PARQUET sink (not the in-driver memory sink — the
        # whole point of this path is that the corpus is too big to
        # materialize on the driver), so the batch merge can join them
        # against the (oversized) static bench side hashed the same
        # way. Collision risk is ~n_shingles*n_bench/2^64 — negligible,
        # and only this over-cap path (never the gate) carries it.
        else F.transform(
            shingles_from_tokens(F.col("toks")), lambda s: F.xxhash64(s)
        ).alias("shingle_fps")
    )
    scored = base.select(
        "doc_id",
        "source",
        "fp",
        F.size("toks").alias("n_tokens"),
        logit.alias("logit_sum"),
        "punct_ratio",
        probe,
    ).select(
        "doc_id",
        "source",
        "fp",
        "n_tokens",
        (
            (F.col("n_tokens") >= FUNNEL_MIN_TOKENS)
            & (F.col("punct_ratio") <= FUNNEL_MAX_PUNCT)
        ).alias("pass_quality"),
        (F.col("logit_sum").cast("double") / F.col("n_tokens") > 0).alias(
            "pass_classifier"
        ),
        (~F.col("is_cont")).alias("not_cont")
        if small_bench
        else F.col("shingle_fps"),
    )
    if small_bench:
        # Per-doc scalar rows only — bounded, the memory sink is fine.
        sink = "stream_curation_gate"  # fixed name: see stream_tumbling_gate
        q = (
            scored.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        drained = spark.table(sink)
    else:
        # Over-cap path: the drained table is corpus-sized (one
        # fingerprint array per document), so it must NOT pass through
        # the driver — drain to a temp parquet sink and read it back as
        # a distributed table (removed at interpreter exit; the final
        # report below is one row per source either way).
        spill = tempfile.mkdtemp(prefix="funnel_fallback_")
        atexit.register(shutil.rmtree, spill, ignore_errors=True)
        q = (
            scored.writeStream.format("parquet")
            .option("path", f"{spill}/data")
            .option("checkpointLocation", f"{spill}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Explicit schema: see the left-outer drain — the empty-commit
        # case must degrade to an empty table, not an inference error.
        drained = spark.read.schema(scored.schema).parquet(f"{spill}/data")
    if not small_bench:
        # Single pass: explode each doc's shingle fingerprints (outer:
        # zero-shingle docs stay), left-join the static bench side
        # hashed with the same xxhash64, and fold back to one verdict
        # row per doc.
        bench_fps = bench_df.select(
            F.xxhash64("s").alias("s_fp")
        ).distinct()
        drained = (
            drained.select(
                "doc_id",
                "source",
                "fp",
                "n_tokens",
                "pass_quality",
                "pass_classifier",
                F.explode_outer("shingle_fps").alias("s_fp"),
            )
            .join(bench_fps.withColumn("hit", F.lit(1)), "s_fp", "left")
            .groupBy(
                "doc_id",
                "source",
                "fp",
                "n_tokens",
                "pass_quality",
                "pass_classifier",
            )
            .agg(
                (F.max(F.coalesce("hit", F.lit(0))) == 0).alias("not_cont")
            )
        )
    verdicts = drained.select(
        "doc_id",
        "source",
        "fp",
        "n_tokens",
        "pass_quality",
        "pass_classifier",
        (
            F.col("pass_quality") & F.col("pass_classifier") & F.col("not_cont")
        ).alias("pass_decontam"),
    )
    firsts = (
        verdicts.filter("pass_decontam")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
        .select("keep_id")
        .withColumn("is_first", F.lit(1))
    )
    final = verdicts.join(
        firsts, verdicts.doc_id == firsts.keep_id, "left"
    ).select(
        "source",
        "n_tokens",
        "pass_quality",
        "pass_classifier",
        "pass_decontam",
        (F.col("pass_decontam") & F.col("is_first").isNotNull()).alias("kept"),
    )
    return final.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.col("pass_quality").cast("int")).cast("bigint").alias(
            "n_pass_quality"
        ),
        F.sum(
            (F.col("pass_quality") & F.col("pass_classifier")).cast("int")
        )
        .cast("bigint")
        .alias("n_pass_classifier"),
        F.sum(F.col("pass_decontam").cast("int")).cast("bigint").alias(
            "n_pass_decontam"
        ),
        F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )
