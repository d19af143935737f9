"""Distributed graph analytics over a DERIVED graph — the part
co-purchase graph (parts sharing an order, co-occurrence weight >= 2) —
complementing the GEDCOM family-graph traversals in ``graph/queries.py``
(reference scope: the reference emits node/edge CSVs for Neo4j to
analyze, cf. /root/reference/lib/neo4j.js; here the analytics run
IN-ENGINE as dataflow).

Both queries are deliberately oracle-checkable: triangle participation
is orientation-invariant (the Spark side uses degree-ordered
orientation — the scalable physical strategy — while the DuckDB oracle
uses naive id-ordering; identical output proves the rewrite sound), and
PageRank is unrolled to a fixed 3 iterations with per-edge
contributions cast to DECIMAL(28,14) before the sum, making every
aggregate order-independent and bit-equal across engines.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_gedcom_graph_spark.graph.traverse import components, reach
from node_gedcom_graph_spark.operators import persist_tracked, register
from node_gedcom_graph_spark.sources.tables import load_table

_EDGES_SQL = """
    op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
"""


def _persist_keyed(df: DataFrame, key: str) -> DataFrame:
    """Columnar-persist a STATIC convergence-loop table PRE-PARTITIONED
    (hash) and sorted on the loop's per-round join key.

    InMemoryTableScan preserves the cached plan's outputPartitioning
    and outputOrdering, so each round's sort-merge join reads the cache
    with NO Exchange and NO Sort on the edge side — verified in the
    executed plan (round join = SMJ over a bare InMemoryTableScan).

    MEASURED RESULT (r9, pinning the r8-verdict premise): this is plan
    hygiene, not a wall win, at every tested tier — sf10 cc converged
    47.3s keyed vs 46.5-50.4s unkeyed (within steal noise), because the
    co-purchase edge list is SMALL (~714k rows sf10, ~7M sf100; the
    "~0.45B" figure is the transient per-order pair fan-out inside the
    build, never the loop-side table). The family's wall lives in
    `_copurchase_edges` (two fact-table exchanges + the pair-count
    shuffle), which is why that build, not the loop, carries the r9
    optimizations. Kept because it costs nothing here and IS the right
    shape wherever the static loop table is large relative to memory.
    """
    return persist_tracked(
        df.repartition(F.col(key)).sortWithinPartitions(key)
    )


def _symmetric(edges: DataFrame) -> DataFrame:
    """Both directions of the canonical (pa < pb) co-purchase edges, in
    one inline pass (a two-branch union would evaluate the edge subtree
    twice)."""
    return edges.select(
        F.inline(
            F.array(
                F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
                F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")),
            )
        )
    )


# ---------------------------------------------------------------------------
# Cross-query edge materialization (r10): ~16 graph queries consume the
# SAME derived co-purchase edge list, and at sf100 its build (one fact
# exchange + the ~1.2B-row packed-pair-count shuffle) dominates each
# query's 200-330 s wall while the RESULT is tiny (~7M rows / ~100 MB).
# persist_tracked() cannot amortize it — tracked caches are released
# between top-level queries by design — so the build is materialized
# ONCE per fixture as parquet on scratch disk, keyed by the lineitem
# fixture's (abspath, size, mtime_ns) fingerprint exactly like the
# duplication-probe cache (dedup.py:_DUP_PROBE_CACHE): a rewritten
# fixture changes the fingerprint and misses.
#
# SCOPE (r10 optimization-round contract): the DEFAULT root is
# per-process and removed at interpreter exit, so every bench/oracle
# invocation rebuilds the derived tables from the parquet inputs and
# the amortization applies only ACROSS QUERIES WITHIN ONE INVOCATION —
# nothing precomputed survives into the next run. The cross-run
# materialized-view shape (build once per fact-table snapshot — the
# production deployment of a derived edge table, and how a long
# multi-query sweep session would run it) is an explicit opt-in via
# NGG_EDGE_CACHE_DIR pointing at a shared directory; the fingerprint
# keying, lock-guarded publish, and LRU eviction below exist for that
# mode and are exercised by tests either way.
_EDGE_CACHE_DIR_ENV = os.environ.get("NGG_EDGE_CACHE_DIR")


def _proc_starttime(pid: int) -> str | None:
    """Kernel start-time (jiffies since boot, /proc/<pid>/stat field
    22) — distinguishes a live process from a recycled pid, so a new
    run can never ADOPT a dead run's cache root."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
        return raw[raw.rindex(")") + 2 :].split()[19]
    except (OSError, IndexError, ValueError):
        return None


_EDGE_CACHE_ROOT = _EDGE_CACHE_DIR_ENV or (
    "/tmp/ngg_copurchase_edges."
    f"pid{os.getpid()}-{_proc_starttime(os.getpid()) or '0'}"
)
if _EDGE_CACHE_DIR_ENV is None:
    import atexit

    atexit.register(shutil.rmtree, _EDGE_CACHE_ROOT, ignore_errors=True)


def _sweep_stale_process_roots() -> None:
    """Remove per-process cache roots left by a killed interpreter
    (atexit never ran): any sibling ``ngg_copurchase_edges.pid<N>-<T>``
    whose process is gone or whose pid was recycled (start time
    mismatch)."""
    base = os.path.dirname(_EDGE_CACHE_ROOT) or "/tmp"
    try:
        names = os.listdir(base)
    except OSError:
        return
    for n in names:
        if not n.startswith("ngg_copurchase_edges.pid"):
            continue
        tail = n.rsplit("pid", 1)[1]
        pid_s, _, start_s = tail.partition("-")
        try:
            pid = int(pid_s)
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        if start_s and _proc_starttime(pid) == start_s:
            continue  # genuinely live owner
        shutil.rmtree(os.path.join(base, n), ignore_errors=True)


def _fixture_fingerprint(sf_dir: str, table: str = "lineitem") -> str | None:
    """Stable fingerprint of one fixture table (file OR directory of
    part files): md5 over sorted (relpath, size, mtime_ns) triples PLUS
    a 4 KB content sample from the first part file. The content sample
    catches the mtime-preserving rewrite (``cp -p`` / ``rsync -a`` /
    tar-restore of a different same-size snapshot) that pure stat
    triples cannot; an adversarially crafted fixture with identical
    head, sizes, and nanosecond mtimes is outside the contract —
    the same immutable-fixture assumption the GEDCOM datasource's
    file watermark documents (sources/gedcom_datasource.py)."""
    from node_gedcom_graph_spark.sources.tables import part_files

    path = os.path.join(sf_dir.rstrip("/"), f"{table}.parquet")
    try:
        files = part_files(path)
        h = hashlib.md5(os.path.abspath(path).encode())
        for f in files:
            st = os.stat(f)
            rel = os.path.relpath(f, path) if f != path else "."
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
        if files:
            with open(files[0], "rb") as fh:
                h.update(fh.read(4096))
        return h.hexdigest()[:16]
    except OSError:
        return None


def _lineitem_fingerprint(sf_dir: str) -> str | None:
    return _fixture_fingerprint(sf_dir, "lineitem")


def clear_copurchase_edge_cache() -> None:
    shutil.rmtree(_EDGE_CACHE_ROOT, ignore_errors=True)


def _cache_serve(spark, sf_dir, suffix, builder, table: str = "lineitem"):
    """Serve a DERIVED-TABLE materialization from the per-fixture
    scratch cache, building it on first use; return None (caller
    falls back to the in-session build) when scratch or the fixture
    fingerprint is unavailable or ``NGG_EDGE_CACHE=0``.

    The cache is a materialization of a deterministic integer
    computation over an immutable fixture, so serving it is
    output-bit-equal to rebuilding. Entry key = fixture fingerprint +
    ``suffix`` (one fixture can hold several derived tables: the edge
    list, the per-part order counts, the ExactSubstr span table —
    ``table`` names the source fixture the fingerprint covers)."""
    if os.environ.get("NGG_EDGE_CACHE", "1") == "0":
        return None
    fp = _fixture_fingerprint(sf_dir, table)
    if fp is None:
        return None
    cache = os.path.join(_EDGE_CACHE_ROOT, fp + suffix)
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        built = None
        try:
            # Per-process build dir: two concurrent sessions (gate +
            # sweep) may both miss and both build (identical content —
            # builds are deterministic); the lock-guarded publish
            # below lets exactly one WIN and the loser discard,
            # so a completed live cache is never deleted out from
            # under a reader.
            tmp = f"{cache}.build.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            # A handful of output files keeps the later scans
            # splittable without dozens of 200 KB shards at gate
            # scale (results are tiny relative to their builds).
            # repartition, NOT coalesce: coalesce(4) propagates into
            # the build's final reduce stage and serializes it to 4
            # tasks (measured: the cnt build's 550M-row groupBy merge
            # ran ~3x slower under coalesce); the extra exchange moves
            # only the small result.
            built = builder()
            built.repartition(4).write.mode("overwrite").parquet(tmp)
            _sweep_stale_process_roots()
            os.makedirs(_EDGE_CACHE_ROOT, exist_ok=True)
            with open(os.path.join(_EDGE_CACHE_ROOT, ".lock"), "w") as lk:
                import fcntl

                fcntl.flock(lk, fcntl.LOCK_EX)
                try:
                    _publish_and_evict(tmp, cache)
                finally:
                    fcntl.flock(lk, fcntl.LOCK_UN)
        except Exception:
            shutil.rmtree(
                f"{cache}.build.{os.getpid()}", ignore_errors=True
            )
        finally:
            if built is not None:
                # The build's internal persist bought nothing here
                # (one action, the write) — drop it rather than hold
                # a second copy of the result until the next query.
                try:
                    built.unpersist()
                except Exception:
                    pass
    if os.path.exists(os.path.join(cache, "_SUCCESS")):
        # Touch on hit: eviction is least-recently-USED, so an entry
        # a running query is lazily reading stays newest.
        os.utime(cache)
        return persist_tracked(spark.read.parquet(cache))
    return None


def _publish_and_evict(tmp: str, cache: str) -> None:
    """Publish a finished build under the cache lock: discard if a
    concurrent builder already published (never delete a completed
    cache a reader may hold), clear incomplete garbage, rename, then
    evict — oldest-by-use beyond 16 entries, plus orphaned build dirs
    older than an hour (a kill -9 mid-build skips its own cleanup)."""
    if os.path.exists(os.path.join(cache, "_SUCCESS")):
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        shutil.rmtree(cache, ignore_errors=True)  # incomplete garbage
        os.rename(tmp, cache)
    now = os.path.getmtime(cache)
    entries, orphans = [], []
    for d in os.listdir(_EDGE_CACHE_ROOT):
        p = os.path.join(_EDGE_CACHE_ROOT, d)
        if d == ".lock" or not os.path.isdir(p):
            continue
        try:
            mt = os.path.getmtime(p)
        except OSError:
            continue
        if ".build" in d:
            if now - mt > 3600:
                orphans.append(p)
        else:
            entries.append((mt, p))
    for _mt, p in sorted(entries)[:-16]:
        shutil.rmtree(p, ignore_errors=True)
    for p in orphans:
        shutil.rmtree(p, ignore_errors=True)


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, keep_weight: bool = False
) -> DataFrame:
    """Cache-aware front end: serve the canonical weighted edge list
    from the per-fixture parquet materialization, building it on first
    use; fall back to the in-session build whenever scratch is
    unavailable. ``NGG_EDGE_CACHE=0`` disables."""
    df = _cache_serve(
        spark, sf_dir, "", lambda: _build_copurchase_edges(spark, sf_dir)
    )
    if df is None:
        df = _build_copurchase_edges(spark, sf_dir)
    return df if keep_weight else df.select("pa", "pb")


def _part_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part distinct-order counts (l_partkey, n_orders) — the
    second derived table of the co-purchase family (Jaccard
    denominators), materialized per fixture like the edge list (at
    sf100 this distinct + groupBy over the 600M-row fact table was
    the remaining ~116 s of copurchase_jaccard_similar_parts after
    its pairs went cache-served)."""

    def build():
        return (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
            .groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )

    df = _cache_serve(spark, sf_dir, "-cnt", build)
    return df if df is not None else build()


def _build_copurchase_edges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Canonical (pa < pb) co-purchase edges with weight >= 2.

    Scale: the per-order pair fan-out is bounded by lines-per-order
    (~C(7,2) = 21 pairs max per order here), so pair generation is
    linear in the fact table. Two r9 build optimizations, both
    measured at sf10 (quiet-host min-of-3):

    - ONE fact-table exchange instead of two: `repartition(orderkey)`
      BEFORE the distinct — HashPartitioning(ok) satisfies the
      distinct's ClusteredDistribution(ok, pk) (equal (ok, pk) rows
      co-locate under hash(ok)), and the self-join's required
      hash(ok) is then already satisfied too, so the 600M-row (sf100)
      fact shuffles once, not twice. (A collect_set-per-order rewrite
      that would eliminate the self-join entirely was measured 3x
      SLOWER — ObjectHashAggregate loses to the codegen'd SMJ.)
    - PACKED pair key for the heavy aggregate: the pair-count shuffle
      carries ~120M (sf10) / ~1.2B (sf100) rows — the single largest
      cost in the whole graph family — so the (pa, pb) key is packed
      into one bigint (both keys < 2^31 at every tier; guarded) for a
      single-long hash/shuffle key, and unpacked only on the ~0.3%
      of rows surviving w >= 2. 12.2 -> 11.2 s sf10.

    The result is ``persist()``-ed (MEMORY_AND_DISK): both consumers
    reference the edge list from several plan branches (degrees,
    orientation, wedge/closing joins), and without a materialization
    point each branch re-derives the whole pair-generation subtree —
    measured 90 parquet scans / 229 exchanges in the triangle plan
    before caching. Cache-then-reuse is the standard shape for
    iterative/multi-branch graph dataflow; Spark's CacheManager
    resolves the identical subtree across separate invocations too.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    op = (
        lineitem.select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    packed = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            # key-pack guard: partkeys must fit 31 bits for the packed
            # bigint to be collision-free (raise, never corrupt).
            F.when(
                (F.col("a.l_partkey") < 0)
                | (F.col("b.l_partkey") < 0)
                | (F.col("a.l_partkey") >= F.lit(1 << 31))
                | (F.col("b.l_partkey") >= F.lit(1 << 31)),
                F.raise_error(
                    F.lit("copurchase pair key exceeds 31 bits; "
                          "unpack _copurchase_edges' packed aggregate")
                ),
            ).otherwise(
                F.shiftleft(F.col("a.l_partkey"), 32) + F.col("b.l_partkey")
            ).alias("pk")
        )
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )
    return packed.select(
        F.shiftrightunsigned("pk", 32).alias("pa"),
        F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("pb"),
        "w",
    ).transform(persist_tracked)


@register(
    "copurchase_triangles",
    oracle=f"""
    WITH {_EDGES_SQL},
    tri AS MATERIALIZED (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM edges e1
      JOIN edges e2 ON e2.pa = e1.pb
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ), participation AS (
      SELECT a AS p FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT p AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM participation GROUP BY p
    """,
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph
    ("frequently bought together" cliques of three).

    Scale: DEGREE-ORIENTED node-iterator join (Schank & Wagner 2005;
    the MapReduce form is Suri & Vassilvitskii WWW'11) — each
    undirected edge is oriented from its lexicographically smaller
    (degree, id) endpoint, so every wedge is generated at its
    lowest-degree apex and the two-hop join size is bounded by
    sum(d_out^2) with d_out = O(sqrt(m)) — the skew-killer for
    power-law graphs where a hub's d^2 would otherwise dominate. The
    DuckDB oracle uses the naive id-ordered join instead; triangle
    PARTICIPATION is orientation-invariant, so identical output
    verifies the rewrite. Three shuffles total (wedge join on apex,
    closing-edge join on the (v,w) pair, participation count).
    """
    edges = _copurchase_edges(spark, sf_dir)
    # explode, not unionAll: one pass over the cached edges instead of
    # two plan branches (InferFiltersFromGenerate is excluded
    # engine-wide, so the generator input is not re-inlined).
    deg = (
        edges.select(F.explode(F.array("pa", "pb")).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("p").alias("pa"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("p").alias("pb"), F.col("d").alias("deg_b"))
    ed = edges.join(da, "pa").join(db, "pb")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("pa") < F.col("pb"))
    )
    # persist: referenced from three branches (two wedge sides + the
    # closing-edge probe); unpersisted, each branch re-runs the
    # edges⋈deg⋈deg orientation join.
    oriented = ed.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_deg"),
    ).transform(persist_tracked)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    # Wedge at apex u: (u->v, u->w) with (deg,id)-rank(v) < rank(w);
    # the closing edge, if present, is oriented v->w by construction.
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            (F.col("o1.dst_deg") < F.col("o2.dst_deg"))
            | (
                (F.col("o1.dst_deg") == F.col("o2.dst_deg"))
                & (F.col("o1.dst") < F.col("o2.dst"))
            )
        ),
    ).select(
        F.col("o1.src").alias("u"),
        F.col("o1.dst").alias("v"),
        F.col("o2.dst").alias("w"),
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"])
    # single explode instead of a 3-way unionAll — the triangle join
    # runs once, not three times.
    participation = tri.select(F.explode(F.array("u", "v", "w")).alias("p"))
    return participation.groupBy(F.col("p").alias("p_partkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT s.dst AS p,
             0.15 / (SELECT n FROM nn)
             + 0.85 * CAST(SUM(CAST(r.r / s.d AS DECIMAL(28,14))) AS DOUBLE)
               AS r
      FROM sym s JOIN {prev} r ON r.p = s.src
      GROUP BY s.dst
    )"""


@register(
    "copurchase_pagerank_3iter",
    oracle=f"""
    WITH {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM edges
      UNION ALL
      SELECT pb AS src, pa AS dst FROM edges
    ),
    degs AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
    nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM degs),
    sym2 AS MATERIALIZED (SELECT s.src, s.dst, g.d FROM sym s JOIN degs g ON g.src = s.src),
    r0 AS (SELECT src AS p, 1.0 / (SELECT n FROM nn) AS r FROM degs),
    {_pr_iter_sql('r0', 'r1').replace('sym s', 'sym2 s').lstrip()},
    {_pr_iter_sql('r1', 'r2').replace('sym s', 'sym2 s').lstrip()},
    {_pr_iter_sql('r2', 'r3').replace('sym s', 'sym2 s').lstrip()}
    SELECT p AS p_partkey, r AS pagerank FROM r3
    """,
)
def copurchase_pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85), unrolled to exactly 3 synchronous
    iterations over the symmetrized co-purchase graph — the iterative-
    algorithm-as-dataflow pattern: a fixed-depth loop builds one static
    DAG, no driver-side convergence loop in the data plane.

    Determinism: per-edge contributions (r/deg, an IEEE double) are
    cast to DECIMAL(28,14) BEFORE the per-node sum, so the aggregate is
    order-independent under any shuffle/AQE plan and matches the DuckDB
    oracle bit-for-bit at 6dp; the damping mix is the identical double
    expression on both sides. No dangling mass: every node in the edge
    list has degree >= 1 by construction (documented divergence from
    dangling-aware formulations).

    Scale: the edge list joined with degrees is built ONCE and reused
    across iterations; each iteration is one hash join (ranks are
    node-sized — broadcastable when nodes << edges) plus one shuffle on
    dst with map-side partial decimal sums. For unbounded iteration
    counts you'd checkpoint lineage every ~10 rounds (same pattern as
    the HashMin connected-components in graph/queries.py).
    """
    edges = _copurchase_edges(spark, sf_dir)
    sym = _symmetric(edges)
    degs = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    sym2 = sym.join(degs, "src").transform(persist_tracked)
    nn = F.broadcast(degs.agg(F.count(F.lit(1)).alias("n")))
    ranks = degs.crossJoin(nn).select(
        F.col("src").alias("p"), (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(3):
        ranks = (
            sym2.join(ranks, sym2.src == ranks.p)
            .select(
                "dst", (F.col("r") / F.col("d")).cast("decimal(28,14)").alias("c")
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("sc"))
            .crossJoin(nn)
            .select(
                F.col("dst").alias("p"),
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.col("sc").cast("double")
                ).alias("r"),
            )
        )
    return ranks.select(F.col("p").alias("p_partkey"), F.col("r").alias("pagerank"))


def _lpa_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT src AS p, label FROM (
        SELECT s.src, l.label,
               ROW_NUMBER() OVER (PARTITION BY s.src
                                  ORDER BY COUNT(*) DESC, l.label ASC) AS rn
        FROM sym s JOIN {prev} l ON l.p = s.dst
        GROUP BY s.src, l.label
      ) t WHERE rn = 1
    )"""


@register(
    "copurchase_label_propagation_3iter",
    oracle=f"""
    WITH {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM edges
      UNION ALL
      SELECT pb AS src, pa AS dst FROM edges
    ),
    l0 AS (SELECT DISTINCT src AS p, src AS label FROM sym),
    {_lpa_iter_sql('l0', 'l1').lstrip()},
    {_lpa_iter_sql('l1', 'l2').lstrip()},
    {_lpa_iter_sql('l2', 'l3').lstrip()}
    SELECT p AS p_partkey, label AS community FROM l3
    """,
)
def copurchase_label_propagation_3iter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synchronous label propagation (3 unrolled iterations, min-label
    tie-break) over the symmetrized co-purchase graph — community
    detection as fixed-depth dataflow, same discipline as the PageRank
    unroll: no driver-side convergence loop, one static DAG.

    Determinism: each node's next label = most frequent neighbor label,
    ties to the SMALLEST label — a total order, so synchronous updates
    are reproducible on any engine (async/random-order LPA is not).

    Physical divergence, pinned by the oracle: DuckDB ranks candidate
    labels with a row_number window; the engine computes the same argmax
    as a single MIN(struct(-count, label)) hash aggregate — one
    map-side-combinable agg instead of a per-node sort, the strategy
    that survives high-degree (skewed) nodes. Identical output proves
    the rewrite sound.

    Scale: per iteration — one hash join against node-sized labels
    (broadcastable when nodes << edges), one (src, label) count with
    map-side partials, one MIN-struct agg on src. The symmetrized edge
    list is built once (cached); labels never exceed one row per node.
    Unbounded-iteration variants would checkpoint lineage every ~10
    rounds (see graph/queries.py connected components).
    """
    edges = _copurchase_edges(spark, sf_dir)
    # Keyed on dst — the per-iteration join is sym.dst == labels.p, so
    # the cached partitioning/order removes the edge-side Exchange+Sort
    # from every iteration (_persist_keyed).
    sym = _persist_keyed(
        _symmetric(edges),
        "dst",
    )
    labels = sym.select(F.col("src").alias("p")).distinct().select(
        "p", F.col("p").alias("label")
    )
    for _ in range(3):
        counted = (
            sym.join(labels, sym.dst == labels.p)
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counted.groupBy("src")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label").alias("lb")
                    )
                ).alias("best")
            )
            .select(F.col("src").alias("p"), F.col("best.lb").alias("label"))
        )
    return labels.select(
        F.col("p").alias("p_partkey"), F.col("label").alias("community")
    )


@register(
    "copurchase_bfs_2hop",
    oracle=f"""
    WITH {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM edges
      UNION ALL
      SELECT pb AS src, pa AS dst FROM edges
    ),
    seeds AS (SELECT DISTINCT src FROM sym WHERE src % 500 = 0),
    h1 AS (
      SELECT DISTINCT s.src AS seed, y.dst AS node
      FROM seeds s JOIN sym y ON y.src = s.src
    ),
    h2 AS (
      SELECT DISTINCT h.seed, y.dst AS node
      FROM h1 h JOIN sym y ON y.src = h.node
    )
    SELECT seed, node, MIN(dist) AS dist FROM (
      SELECT seed, node, 1 AS dist FROM h1
      UNION ALL
      SELECT seed, node, 2 AS dist FROM h2
    ) t
    WHERE node <> seed
    GROUP BY seed, node
    """,
)
def copurchase_bfs_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability with hop distance: every node within
    2 hops of a deterministic seed set (part keys ≡ 0 mod 500), with
    the minimum distance — the frontier-expansion BFS pattern from the
    GEDCOM ancestor traversal (graph/queries.py) run on a DATA-scale
    derived graph instead of the demo fixture.

    Scale: per hop, one hash join of the frontier against the cached
    symmetrized edge list, shuffled on the join key; frontiers are
    distinct-reduced per hop so re-reached nodes don't re-expand
    (without it hop-k fan-out multiplies by average degree each round).
    The MIN(dist) fold collapses multi-path reachability exactly like
    the oracle's UNION + GROUP BY. Deeper traversals iterate the same
    join with lineage checkpoints every ~10 hops.
    """
    edges = _copurchase_edges(spark, sf_dir)
    sym = _symmetric(edges).transform(persist_tracked)
    seeds = sym.filter(F.col("src") % 500 == 0).select("src").distinct()
    h1 = (
        seeds.join(sym, "src")
        .select(F.col("src").alias("seed"), F.col("dst").alias("node"))
        .distinct()
    )
    h2 = (
        h1.join(sym, h1.node == sym.src)
        .select("seed", F.col("dst").alias("node"))
        .distinct()
    )
    reached = h1.select("seed", "node", F.lit(1).alias("dist")).unionAll(
        h2.select("seed", "node", F.lit(2).alias("dist"))
    )
    return (
        reached.filter(F.col("node") != F.col("seed"))
        .groupBy("seed", "node")
        .agg(F.min("dist").alias("dist"))
    )


@register(
    "copurchase_jaccard_similar_parts",
    oracle="""
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ), cnt AS (
      SELECT l_partkey, COUNT(*) AS n_orders FROM op GROUP BY 1
    )
    SELECT p.pa, p.pb, p.w,
           CAST(CAST(p.w AS DOUBLE)
                / CAST(ca.n_orders + cb.n_orders - p.w AS DOUBLE)
             AS DOUBLE) AS jaccard
    FROM pairs p
    JOIN cnt ca ON ca.l_partkey = p.pa
    JOIN cnt cb ON cb.l_partkey = p.pb
    ORDER BY jaccard DESC, pa, pb
    LIMIT 50
    """,
)
def copurchase_jaccard_similar_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most-similar part pairs by Jaccard over their order sets
    ("customers who bought X bought Y") — a set-similarity join with
    candidate pruning: ONLY pairs that actually co-occur in >= 2 orders
    are ever scored, so the join's output scales with true collisions,
    never |parts|^2 (the same scale argument as the MinHash banded
    join, here exact because co-occurrence itself is the candidate
    generator).

    Scale: the candidate pairs ARE the weighted co-purchase edge list
    (identical derivation: distinct (order, part), per-order pa < pb
    pairing, COUNT >= 2), so they come from the graph family's shared
    per-fixture materialization (r10 — this was the last graph query
    rebuilding its own pair-count shuffle at sf100); per-part order
    counts are the family's SECOND materialized derived table
    (_part_order_counts); the two count joins shuffle on partkey. The
    final top-50 is
    a TakeOrderedAndProject. Jaccard is an exact integer ratio
    evaluated in double — bit-identical on both engines — and the
    (pa, pb) tiebreak pins the cut deterministically.
    """
    pairs = _copurchase_edges(spark, sf_dir, keep_weight=True)
    cnt = _part_order_counts(spark, sf_dir)
    ca = cnt.select(F.col("l_partkey").alias("pa"), F.col("n_orders").alias("na"))
    cb = cnt.select(F.col("l_partkey").alias("pb"), F.col("n_orders").alias("nb"))
    return (
        pairs.join(ca, "pa")
        .join(cb, "pb")
        .select(
            "pa",
            "pb",
            "w",
            (
                F.col("w").cast("double")
                / (F.col("na") + F.col("nb") - F.col("w")).cast("double")
            )
            .cast("double")
            .alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("pa"), F.asc("pb"))
        .limit(50)
    )


KCORE_K = 4


@register(
    "copurchase_kcore_peel2",
    min_rows=0,
    empty_reason=(
        "the 4-core of the co-purchase graph is legitimately EMPTY at "
        "sf0.1 (orders spread over 10x more parts -> sparser per-part "
        "co-purchase); non-vacuous where the driver gates it: 503 rows "
        "at sf0.01 (CORRECTNESS_r04)"
    ),
    oracle=f"""
    WITH {_EDGES_SQL},
    d0 AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges
      ) GROUP BY node
    ), v1 AS MATERIALIZED (
      SELECT node FROM d0 WHERE deg >= {{k}}
    ), e1 AS MATERIALIZED (
      SELECT pa, pb FROM edges
      WHERE pa IN (SELECT node FROM v1) AND pb IN (SELECT node FROM v1)
    ), d1 AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT pa AS node FROM e1 UNION ALL SELECT pb FROM e1
      ) GROUP BY node
    ), v2 AS MATERIALIZED (
      SELECT node FROM d1 WHERE deg >= {{k}}
    ), e2 AS MATERIALIZED (
      SELECT pa, pb FROM e1
      WHERE pa IN (SELECT node FROM v2) AND pb IN (SELECT node FROM v2)
    )
    SELECT node AS part_key, CAST(COUNT(*) AS BIGINT) AS residual_degree
    FROM (
      SELECT pa AS node FROM e2 UNION ALL SELECT pb FROM e2
    ) GROUP BY node
    """.format(k=4),
)
def copurchase_kcore_peel2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two peeling rounds toward the 4-core of the co-purchase graph:
    drop nodes with degree < 4, re-derive the induced subgraph,
    repeat once, and report every surviving node with its residual
    degree. Fixed-depth peeling (like the unrolled PageRank/LPA) keeps
    the computation a static DAG the oracle can mirror CTE-for-CTE;
    full k-core is this loop iterated to fixpoint — each round is the
    same two operators (degree count, two semi-joins).

    Scale: each round is one hash aggregate over the edge endpoints
    plus two LEFT SEMI joins keyed on the node — no windows, no
    sorts; data strictly shrinks per round. The edge list is the
    persisted co-purchase build shared by the other graph queries, so
    peeling adds no new scan of lineitem. ``localCheckpoint`` between
    rounds truncates lineage so each round's plan is two joins deep
    regardless of round count — without it the optimizer re-expands
    the whole peel history every round (round-3 finding; the same
    rule the BFS/CC loops in graph/queries.py already follow).
    """
    edges = _copurchase_edges(spark, sf_dir)
    e2 = _peel_rounds(edges, KCORE_K, rounds=2)
    return _degrees(e2).select(
        F.col("node").alias("part_key"),
        F.col("deg").cast("bigint").alias("residual_degree"),
    )


def _degrees(e: DataFrame) -> DataFrame:
    return (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _peel_once(e: DataFrame, k: int) -> DataFrame:
    keep = _degrees(e).filter(F.col("deg") >= k).select("node")
    return (
        e.join(keep.withColumnRenamed("node", "pa"), "pa", "left_semi")
        .join(keep.withColumnRenamed("node", "pb"), "pb", "left_semi")
        .select("pa", "pb")
    )


def _peel_rounds(e: DataFrame, k: int, rounds: int) -> DataFrame:
    for _ in range(rounds):
        e = _peel_once(e, k).localCheckpoint(eager=True)
    return e


KCORE_FIX_K = 3
# Oracle unroll depth for the fixpoint peel. Peeling is monotone and
# idempotent at the fixpoint, so an oracle unrolled to N rounds equals
# the true fixpoint whenever convergence takes <= N rounds; measured
# convergence is 11 rounds at sf0.01 and 3 at sf0.1
# (tests/test_graph.py pins the <= bound at the fixture scales).
KCORE_FIX_UNROLL = 20


def _kcore_unrolled_sql(k: int, rounds: int) -> str:
    """Generate the N-round-unrolled DuckDB peel (e0 .. eN CTEs)."""
    # MATERIALIZED stops DuckDB from re-inlining each round's CTE at
    # every reference — inlined, the e0..eN chain re-expands the
    # parquet scan exponentially ("too many open files" at N=20).
    parts = [_EDGES_SQL, "e0 AS MATERIALIZED (SELECT pa, pb FROM edges)"]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT pa AS node FROM e{i - 1} UNION ALL SELECT pb FROM e{i - 1}
      ) GROUP BY node
    ), v{i} AS MATERIALIZED (
      SELECT node FROM d{i} WHERE deg >= {k}
    ), e{i} AS MATERIALIZED (
      SELECT pa, pb FROM e{i - 1}
      WHERE pa IN (SELECT node FROM v{i}) AND pb IN (SELECT node FROM v{i})
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT node AS part_key, CAST(COUNT(*) AS BIGINT) AS residual_degree
    FROM (
      SELECT pa AS node FROM e{rounds} UNION ALL SELECT pb FROM e{rounds}
    ) GROUP BY node
    """
    )


@register(
    "copurchase_kcore_fixpoint",
    min_rows=0,
    empty_reason=(
        "the 3-core is legitimately EMPTY at sf0.1 (same sparsity shift "
        "as copurchase_kcore_peel2); non-vacuous at the driver's gate "
        "scale: 935 rows at sf0.01 (CORRECTNESS_r05), and the "
        "convergence loop itself is pinned by tests/test_graph.py"
    ),
    oracle=_kcore_unrolled_sql(KCORE_FIX_K, KCORE_FIX_UNROLL),
)
def copurchase_kcore_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact k-core of the co-purchase graph (k = 3): peel nodes
    with degree < k and repeat UNTIL NO EDGE IS DROPPED — the
    peel-to-fixpoint generalization the fixed-depth ``peel2`` query
    unrolls (round-3 verdict item 3/4: iterate-to-convergence with
    bounded lineage).

    Convergence: each round ends in an eager ``localCheckpoint`` whose
    job also evaluates an ``observe`` edge count, so the
    round-boundary action doubles as the convergence probe — one Spark
    job per round, no extra count pass, and the driver only ever holds
    a scalar. The peel is monotone (edge set strictly shrinks until
    fixpoint), so "count unchanged" IS the fixpoint test.

    Oracle: DuckDB can't iterate to a data-dependent fixpoint, so the
    oracle is the same peel unrolled ``KCORE_FIX_UNROLL`` (20) rounds —
    equal to the fixpoint whenever true convergence needs <= 20 rounds
    (measured: 11 at sf0.01; a test pins the bound at fixture scales,
    and the implementation raises if it ever exceeds the unroll depth
    so a silent oracle divergence is impossible).

    Scale: identical per-round shape to peel2 (one endpoint-count hash
    aggregate + two LEFT SEMI joins), lineage O(1) via per-round
    checkpoints, total work bounded by rounds x shrinking edge list —
    the standard distributed k-core decomposition loop.
    """
    from pyspark.sql import Observation

    edges = _copurchase_edges(spark, sf_dir)
    # Round 0 reads the columnar cache _copurchase_edges already holds
    # — an initial localCheckpoint would duplicate the full edge list
    # as row-format heap blocks (the copurchase_bfs_converged sf100 OOM
    # class) for zero lineage benefit; the per-round checkpoints of the
    # SHRINKING peeled list below are what bound lineage depth.
    e = edges
    n_prev = e.count()
    for rnd in range(KCORE_FIX_UNROLL):
        obs = Observation(f"kcore_edges_{rnd}_{id(e)}")
        e2 = (
            _peel_once(e, KCORE_FIX_K)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_now = obs.get["n"]
        e = e2
        if n_now == n_prev:
            break
        n_prev = n_now
    else:
        raise RuntimeError(
            f"k-core peel did not converge within {KCORE_FIX_UNROLL} rounds; "
            "raise KCORE_FIX_UNROLL (and regenerate the oracle unroll)"
        )
    return _degrees(e).select(
        F.col("node").alias("part_key"),
        F.col("deg").cast("bigint").alias("residual_degree"),
    )


@register(
    "copurchase_cc_converged",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT pa AS a, pb AS b FROM edges
      UNION ALL SELECT pb, pa FROM edges
    ),
    walk(node, comp) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.b, w.comp FROM walk w JOIN sym s ON s.a = w.node
    )
    SELECT CAST(node AS BIGINT) AS part_key,
           CAST(MIN(comp) AS BIGINT) AS component
    FROM walk GROUP BY node
    """,
)
def copurchase_cc_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph, iterated TO
    CONVERGENCE (round-3 verdict item 4): every part labeled with the
    minimum part key reachable from it.

    Engine: ``graph.traverse.components`` — seeded HashMin with two
    pointer jumps per round (Kiveris et al., SoCC 2014), O(log d)
    rounds: 6 instead of plain HashMin's 11 on the sf0.01 graph
    (diameter ~11). Two further variants were measured and REJECTED:
    fusing rounds into join→union-with-self→one min-aggregate won at
    sf0.1 but cost ~20% more CPU at sf10 (the union ships the full
    label table into the aggregate exchange each round), and a third
    pointer jump lost outright (7.04 vs 4.00 s at sf0.1).

    Oracle: DuckDB WITH RECURSIVE min-reachability closure (node,
    seed) pairs, then MIN per node — exact, order-independent, but
    quadratic in component size, which is why it is the ORACLE (gate
    runs at sf0.01: ~1.9k nodes) and the kernel is the engine.
    """
    edges = _copurchase_edges(spark, sf_dir)
    return components(
        edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    ).select(
        F.col("id").cast("bigint").alias("part_key"),
        F.col("component").cast("bigint").alias("component"),
    )


@register(
    "copurchase_degree_powerlaw",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges)
      GROUP BY p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(d) / 2 AS BIGINT) AS n_edges,
           ROUND(AVG(CAST(d AS DOUBLE)), 6) AS mean_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           ROUND(1.0 + COUNT(*) / SUM(ln(d / 0.5)), 6) AS alpha_mle
    FROM deg
    """,
)
def copurchase_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution summary of the co-purchase graph with the
    Clauset-Shalizi-Newman continuous-MLE power-law exponent
    (alpha = 1 + n / sum(ln(k / (kmin - 1/2))), kmin = 1) — the
    one-number check of whether the graph is heavy-tailed enough to
    need the degree-oriented triangle strategy and skew-aware joins
    used elsewhere in this module.

    Determinism: degrees are exact integers; the log-sum drifts
    ~1e-12 across accumulation orders, inside the 6-dp round.

    Scale: degree counting is one explode + map-side-combined count;
    the summary is a one-row reduction (allowlisted final exchange).
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.explode(F.array("pa", "pb")).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    n = F.count(F.lit(1))
    return deg.agg(
        n.cast("bigint").alias("n_nodes"),
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        F.round(F.avg(F.col("d").cast("double")), 6).alias("mean_degree"),
        F.max("d").cast("bigint").alias("max_degree"),
        F.round(
            F.lit(1.0) + n / F.sum(F.log(F.col("d") / F.lit(0.5))), 6
        ).alias("alpha_mle"),
    )


@register(
    "copurchase_assortativity",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS MATERIALIZED (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges)
      GROUP BY p
    ), sym AS MATERIALIZED (
      SELECT da.d AS dx, db.d AS dy
      FROM edges e JOIN deg da ON da.p = e.pa JOIN deg db ON db.p = e.pb
      UNION ALL
      SELECT db.d, da.d
      FROM edges e JOIN deg da ON da.p = e.pa JOIN deg db ON db.p = e.pb
    )
    SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
           ROUND(corr(CAST(dx AS DOUBLE), CAST(dy AS DOUBLE)), 6)
             AS assortativity
    FROM sym
    """,
)
def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    Pearson correlation of endpoint degrees over the symmetrized edge
    list. Positive = hubs buy with hubs; negative = hub-and-spoke.
    Tells you whether degree-based partitioning will face correlated
    or scattered hot spots.

    Determinism: the correlated values are exact integer degrees; the
    corr moment sums drift ~1e-12, inside the 6-dp round.

    Scale: two hash joins keyed on the edge endpoints against the
    (node, degree) table, one moment aggregate; the symmetrization is
    a union of the same joined frame, not a second join pass in
    Spark's plan (both orientations are projected from one join).
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.explode(F.array("pa", "pb")).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("p").alias("pa"), F.col("d").alias("dx"))
    db = deg.select(F.col("p").alias("pb"), F.col("d").alias("dy"))
    joined = edges.join(da, "pa").join(db, "pb").select("dx", "dy")
    sym = joined.select(
        F.explode(
            F.array(
                F.struct(F.col("dx").alias("x"), F.col("dy").alias("y")),
                F.struct(F.col("dy").alias("x"), F.col("dx").alias("y")),
            )
        ).alias("pair")
    ).select(F.col("pair.x").alias("dx"), F.col("pair.y").alias("dy"))
    return sym.agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        F.round(
            F.corr(F.col("dx").cast("double"), F.col("dy").cast("double")), 6
        ).alias("assortativity"),
    )


@register(
    "copurchase_clustering_global",
    oracle=f"""
    WITH {_EDGES_SQL},
    tri AS (
      SELECT COUNT(*) AS n_tri
      FROM edges e1
      JOIN edges e2 ON e2.pa = e1.pb
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ), deg AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges)
      GROUP BY p
    ), wed AS (
      SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
    )
    SELECT CAST(n_tri AS BIGINT) AS n_triangles,
           n_wedges,
           ROUND(3.0 * n_tri / n_wedges, 6) AS global_clustering
    FROM tri CROSS JOIN wed
    """,
)
def copurchase_clustering_global(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global clustering coefficient (transitivity) of the
    co-purchase graph: 3 x triangles / wedges — what fraction of
    "A-with-B and A-with-C" pairs close into a clique.

    The Spark side counts triangles with the SAME degree-oriented
    wedge join as copurchase_triangles (each triangle generated
    exactly once at its lowest-degree apex — the skew-bounded
    strategy); the oracle counts them with the naive id-ordered
    3-way join. Equality of the two counts re-proves the orientation
    rewrite on the closed-count level. Wedge counts are exact
    integers from the degree table; the coefficient is one division.

    Scale: triangle side is the audited 3-shuffle oriented join;
    wedges reuse the degree aggregate; result is one row.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.explode(F.array("pa", "pb")).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("p").alias("pa"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("p").alias("pb"), F.col("d").alias("deg_b"))
    ed = edges.join(da, "pa").join(db, "pb")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("pa") < F.col("pb"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
            "dst_deg"
        ),
    ).transform(persist_tracked)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            (F.col("o1.dst_deg") < F.col("o2.dst_deg"))
            | (
                (F.col("o1.dst_deg") == F.col("o2.dst_deg"))
                & (F.col("o1.dst") < F.col("o2.dst"))
            )
        ),
    ).select(F.col("o1.dst").alias("v"), F.col("o2.dst").alias("w"))
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    n_tri = wedges.join(closing, ["v", "w"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    n_wed = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint"))
        .cast("bigint")
        .alias("n_wedges")
    )
    return n_tri.crossJoin(F.broadcast(n_wed)).select(
        "n_triangles",
        "n_wedges",
        F.round(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
        ).alias("global_clustering"),
    )


# ------------------------------------------------- BFS to fixpoint

BFS_FIX_UNROLL = 20


@register(
    "copurchase_bfs_converged",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL.strip()},
    und AS MATERIALIZED (
      SELECT pa AS s, pb AS d FROM edges
      UNION ALL
      SELECT pb, pa FROM edges
    ), seed AS (
      SELECT MIN(pa) AS m FROM edges
    ), walk(node, dist) AS (
      SELECT m, 0 FROM seed
      UNION
      SELECT u.d, w.dist + 1
      FROM walk w JOIN und u ON u.s = w.node
      WHERE w.dist < {BFS_FIX_UNROLL}
    )
    SELECT node, CAST(MIN(dist) AS INT) AS dist
    FROM walk GROUP BY node
    """,
)
def copurchase_bfs_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS run to FIXPOINT (frontier iteration until the
    frontier empties) from the smallest co-purchase part — completing
    the traversal family's convergence tier alongside
    copurchase_cc_converged (HashMin) and copurchase_kcore_fixpoint
    (peel): fixed-depth (bfs_2hop), engine-loop recursive SQL
    (bfs_recursive_sql), and now the distance map of the seed's whole
    component.

    Engine: ``graph.traverse.reach``. Per round: frontier ⋈ edges,
    distinct, LEFT ANTI against the settled distance set (first arrival
    IS the BFS distance, so each node expands exactly once: total work
    O(E) like the textbook queue algorithm, not O(E * rounds)).

    The oracle is DuckDB's recursive walk bounded at {BFS_FIX_UNROLL}
    hops with MIN(dist): min-over-walks equals BFS distance once the
    bound exceeds the component's eccentricity from the seed (walks
    only ever overestimate), and the engine raises if convergence
    takes longer — the same monotone unroll-bound argument the k-core
    fixpoint gate uses (dedup-UNION recursion keeps the oracle's state
    to distinct (node, dist) pairs, never the walk set).
    """
    edges = _copurchase_edges(spark, sf_dir)
    seed = edges.agg(F.min("pa")).collect()[0][0]
    first = spark.createDataFrame([(int(seed), 0)], "node long, depth int")
    return reach(
        first, _symmetric(edges), ("node",), BFS_FIX_UNROLL, strict=True
    ).withColumnRenamed("depth", "dist")


# ------------------------------------- weighted SSSP to fixpoint

SSSP_FIX_UNROLL = 40
SSSP_DIST_CAP = 192


@register(
    "copurchase_sssp_weighted",
    oracle=f"""
    WITH RECURSIVE
    op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    wedges AS MATERIALIZED (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ),
    sym AS MATERIALIZED (
      SELECT pa AS s, pb AS d, w FROM wedges
      UNION ALL
      SELECT pb, pa, w FROM wedges
    ),
    seed AS (SELECT MIN(pa) AS m FROM wedges),
    walk(node, dist) AS (
      SELECT m, CAST(0 AS BIGINT) FROM seed
      UNION
      SELECT u.d, w.dist + u.w
      FROM walk w JOIN sym u ON u.s = w.node
      WHERE w.dist + u.w <= {SSSP_DIST_CAP}
    )
    SELECT CAST(node AS BIGINT) AS part_key,
           CAST(MIN(dist) AS BIGINT) AS dist
    FROM walk GROUP BY node
    """,
)
def copurchase_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths over the WEIGHTED co-purchase graph
    (edge cost = co-occurrence count), iterated to fixpoint — the
    Bellman-Ford frontier ("delta") relaxation: each round expands only
    the nodes whose tentative distance improved last round, so settled
    regions are never re-relaxed and total work is O(E x improvement
    rounds) with the frontier typically collapsing geometrically.

    Completes the convergence tier's weighted member next to
    copurchase_bfs_converged (unit weights), copurchase_cc_converged
    (HashMin), copurchase_kcore_fixpoint (peel), and
    embedding_kmeans_lloyd2 (EM).

    Per round: frontier ⋈ symmetric weighted edges (shuffle on node
    key), min-combine per destination (map-side partials), a LEFT join
    against the current distance map to keep strict improvements, and
    an anti-join + union to write them back. Frontier and distance map
    are localCheckpoint-ed per round (O(1) lineage); the convergence
    probe (improved-count) rides the checkpoint job via Observation.
    All distances are BIGINT sums of BIGINT weights — exact.

    Oracle: DuckDB recursive walk enumerating distinct (node, dist)
    pairs with dist <= {SSSP_DIST_CAP}, then MIN per node. Positive
    weights make path prefixes monotone, so capping at
    {SSSP_DIST_CAP} cannot lose any path whose total is within the
    cap — the capped MIN equals true SSSP wherever the true distance
    is <= cap, and the engine RAISES if any settled distance exceeds
    the cap, making silent divergence impossible (the k-core/BFS
    unroll-bound argument, applied to distance instead of depth).
    """
    from pyspark.sql import Observation

    edges = _copurchase_edges(spark, sf_dir, keep_weight=True)
    # Columnar persist, not localCheckpoint, for the static weighted
    # edge list (the copurchase_bfs_converged sf100 OOM lesson), keyed
    # on src — the per-round relaxation join key (_persist_keyed).
    sym = _persist_keyed(
        edges.select(
            F.col("pa").alias("src"), F.col("pb").alias("dst"), F.col("w")
        )
        .unionByName(
            edges.select(
                F.col("pb").alias("src"), F.col("pa").alias("dst"), F.col("w")
            )
        ),
        "src",
    )
    sym.count()  # eager: materialize once before the rounds begin
    seed = edges.agg(F.min("pa")).collect()[0][0]
    dist = spark.createDataFrame(
        [(int(seed), 0)], "node long, dist long"
    ).localCheckpoint(eager=True)
    frontier = dist
    for _rnd in range(SSSP_FIX_UNROLL):
        cand = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(
                F.col("dst").alias("node"),
                (frontier["dist"] + sym["w"]).alias("nd"),
            )
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        obs = Observation(f"sssp_improved_{_rnd}_{id(frontier)}")
        improved = (
            cand.join(dist.withColumnRenamed("dist", "cur"), "node", "left")
            .filter(F.col("cur").isNull() | (F.col("nd") < F.col("cur")))
            .select("node", F.col("nd").alias("dist"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if obs.get["n"] == 0:
            break
        dist = (
            dist.join(improved, "node", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    else:
        raise RuntimeError(
            f"SSSP did not converge within {SSSP_FIX_UNROLL} rounds; raise "
            "SSSP_FIX_UNROLL"
        )
    max_dist = dist.agg(F.max("dist")).collect()[0][0]
    if max_dist > SSSP_DIST_CAP:
        raise RuntimeError(
            f"settled SSSP distance {max_dist} exceeds oracle cap "
            f"{SSSP_DIST_CAP}; raise SSSP_DIST_CAP"
        )
    return dist.select(
        F.col("node").cast("bigint").alias("part_key"),
        F.col("dist").cast("bigint").alias("dist"),
    )


# --------------------------------- multi-source BFS / harmonic centrality

HARMONIC_N_SEEDS = 8


@register(
    "copurchase_harmonic_centrality_seeds",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL.strip()},
    und AS MATERIALIZED (
      SELECT pa AS s, pb AS d FROM edges
      UNION ALL
      SELECT pb, pa FROM edges
    ),
    nodes AS (SELECT DISTINCT s AS n FROM und),
    seeds AS (SELECT n FROM nodes ORDER BY n LIMIT {HARMONIC_N_SEEDS}),
    walk(seed, node, dist) AS (
      SELECT n, n, 0 FROM seeds
      UNION
      SELECT w.seed, u.d, w.dist + 1
      FROM walk w JOIN und u ON u.s = w.node
      WHERE w.dist < {BFS_FIX_UNROLL}
    ),
    best AS (
      SELECT seed, node, MIN(dist) AS dist
      FROM walk GROUP BY seed, node
    )
    SELECT CAST(node AS BIGINT) AS part_key,
           CAST(COUNT(*) AS BIGINT) AS n_seeds_reaching,
           CAST(SUM(CAST(CAST(1 AS DOUBLE) / dist AS DECIMAL(28,14)))
                AS DOUBLE) AS harmonic
    FROM best
    WHERE dist > 0
    GROUP BY node
    """,
)
def copurchase_harmonic_centrality_seeds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seed-set harmonic centrality: one MULTI-SOURCE BFS from the
    {HARMONIC_N_SEEDS} smallest part keys, then per node the count of
    seeds reaching it and the harmonic sum of 1/distance — the
    landmark-sample estimator for closeness/harmonic centrality
    (exact centrality needs all-pairs distances; the standard scale
    play is a fixed seed sample, cf. Boldi & Vigna's centrality
    survey and HyperBall's further sketch step).

    The distributed pattern is the interesting part: ALL seeds run in
    the SAME frontier loop with composite state key (seed, node) —
    k BFS traversals for the price of one loop's scheduling, each
    round one shuffle join + one anti-join over a frontier that holds
    every seed's wave at once. Per-seed expansion stays O(E), total
    O(k*E) state-bounded work, rounds bounded by the max seed
    eccentricity (raises past {BFS_FIX_UNROLL} — the oracle's
    recursion bound — so silent divergence is impossible).

    The harmonic sum uses the engine-standard order-independent
    idiom: each 1/dist term is cast to DECIMAL(28,14) before SUM
    (the PageRank contribution pattern), so the aggregate is
    bit-equal across engines.
    """
    edges = _copurchase_edges(spark, sf_dir)
    sym = _symmetric(edges)
    seeds = [
        r.src
        for r in sym.select("src").distinct().orderBy("src").limit(
            HARMONIC_N_SEEDS
        ).collect()
    ]
    first = spark.createDataFrame(
        [(int(s), int(s), 0) for s in seeds], "seed long, node long, depth int"
    )
    dist = reach(
        first, sym, ("seed", "node"), BFS_FIX_UNROLL, strict=True
    ).withColumnRenamed("depth", "dist")
    return (
        dist.filter(F.col("dist") > 0)
        .groupBy(F.col("node").cast("bigint").alias("part_key"))
        .agg(
            F.count(F.lit(1)).alias("n_seeds_reaching"),
            F.sum(
                (F.lit(1.0) / F.col("dist")).cast("decimal(28,14)")
            )
            .cast("double")
            .alias("harmonic"),
        )
    )


# --------------------------------- HITS on the customer->part bipartite graph

HITS_TOPK = 50


@register(
    "bipartite_hits_parts2",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    a1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY p),
    h1 AS MATERIALIZED (
      SELECT e.c, CAST(SUM(a1.a) AS BIGINT) AS h
      FROM e JOIN a1 ON a1.p = e.p GROUP BY e.c
    ),
    a2 AS MATERIALIZED (
      SELECT e.p, CAST(SUM(h1.h) AS BIGINT) AS a
      FROM e JOIN h1 ON h1.c = e.c GROUP BY e.p
    ),
    mx AS (SELECT MAX(a) AS mxa FROM a2)
    SELECT p AS part_key, a AS authority_raw,
           CAST(a AS DOUBLE) / CAST(mxa AS DOUBLE) AS authority
    FROM a2, mx
    ORDER BY a DESC, p
    LIMIT 50
    """,
)
def bipartite_hits_parts2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs-and-authorities) on the customer->part
    purchase bipartite graph, unrolled to two authority updates:
    customers are hubs, parts are authorities, and with h0 = 1 the
    iterates are a1(p) = in-degree, h1(c) = sum of a1 over the
    customer's parts, a2(p) = sum of h1 over the part's buyers — the
    (A^T A) power step that separates "bought by many BIG buyers" from
    plain popularity. Per-iteration L2 normalization is deliberately
    deferred: it rescales every score by the same constant and so
    cannot change the iterate directions; one division by max(a2) at
    the end reproduces the usual [0,1] presentation. The payoff is
    that every intermediate is an exact integer — no float sum order
    to disagree on — and the oracle matches bit-for-bit.

    Scale shape (r10 rewrite — the r9 sweep found the sf100 run dying
    with three CONCURRENT live shuffles of the ~550M-row distinct edge
    list, ~70 GB of simultaneous shuffle files on a 57 GB scratch):
    the edge list is persisted PRE-PARTITIONED AND SORTED on ``p`` via
    ``_persist_keyed``, so (a) the a1 degree count aggregates the
    cache with NO exchange, (b) the h1 join reads the cache's
    partitioning/ordering on the edge side with NO exchange and no
    sort, and (c) when the hub-score table (one row per active
    customer — bounded by the CUSTOMER DIMENSION, not the fact table)
    is broadcastable, the a2 join is a BHJ that PRESERVES the cache's
    hash(p) partitioning, so the final authority sum also aggregates
    exchange-free. Net: the 550M-row table crosses the network ONCE
    (the keyed persist), vs 3x before; the only other wide exchange
    is h1's map-side-combined groupBy(c), which emits at most
    tasks x |C| partial rows. Above the broadcast gate the a2 join
    falls back to one sequential shuffle-by-c of the cache — still
    never concurrent with another edge shuffle. The normalizing max
    is a one-row aggregate broadcast back (the engine's scalar
    crossJoin pattern), and the top-50 is TakeOrderedAndProject —
    per-partition partial top-k, never a global sort.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # No spread=True: the fact side is exchanged by l_orderkey for the
    # join anyway; a prior repartition is a second full shuffle.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    e = _persist_keyed(
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct(),
        "p",
    )
    a1 = e.groupBy("p").agg(F.count(F.lit(1)).alias("a"))
    h1 = (
        e.join(a1, "p")
        .groupBy("c")
        .agg(F.sum("a").alias("h"))
    )
    # Hub scores are one row per purchasing customer — dimension-sized.
    # Gate the broadcast on the customer fixture's on-disk bytes (a
    # cluster would hold ~512 MB; stay well under the 32 GB single-JVM
    # heap here) so a 100 TB-shaped run degrades to the sequential
    # shuffle join instead of an executor OOM. dir_bytes returns 0
    # when the path cannot be statted — UNKNOWN must take the safe
    # (shuffle) branch, not the broadcast it exists to gate.
    from node_gedcom_graph_spark.sources.tables import dir_bytes

    cust_bytes = dir_bytes(
        os.path.join(sf_dir.rstrip("/"), "customer.parquet")
    )
    if 0 < cust_bytes < (256 << 20):
        h1 = F.broadcast(h1)
    a2 = e.join(h1, "c").groupBy("p").agg(F.sum("h").alias("a"))
    mx = a2.agg(F.max("a").alias("mxa"))
    out = (
        a2.crossJoin(F.broadcast(mx))
        .select(
            F.col("p").alias("part_key"),
            F.col("a").alias("authority_raw"),
            (F.col("a").cast("double") / F.col("mxa").cast("double")).alias(
                "authority"
            ),
        )
        .orderBy(F.desc("authority_raw"), F.asc("part_key"))
        .limit(HITS_TOPK)
    )
    return out


# --------------------------------- deterministic hash-seeded random walks

WALK_STEPS = 4


@register(
    "copurchase_hash_walks4",
    oracle=f"""
    WITH {_EDGES_SQL},
    und AS MATERIALIZED (
      SELECT pa AS s, pb AS d FROM edges
      UNION ALL
      SELECT pb, pa FROM edges
    ),
    stps AS (SELECT unnest([0, 1, 2, 3]) AS stp),
    trans AS MATERIALIZED (
      SELECT s AS cur, stp,
             CAST(substr(MIN(md5(s || '-' || stp || '-' || d)
                             || '#' || CAST(d AS VARCHAR)), 34)
                  AS BIGINT) AS nxt
      FROM und CROSS JOIN stps
      GROUP BY s, stp
    ),
    w0 AS (SELECT DISTINCT s AS wid FROM und),
    w1 AS (SELECT w0.wid, t.nxt FROM w0 JOIN trans t
           ON t.cur = w0.wid AND t.stp = 0),
    w2 AS (SELECT w1.wid, t.nxt FROM w1 JOIN trans t
           ON t.cur = w1.nxt AND t.stp = 1),
    w3 AS (SELECT w2.wid, t.nxt FROM w2 JOIN trans t
           ON t.cur = w2.nxt AND t.stp = 2),
    w4 AS (SELECT w3.wid, t.nxt FROM w3 JOIN trans t
           ON t.cur = w3.nxt AND t.stp = 3)
    SELECT wid AS walk_id, CAST(stp AS BIGINT) AS step, node FROM (
      SELECT wid, 0 AS stp, wid AS node FROM w0
      UNION ALL SELECT wid, 1, nxt FROM w1
      UNION ALL SELECT wid, 2, nxt FROM w2
      UNION ALL SELECT wid, 3, nxt FROM w3
      UNION ALL SELECT wid, 4, nxt FROM w4
    )
    """,
)
def copurchase_hash_walks4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {WALK_STEPS}-step random walks from EVERY node of
    the co-purchase graph — the DeepWalk/node2vec corpus-generation
    step, made oracle-checkable by replacing the RNG with a hash
    draw: at step t from node u the walker moves to the neighbor
    minimizing md5(u-t-v). Because the draw depends only on (u, t),
    the whole step is a per-(node, step) ARGMIN over the edge list —
    a transition TABLE, not a per-walker sample — and the walk layer
    is {WALK_STEPS} unrolled joins against it. (Shared randomness
    across walkers visiting the same node at the same step is the
    documented trade: it preserves the per-walk marginal exactly and
    is what makes the operator a pure dataflow.)

    Scale shape: the transition table is |V| x {WALK_STEPS} rows built
    by one map-side-combinable MIN over edges x steps (the argmin is a
    MIN over 'md5#node' strings — fixed-width hash prefix, node
    payload extracted by substr, no window); each walk step is one
    shuffle join keyed by the current node. Total O(steps * E) work,
    O(steps * V) state — the same bound as the BFS family, and walks
    extend by adding joins, never by widening rows.
    """
    edges = _copurchase_edges(spark, sf_dir)
    sym = edges.select(
        F.col("pa").alias("s"), F.col("pb").alias("d")
    ).unionByName(edges.select(F.col("pb").alias("s"), F.col("pa").alias("d")))
    stps = F.explode(
        F.array(*[F.lit(i) for i in range(WALK_STEPS)])
    ).alias("stp")
    key = F.concat(
        F.md5(
            F.concat_ws(
                "-", F.col("s"), F.col("stp"), F.col("d")
            )
        ),
        F.lit("#"),
        F.col("d").cast("string"),
    )
    # r10: keyed persist (repartition + sort on cur) instead of a bare
    # persist — the 4 unrolled step joins below all key on cur, so the
    # cached table satisfies each SMJ's distribution/order and the
    # trans side joins with NO per-step Exchange or Sort (the
    # _persist_keyed idiom; the stp filter is narrow and preserves
    # the partitioning).
    trans = _persist_keyed(
        sym.select("s", "d", stps)
        .groupBy(F.col("s").alias("cur"), "stp")
        .agg(
            F.substring(F.min(key), 34, 32).cast("bigint").alias("nxt")
        ),
        "cur",
    )
    cur = sym.select("s").distinct().select(F.col("s").alias("wid"))
    out = cur.select(
        "wid", F.lit(0).cast("bigint").alias("step"), F.col("wid").alias("node")
    )
    pos = cur.select("wid", F.col("wid").alias("node"))
    for t in range(WALK_STEPS):
        step_t = trans.filter(F.col("stp") == t).select("cur", "nxt")
        pos = pos.join(step_t, pos["node"] == step_t["cur"]).select(
            "wid", F.col("nxt").alias("node")
        )
        out = out.unionByName(
            pos.select(
                "wid",
                F.lit(t + 1).cast("bigint").alias("step"),
                "node",
            )
        )
    return out.select(F.col("wid").alias("walk_id"), "step", "node")


# --------------------------------- personalized PageRank (seeded restart)

PPR_N_SEEDS = 4
_PPR_ALPHA_OVER_S = 0.15 / PPR_N_SEEDS  # 0.0375, exact in both engines


def _ppr_iter_sql(prev: str, out: str) -> str:
    return f"""
    c_{out} AS (
      SELECT s.dst AS p,
             CAST(SUM(CAST(r.r / s.d AS DECIMAL(28,14))) AS DOUBLE) AS sc
      FROM sym2 s JOIN {prev} r ON r.p = s.src
      GROUP BY s.dst
    ),
    {out} AS (
      SELECT COALESCE(c.p, sd.sp) AS p,
             (CASE WHEN sd.sp IS NOT NULL
                   THEN CAST({_PPR_ALPHA_OVER_S} AS DOUBLE)
                   ELSE CAST(0 AS DOUBLE) END)
             + CAST(0.85 AS DOUBLE) * COALESCE(c.sc, CAST(0 AS DOUBLE)) AS r
      FROM c_{out} c FULL OUTER JOIN seeds sd ON sd.sp = c.p
    )"""


@register(
    "copurchase_ppr_seeds3",
    oracle=f"""
    WITH {_EDGES_SQL},
    sym AS MATERIALIZED (
      SELECT pa AS src, pb AS dst FROM edges
      UNION ALL
      SELECT pb AS src, pa AS dst FROM edges
    ),
    degs AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
    sym2 AS MATERIALIZED (
      SELECT s.src, s.dst, g.d FROM sym s JOIN degs g ON g.src = s.src
    ),
    seeds AS MATERIALIZED (
      SELECT src AS sp FROM degs ORDER BY src LIMIT {PPR_N_SEEDS}
    ),
    r0 AS (SELECT sp AS p, CAST(0.25 AS DOUBLE) AS r FROM seeds),
    {_ppr_iter_sql('r0', 'r1').lstrip()},
    {_ppr_iter_sql('r1', 'r2').lstrip()},
    {_ppr_iter_sql('r2', 'r3').lstrip()}
    SELECT p AS p_partkey, r AS ppr FROM r3
    """,
)
def copurchase_ppr_seeds3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank: the restart mass (alpha = 0.15) returns
    to a fixed {PPR_N_SEEDS}-seed set instead of spreading uniformly —
    the recommender-system workhorse ("parts relevant to THIS
    basket"), unrolled to 3 synchronous iterations like the global
    PageRank. The rank relation stays SPARSE: it starts as
    {PPR_N_SEEDS} rows and only ever holds nodes already reached, so
    early iterations touch a neighborhood, not the graph — at 100 TB
    this locality is the whole point of PPR over global PR (work
    scales with the seed set's expanding frontier, and teleportation
    never manufactures mass at unreached nodes).

    Determinism: identical shape to copurchase_pagerank_3iter —
    per-edge contributions r/deg cast to DECIMAL(28,14) before the
    per-node sum, restart term 0.15/{PPR_N_SEEDS} written as the exact
    double literal on both engines, damping mix the same IEEE tree.
    The per-iteration FULL OUTER join with the seed table keeps seeds
    alive even when no mass flows back to them yet.
    """
    edges = _copurchase_edges(spark, sf_dir)
    sym = _symmetric(edges)
    degs = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    sym2 = sym.join(degs, "src").transform(persist_tracked)
    seeds = degs.select("src").orderBy("src").limit(PPR_N_SEEDS).select(
        F.col("src").alias("sp")
    ).transform(persist_tracked)
    ranks = seeds.select(
        F.col("sp").alias("p"), F.lit(1.0 / PPR_N_SEEDS).alias("r")
    )
    for _ in range(3):
        contrib = (
            sym2.join(ranks, sym2.src == ranks.p)
            .select(
                "dst",
                (F.col("r") / F.col("d")).cast("decimal(28,14)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("sc"))
        )
        ranks = (
            contrib.join(seeds, contrib["dst"] == seeds["sp"], "full_outer")
            .select(
                F.coalesce(F.col("dst"), F.col("sp")).alias("p"),
                (
                    F.when(
                        F.col("sp").isNotNull(),
                        F.lit(_PPR_ALPHA_OVER_S),
                    ).otherwise(F.lit(0.0))
                    + F.lit(0.85) * F.coalesce(F.col("sc"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select(F.col("p").alias("p_partkey"), F.col("r").alias("ppr"))


# ------------------------- incremental materialized-view maintenance

INCR_DELTA_MOD = 10  # orders with l_orderkey % 10 == 7 are "appended"


def _incr_pair_counts(li: DataFrame) -> DataFrame:
    """Packed-key pair counts (pk, w) with w >= 1 over one order set —
    the unthresholded form both the base snapshot state and the
    appended batch share (thresholding to w >= 2 must happen AFTER the
    merge or increments on w = 1 pairs are lost)."""
    op = (
        li.select("l_orderkey", "l_partkey")
        .repartition(F.col("l_orderkey"))
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            # Same 31-bit key-pack guard as the main edge build:
            # raise, never corrupt, if a partkey outgrows the pack.
            F.when(
                (F.col("a.l_partkey") < 0)
                | (F.col("b.l_partkey") < 0)
                | (F.col("a.l_partkey") >= F.lit(1 << 31))
                | (F.col("b.l_partkey") >= F.lit(1 << 31)),
                F.raise_error(
                    F.lit(
                        "incremental pair key exceeds 31 bits; "
                        "unpack copurchase_edges_incremental"
                    )
                ),
            )
            .otherwise(
                F.shiftleft(F.col("a.l_partkey"), 32)
                + F.col("b.l_partkey")
            )
            .alias("pk")
        )
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _incr_base_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The base snapshot's pair-count state (pk, w >= 1 over non-delta
    orders) — the state a production refresh KEEPS between batches,
    served from the per-fixture materialization cache (r11, guide
    §2.4/§6). Deriving it from the fact table inside every merge made
    the r10 "incremental" path cost the same as a full rebuild
    (242.5 s sf100 ≈ one rebuild); with the state materialized, the
    per-refresh work is O(pairs(delta) + |state|). Cache key carries
    the split mod so a different base/delta boundary can never be
    served a stale state table."""

    def build():
        lineitem = load_table(spark, sf_dir, "lineitem")
        is_delta = (F.col("l_orderkey") % INCR_DELTA_MOD) == 7
        return _incr_pair_counts(lineitem.filter(~is_delta))

    df = _cache_serve(spark, sf_dir, f"-incrbase{INCR_DELTA_MOD}", build)
    return df if df is not None else build()


@register(
    "copurchase_edges_incremental",
    oracle="""
    WITH op AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS pa, b.l_partkey AS pb,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def copurchase_edges_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL maintenance of the weighted co-purchase edge list —
    the refresh path for the materialized derived table the whole
    graph family reads (_copurchase_edges): given the base snapshot's
    pair-count state and a batch of appended orders, produce the new
    edge list WITHOUT re-pairing the base orders.

    Pair counts are additive over disjoint order sets (each order
    contributes its pairs exactly once), so the merge is exact:
      w(pa,pb) = w_base(pa,pb) + w_delta(pa,pb), keep w >= 2.
    The engine computes this incrementally — base state (all pair
    counts w >= 1, the state a production refresh keeps; thresholding
    to w >= 2 must happen AFTER the merge or increments on w=1 pairs
    are lost) full-outer-merged with the appended batch's pairs —
    while the DuckDB oracle computes the DIRECT batch rebuild over all
    orders; hash equality proves the incremental maintenance
    equivalent to rebuild. The deterministic "append" split is
    l_orderkey % 10 == 7 (~10% of orders).

    Scale (r11 rewrite, guide §2.4/§6): production cost is
    O(|state| + pairs(delta)) — the expensive per-order pair
    generation runs ONLY on the appended batch. The base state is a
    served derived table (_incr_base_state, the same per-fixture
    materialization idiom as the edge list; in r10 it was re-derived
    from the fact table inside every merge, which made the
    "incremental" path cost a full rebuild — 242.5 s sf100). The
    merge's base side is now a scan of the small state table plus one
    |state|-sized exchange on the packed pair key (tens of MB at
    sf100 — versus the fact-table distinct + self-join + pair-count
    shuffle it replaced; a keyed persist cannot remove that last
    exchange inside a single action because the AQE-wrapped cached
    plan's partitioning is opaque to the consumer at planning time);
    only the batch's pairs shuffle. This is the refresh that keeps
    the per-fixture edge materialization warm under appends instead
    of the full rebuild.
    """

    base = _incr_base_state(spark, sf_dir).select(
        "pk", F.col("w").alias("wb")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    is_delta = (F.col("l_orderkey") % INCR_DELTA_MOD) == 7
    delta = _incr_pair_counts(lineitem.filter(is_delta))
    merged = (
        base.join(
            delta.select(F.col("pk"), F.col("w").alias("wd")),
            "pk",
            "full_outer",
        )
        .select(
            "pk",
            (
                F.coalesce(F.col("wb"), F.lit(0))
                + F.coalesce(F.col("wd"), F.lit(0))
            ).alias("w"),
        )
        .filter(F.col("w") >= 2)
    )
    return merged.select(
        F.shiftrightunsigned("pk", 32).alias("pa"),
        F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("pb"),
        F.col("w").cast("bigint").alias("w"),
    )
