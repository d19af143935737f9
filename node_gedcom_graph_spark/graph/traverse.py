"""The two iterative graph kernels every traversal in the package runs on.

- ``reach``: multi-source frontier BFS that keeps each reached row once,
  at its minimum depth.
- ``components``: connected components by seeded HashMin with two
  pointer jumps per round (path doubling after Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC 2014), which
  takes O(log d) rounds instead of HashMin's O(diameter).

Both follow the same rules. Each round ends in an eager
``localCheckpoint`` that cuts lineage, with an ``observe`` on the same
job reporting the frontier size or the number of changed labels, so
no separate ``isEmpty`` or convergence join runs. The kernel owns every
block it creates (the columnar persist of its static edge side, keyed
on the round join key, and each round's checkpoint) and frees all of
them but the returned frame's before it returns or raises.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Hard cap on components rounds. Pointer jumping converges in
# O(log diameter) rounds, so hitting this means something is wrong.
MAX_ROUNDS = 64


def _keyed(df: DataFrame, key: str) -> DataFrame:
    """Columnar persist hash-partitioned and sorted on the round join key,
    so no round re-exchanges or re-sorts the static side. Columnar, not a
    checkpoint: checkpoint blocks are row-format heap objects (they ran
    the local JVM out of memory near a billion edges), while the columnar
    cache is about a tenth of the size and spills to disk."""
    return df.repartition(F.col(key)).sortWithinPartitions(key).persist()


def _free(checkpoint: DataFrame) -> None:
    """Release a ``localCheckpoint``'s blocks. ``unpersist`` and Python GC
    do not: the JVM Dataset holds the checkpointed RDD."""
    checkpoint._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _round(df: DataFrame, *metrics, drop: Sequence[str] = ()) -> tuple[DataFrame, dict]:
    """One round: checkpoint ``df`` (less ``drop``) eagerly; return it with
    ``metrics`` computed on the same job."""
    obs = Observation()
    ckpt = df.observe(obs, *metrics).drop(*drop).localCheckpoint(eager=True)
    return ckpt, obs.get


def reach(
    first: DataFrame,
    step: DataFrame,
    keys: Sequence[str],
    max_depth: int,
    strict: bool = False,
) -> DataFrame:
    """Frontier BFS: ``(*keys, depth)`` for every row reachable from
    ``first`` within ``max_depth``, each at its minimum depth.

    ``first`` holds the starting rows ``(*keys, depth)``, all at one
    depth. ``keys[-1]`` is the node being walked; the other keys ride
    along unchanged, so one call runs a BFS per source. ``step`` is the
    static ``(src, dst)`` edge table: a row at ``node`` moves to every
    ``dst`` whose ``src`` is ``node``.

    Stops when the frontier empties or depth reaches ``max_depth``. With
    ``strict``, a frontier still non-empty at ``max_depth`` raises
    ``RuntimeError``.
    """
    *carry, node = keys
    edges = _keyed(step.select(F.col("src").alias("_s"), F.col("dst").alias("_d")), "_s")
    found = None
    try:
        found, m = _round(
            first.select(*keys, F.col("depth").cast("int")),
            F.max("depth").alias("d"),
            F.count(F.lit(1)).alias("n"),
        )
        depth, frontier = m["d"], m["n"]
        while frontier and depth < max_depth:
            nxt = (
                found.filter(F.col("depth") == depth)
                .join(edges, F.col(node) == F.col("_s"))
                .select(*carry, F.col("_d").alias(node))
                .distinct()
                .join(found, list(keys), "left_anti")
                .withColumn("depth", F.lit(depth + 1))
            )
            depth += 1
            prev = found
            found, m = _round(
                prev.unionByName(nxt),
                F.count(F.when(F.col("depth") == depth, 1)).alias("n"),
            )
            frontier = m["n"]
            _free(prev)
        if strict and frontier:
            raise RuntimeError(f"BFS frontier still non-empty at depth {max_depth}")
        return found
    except BaseException:
        if found is not None:
            _free(found)
        raise
    finally:
        edges.unpersist()


def components(pairs: DataFrame) -> DataFrame:
    """``(id, component)``: every node of the undirected ``(src, dst)``
    graph labelled with the minimum id in its connected component.

    The seed round is one aggregate (with component(v) = v, HashMin is
    ``least(a, min(b))``); every later round joins the labels to the
    edges and takes each node's neighbour minimum. Two pointer jumps
    follow, component <- L(L(L(L(v)))) for the round's labels L: three
    lookups into one checkpoint of L rather than two self-joins, which
    would recompute L four times. Labels only decrease, and the loop
    stops on the first round that changes none; counting changed labels
    works for string ids as well as numeric ones. Raises
    ``RuntimeError`` past ``MAX_ROUNDS`` rounds.
    """
    sym = _keyed(
        pairs.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionByName(
            pairs.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        ),
        "b",
    )
    labels = hop = None
    try:
        for _ in range(MAX_ROUNDS):
            if labels is None:
                m = (
                    sym.groupBy("a")
                    .agg(F.min("b").alias("nb"))
                    .select(
                        F.col("a").alias("id"),
                        F.least("a", "nb").alias("component"),
                        F.col("a").alias("prev"),
                    )
                )
            else:
                nbr_min = (
                    sym.join(labels, sym["b"] == labels["id"])
                    .groupBy(F.col("a").alias("id"))
                    .agg(F.min("component").alias("nbr_min"))
                )
                m = labels.join(nbr_min, "id", "left").select(
                    "id",
                    F.least("component", F.coalesce("nbr_min", "component")).alias(
                        "component"
                    ),
                    F.col("component").alias("prev"),
                )
            hop = m.localCheckpoint(eager=True)
            lk = hop.select(F.col("id").alias("cid"), F.col("component").alias("cc"))
            m = hop
            for _ in range(3):
                m = m.join(lk, m["component"] == lk["cid"], "left").select(
                    "id", F.coalesce("cc", "component").alias("component"), "prev"
                )
            prev = labels
            labels, obs = _round(
                m,
                F.count(F.when(F.col("component") != F.col("prev"), 1)).alias("n"),
                drop=("prev",),
            )
            _free(hop)
            hop = None
            if prev is not None:
                _free(prev)
            if not obs["n"]:
                return labels
        raise RuntimeError(f"connected components did not converge in {MAX_ROUNDS} rounds")
    except BaseException:
        for ckpt in (labels, hop):
            if ckpt is not None:
                _free(ckpt)
        raise
    finally:
        sym.unpersist()
