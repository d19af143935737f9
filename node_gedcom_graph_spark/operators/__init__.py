"""Operator registry.

Each operator module registers named queries (``(spark, sf_dir) ->
DataFrame``) and, where SQL-expressible, a DuckDB oracle SQL string with
matching column aliases. ``all_queries()`` / ``all_oracles()`` aggregate
them for ``__spark_entry__``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Vacuity floors (round-6 verdict item 1): the gate harness must
# REJECT a query whose engine and oracle merely agree on an EMPTY
# result — `decontaminate_ngram_overlap` filtered on a nonexistent
# source for five rounds while both sides returned the identical
# zero rows. Every registered query therefore declares the minimum
# row count it must produce at every gated scale (sf0.01 and sf0.1);
# the default is 1 ("must be non-empty"). A floor of 0 is allowed
# ONLY with an explicit human-readable reason, so agree-on-empty is
# always a deliberate, documented state rather than a silent pass.
_MIN_ROWS: dict[str, int] = {}
_EMPTY_REASONS: dict[str, str] = {}

# Suite-scope cache-leak control (r5 advice): operators that persist()
# multi-consumer intermediates register them here instead of leaking
# them for the session's lifetime. The NEXT top-level registered-query
# build releases them — by then the previous query's action has run,
# so across a 268-query suite at most one query's blocks are cached at
# a time instead of all of them accumulating until LRU/disk pressure.
_TRACKED_CACHES: list[DataFrame] = []
_BUILD_DEPTH = 0


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() whose lifetime ends at the next top-level query build."""
    _TRACKED_CACHES.append(df.persist())
    return df


def release_tracked_caches() -> None:
    while _TRACKED_CACHES:
        df = _TRACKED_CACHES.pop()
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def register(
    name: str,
    oracle: str | None = None,
    min_rows: int = 1,
    empty_reason: str | None = None,
):
    """Decorator: add a query (and optionally its DuckDB oracle SQL).

    ``min_rows`` is the vacuity floor: the smallest row count this
    query may legitimately return at a gated scale (sf0.01/sf0.1).
    Harnesses fail a run below the floor even when engine and oracle
    agree — agreement on an empty result proved nothing for five
    rounds (see the ``decontaminate_ngram_overlap`` incident,
    commit f651e09). ``min_rows=0`` requires ``empty_reason``.

    The registered callable releases the previous query's tracked
    caches before building — only at the TOP level (operators that
    compose other registered operators, e.g. dedup_cluster_canonical
    -> dedup_ngram_jaccard, must not free their own intermediates
    mid-build, hence the depth guard)."""

    if min_rows < 0:
        raise ValueError(f"{name}: min_rows must be >= 0")
    if min_rows == 0 and not (empty_reason and empty_reason.strip()):
        raise ValueError(
            f"{name}: a 0-row floor needs an explicit empty_reason — "
            "agree-on-empty must be a documented decision"
        )
    if min_rows > 0 and empty_reason is not None:
        raise ValueError(f"{name}: empty_reason only applies when min_rows == 0")

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            global _BUILD_DEPTH
            if _BUILD_DEPTH == 0:
                release_tracked_caches()
            _BUILD_DEPTH += 1
            try:
                return fn(spark, sf_dir)
            finally:
                _BUILD_DEPTH -= 1

        build.__name__ = fn.__name__
        build.__qualname__ = fn.__qualname__
        build.__doc__ = fn.__doc__
        build.__module__ = fn.__module__
        build.__wrapped__ = fn
        _QUERIES[name] = build
        if oracle is not None:
            _ORACLES[name] = oracle
        _MIN_ROWS[name] = min_rows
        if empty_reason is not None:
            _EMPTY_REASONS[name] = empty_reason.strip()
        return build

    return deco


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return dict(_QUERIES)


def all_oracles() -> dict[str, str]:
    _load_all()
    return dict(_ORACLES)


def all_min_rows() -> dict[str, int]:
    """Vacuity floor per registered query (default 1 = non-empty)."""
    _load_all()
    return dict(_MIN_ROWS)


def all_empty_reasons() -> dict[str, str]:
    """Stated reason for every query whose floor is explicitly 0."""
    _load_all()
    return dict(_EMPTY_REASONS)


def _load_all() -> None:
    # Import for registration side effects.
    from node_gedcom_graph_spark.operators import (  # noqa: F401
        dedup,
        distribution,
        graphalgo,
        llmprep,
        llmprep2,
        llmprep3,
        llmprep4,
        multimodal,
        relational,
        relational_ext,
        relational_tpch,
        relational_tpch2,
        relational_tpch3,
        similarity,
        sql_surface,
        textstats,
        timeseries,
    )
    from node_gedcom_graph_spark import gedcom as _gedcom  # noqa: F401
    from node_gedcom_graph_spark import graph as _graph  # noqa: F401
