"""Training-data pipeline surface, part 3: published quality-filter
rules (Gopher), an inverted-index/BM25 retrieval layer, integer-exact
weighted sampling, and a columnar-format roundtrip source/sink check.

Reference parity note: the reference (node-gedcom-graph) has no
text-corpus surface — these operators extend the engine with the
large-scale pretraining-data operations the build brief lists as
first-class (dedup/quality/sampling/retrieval), expressed with
built-in column functions so they stay JVM-side and codegen'd.

All oracles restrict themselves to arithmetic whose results are
bit-identical across Spark and DuckDB: integer aggregates, int/int
double divisions, and fixed-shape double expression trees evaluated
in the same order (IEEE 754 ops are deterministic given identical
operands and ordering; only transcendentals differ by libm, so BM25
here uses the *rational* idf variant (N-df+0.5)/(df+0.5) — a strictly
monotone transform of the classic log idf that preserves ranking).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from node_gedcom_graph_spark.functions.scalar import punct_chars, tokens
from node_gedcom_graph_spark.operators import register
from node_gedcom_graph_spark.operators.textstats import STOPWORDS, _sql_list
from node_gedcom_graph_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", App. A1.1).
# Thresholds are the published ones; the symbol-to-word rule is adapted
# to total punctuation (this corpus contains no '#'/'...' symbols).
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2

# Bitmask bits for fail_reasons (stable public contract).
_BIT_WORDS, _BIT_MWL, _BIT_SYM, _BIT_ALPHA, _BIT_STOP = 1, 2, 4, 8, 16


@register(
    "text_gopher_filter",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
             length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
               AS n_symbols
      FROM documents
    ),
    m AS (
      SELECT doc_id, source, n_symbols,
             len(toks) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS BIGINT) AS sum_word_len,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               AS n_alpha_words,
             len(list_filter(toks, x -> list_contains({_sql_list("en")}, x)))
               AS stop_hits
      FROM base
      WHERE len(toks) > 0
    ),
    r AS (
      SELECT doc_id, source, n_words,
             CAST(sum_word_len AS DOUBLE) / n_words AS mean_word_len,
             CAST(n_symbols AS DOUBLE) / n_words AS symbol_ratio,
             CAST(n_alpha_words AS DOUBLE) / n_words AS alpha_frac,
             stop_hits
      FROM m
    )
    SELECT doc_id, source, n_words, mean_word_len, symbol_ratio,
           alpha_frac, stop_hits,
           CAST(
             (CASE WHEN n_words < {GOPHER_MIN_WORDS}
                     OR n_words > {GOPHER_MAX_WORDS} THEN {_BIT_WORDS}
                   ELSE 0 END)
           + (CASE WHEN mean_word_len < {GOPHER_MIN_MEAN_WORD_LEN}
                     OR mean_word_len > {GOPHER_MAX_MEAN_WORD_LEN}
                   THEN {_BIT_MWL} ELSE 0 END)
           + (CASE WHEN symbol_ratio > {GOPHER_MAX_SYMBOL_RATIO}
                   THEN {_BIT_SYM} ELSE 0 END)
           + (CASE WHEN alpha_frac < {GOPHER_MIN_ALPHA_FRAC}
                   THEN {_BIT_ALPHA} ELSE 0 END)
           + (CASE WHEN stop_hits < {GOPHER_MIN_STOP_HITS}
                   THEN {_BIT_STOP} ELSE 0 END)
           AS BIGINT) AS fail_reasons,
           (    n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS}
            AND mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
            AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}
            AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
            AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
            AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
    FROM r
    """,
)
def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document quality filter: per-doc signals, a
    fail-reason bitmask (bit 1 word count, 2 mean word length,
    4 symbol ratio, 8 alpha fraction, 16 stopword hits), and the
    final keep flag.

    The production shape for pretraining curation: keep/drop must be
    *explainable*, so the reasons travel with the decision and a
    downstream groupBy(fail_reasons) audits exactly why the corpus
    shrank. All signals are single-pass per-row column expressions
    (one scan, no shuffle until the caller aggregates); ratios are
    int/int double divisions, bit-exact across engines.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    base = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_words"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_word_len"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).alias("n_alpha_words"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).alias(
            "stop_hits"
        ),
        punct_chars(F.col("text")).alias("n_symbols"),
    ).filter(F.col("n_words") > 0)
    m = base.select(
        "doc_id",
        "source",
        "n_words",
        (F.col("sum_word_len").cast("double") / F.col("n_words")).alias(
            "mean_word_len"
        ),
        (F.col("n_symbols").cast("double") / F.col("n_words")).alias("symbol_ratio"),
        (F.col("n_alpha_words").cast("double") / F.col("n_words")).alias(
            "alpha_frac"
        ),
        "stop_hits",
    )
    fail_words = (F.col("n_words") < GOPHER_MIN_WORDS) | (
        F.col("n_words") > GOPHER_MAX_WORDS
    )
    fail_mwl = (F.col("mean_word_len") < GOPHER_MIN_MEAN_WORD_LEN) | (
        F.col("mean_word_len") > GOPHER_MAX_MEAN_WORD_LEN
    )
    fail_sym = F.col("symbol_ratio") > GOPHER_MAX_SYMBOL_RATIO
    fail_alpha = F.col("alpha_frac") < GOPHER_MIN_ALPHA_FRAC
    fail_stop = F.col("stop_hits") < GOPHER_MIN_STOP_HITS
    mask = (
        F.when(fail_words, _BIT_WORDS).otherwise(0)
        + F.when(fail_mwl, _BIT_MWL).otherwise(0)
        + F.when(fail_sym, _BIT_SYM).otherwise(0)
        + F.when(fail_alpha, _BIT_ALPHA).otherwise(0)
        + F.when(fail_stop, _BIT_STOP).otherwise(0)
    )
    return m.select(
        "doc_id",
        "source",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "alpha_frac",
        "stop_hits",
        mask.cast("bigint").alias("fail_reasons"),
        (
            ~fail_words & ~fail_mwl & ~fail_sym & ~fail_alpha & ~fail_stop
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Inverted index + BM25 — the retrieval layer a decontamination /
# curation pipeline runs against the corpus.
# ---------------------------------------------------------------------------


@register(
    "token_inverted_index_stats",
    oracle="""
    WITH td AS (
      SELECT doc_id,
             UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents
    ),
    tf AS (
      SELECT token, doc_id, COUNT(*) AS c FROM td GROUP BY 1, 2
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(c) AS BIGINT) AS tf_total,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM tf GROUP BY token
    """,
)
def token_inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index statistics: per token, document frequency, total
    term frequency, and the min/max posting. The dictionary half of an
    inverted index build (the posting lists themselves are the
    ``tf`` intermediate, partitioned by token).

    Scale: explode is map-side; the (token, doc) pre-aggregation is
    the classic two-level combine — partial per partition, then one
    shuffle keyed by (token, doc), then a second map-side-combined
    shuffle on token alone. Per-token state is four scalars (never a
    collected posting list), so a hot token ("the") costs a counter,
    not memory.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    td = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = td.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    return tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("tf_total"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "query", "window")


def _bm25_oracle() -> str:
    per_doc = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    dfs = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in BM25_TERMS
    )
    scores = [
        f"((n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * ((tf_{t} * ({BM25_K1} + 1.0))"
        f" / (tf_{t} + {BM25_K1} * (1.0 - {BM25_B}"
        f" + {BM25_B} * (dl / avgdl))))"
        for t in BM25_TERMS
    ]
    total = " + ".join(f"score_{t}" for t in BM25_TERMS)
    named = ", ".join(f"{s} AS score_{t}" for s, t in zip(scores, BM25_TERMS))
    tf_cols = ", ".join(f"tf_{t}" for t in BM25_TERMS)
    return f"""
    WITH per_doc AS (
      SELECT doc_id, toks, len(toks) AS dl, {per_doc}
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents)
      WHERE len(toks) > 0
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
             {dfs}
      FROM per_doc
    ),
    scored AS (
      SELECT doc_id, dl, {tf_cols}, {named}
      FROM per_doc, stats
    )
    SELECT doc_id, dl, {tf_cols},
           {total} AS bm25_rational
    FROM scored
    WHERE {total} > 0
    """


@register("bm25_doc_scores", oracle=_bm25_oracle())
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document to a fixed conjunctive query
    (terms {spark, query, window}), k1=1.2 b=0.75 — the retrieval
    scoring used to find benchmark-contaminated / topic-matched
    documents in a corpus.

    Uses the *rational idf* variant (N-df+0.5)/(df+0.5): the classic
    idf is the log of that ratio, a strictly monotone transform, so
    rankings are identical — but the rational form is pure IEEE
    +,*,/ arithmetic, which is bit-exact across engines, where libm
    ``ln`` is not.

    Scale: per-doc tf/dl are map-side; the corpus stats (N, avgdl,
    per-term df) are ONE row produced by a single global aggregate and
    broadcast back — O(#terms) state, no second scan of the corpus
    (Spark reuses the exchange), no collect.

    r7: probe-gated exact-dup collapse — tf/dl are text functions and
    the corpus stats are integer sums, so above the dup threshold the
    tokenizer runs once per DISTINCT text with group-size-WEIGHTED
    stats (n_docs = sum(gsz), avgdl = sum(dl*gsz)/sum(gsz), df =
    sum(gsz where tf>0) — exact integer arithmetic, so the broadcast
    stats row and therefore every score double is bit-identical to
    the uncollapsed pipeline's); members inherit the rep's score row.
    """
    from node_gedcom_graph_spark.operators import persist_tracked
    from node_gedcom_graph_spark.operators.dedup import (
        DUP_COLLAPSE_MIN_EXTRA,
        text_dup_extra,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    collapsed = text_dup_extra(docs, sf_dir) > DUP_COLLAPSE_MIN_EXTRA
    toks = tokens(F.col("text"))
    tf_cols = [
        # NB: the lambda must be unary — F.filter treats a second
        # parameter as the element-index request.
        F.size(F.filter(toks, (lambda term: lambda x: x == F.lit(term))(t))).alias(
            f"tf_{t}"
        )
        for t in BM25_TERMS
    ]
    if collapsed:
        grp = persist_tracked(
            docs.groupBy("text").agg(
                F.min("doc_id").alias("doc_id"),
                F.collect_list("doc_id").alias("ids"),
                F.count(F.lit(1)).alias("gsz"),
            )
        )
        per_doc = grp.select(
            "doc_id", "ids", "gsz", F.size(toks).alias("dl"), *tf_cols
        ).filter(F.col("dl") > 0)
        stats = per_doc.agg(
            F.sum("gsz").alias("n_docs"),
            (
                F.sum(F.col("dl") * F.col("gsz")).cast("double")
                / F.sum("gsz")
            ).alias("avgdl"),
            *[
                F.sum(
                    F.when(F.col(f"tf_{t}") > 0, F.col("gsz")).otherwise(0)
                ).alias(f"df_{t}")
                for t in BM25_TERMS
            ],
        )
    else:
        per_doc = docs.select(
            "doc_id", F.size(toks).alias("dl"), *tf_cols
        ).filter(F.col("dl") > 0)
        stats = per_doc.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
            *[
                F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(
                    f"df_{t}"
                )
                for t in BM25_TERMS
            ],
        )
    scored = per_doc.crossJoin(F.broadcast(stats))
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    score_cols = []
    for t in BM25_TERMS:
        tf, df = F.col(f"tf_{t}"), F.col(f"df_{t}")
        idf = (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        norm = tf + k1 * (
            F.lit(1.0) - b + b * (F.col("dl") / F.col("avgdl"))
        )
        score_cols.append((idf * ((tf * (k1 + F.lit(1.0))) / norm)).alias(f"s_{t}"))
    scored = scored.select(
        *(["ids"] if collapsed else ["doc_id"]),
        "dl",
        *[f"tf_{t}" for t in BM25_TERMS],
        *score_cols,
    )
    total = F.col(f"s_{BM25_TERMS[0]}")
    for t in BM25_TERMS[1:]:
        total = total + F.col(f"s_{t}")
    out = scored.select(
        *(["ids"] if collapsed else ["doc_id"]),
        "dl",
        *[f"tf_{t}" for t in BM25_TERMS],
        total.alias("bm25_rational"),
    ).filter(F.col("bm25_rational") > 0)
    if not collapsed:
        return out
    return out.select(
        F.explode("ids").alias("doc_id"),
        "dl",
        *[f"tf_{t}" for t in BM25_TERMS],
        "bm25_rational",
    )


# ---------------------------------------------------------------------------
# Integer-exact weighted sampling (no transcendentals).
# ---------------------------------------------------------------------------


WEIGHTED_SAMPLE_K = 20


def _dir_bytes(path: str) -> int:
    """Back-compat alias — the shared helper lives with the path
    convention it encodes (sources/tables.py)."""
    from node_gedcom_graph_spark.sources.tables import dir_bytes

    return dir_bytes(path)


@register(
    "sample_weighted_minhash_replication",
    oracle=f"""
    WITH best AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS INTEGER) AS w,
             list_min(list_transform(
               generate_series(1, CAST(l_quantity AS INTEGER)),
               r -> md5(concat_ws('-', l_orderkey, l_linenumber, r))
             )) AS sample_key
      FROM lineitem
      WHERE CAST(l_quantity AS INTEGER) >= 1
    )
    SELECT l_orderkey, l_linenumber, w, sample_key
    FROM best
    ORDER BY sample_key, l_orderkey, l_linenumber
    LIMIT {WEIGHTED_SAMPLE_K}
    """,
)
def sample_weighted_minhash_replication(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted random sample of k={WEIGHTED_SAMPLE_K} lineitems with
    inclusion probability proportional to integer weight (l_quantity),
    using *hash replication*: each item is replicated once per unit of
    weight with a distinct deterministic hash key, and the global k
    smallest keys win. An item of weight w holds w lottery tickets, so
    P(item contributes the minimum) is proportional to w — the
    integer-exact analogue of Efraimidis-Spirakis u^(1/w) priority
    sampling, chosen because it needs NO pow/ln (bit-exact oracle).

    Scale: the [1..w] replication is exploded, but it NEVER reaches a
    shuffle — the per-item MIN is a hash aggregate whose map-side
    partial combine collapses the fan-out back to one row per item
    inside the scan stage, and md5/concat on exploded rows runs in
    whole-stage codegen. (A prior draft computed the same min ticket
    map-side with array_min over a transform() lambda — zero explode,
    but higher-order-function lambdas are interpreted per element,
    and the sf1 sweep measured it 10x SLOWER than codegen'd explode:
    139 s vs ~14 s for ~150M hashes. Lesson recorded: shuffle-free is
    not the goal when the shuffle never materializes anyway. r11
    re-probed the sub-explode idea with a RUNNING FOLD —
    aggregate(sequence(1, w), '~', least(acc, md5(...))) — which,
    unlike transform+array_min, materializes no per-ticket array and
    plans ZERO shuffles (scan -> project -> TakeOrderedAndProject).
    Measured, interleaved same-session A/B: a wash at sf10
    (50.8-54.6 s vs 52.8-53.8 s; cpu 1503-1592 vs 1495-1531) and a
    LOSS at sf100 (min-of-2: wall 636.1 vs 507.3 s, cpu 16121 vs
    15067 — interpreted-lambda overhead ~+7% CPU on ~15B md5 calls,
    and the explode form's one narrow exchange is ~2% of its runtime).
    Rejected again with numbers: MEASURES_r11.json.) Work is
    O(sum(w)) hashes, bounded by max weight (50 here; at 100 TB bound
    it by bucketing weights or the u^(1/w) float variant). The global
    top-k is TakeOrderedAndProject: per-partition partial top-k,
    k rows to the driver — never a full sort.
    """
    li = (
        # No spread=True: the explicit group-count repartition below
        # supersedes it (two stacked shuffles otherwise — Catalyst's
        # CollapseRepartition cannot merge them across the projection).
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("int").alias("w"),
        )
        # w >= 1 guard: Spark's sequence(1, w) defaults to step -1 when
        # w < 1 (emitting tickets 1..w DESCENDING, e.g. [1, 0] for w=0)
        # while the oracle's generate_series(1, w) is empty — filter so
        # zero/negative weights produce no tickets in BOTH engines.
        .filter(F.col("w") >= 1)
    )
    # ONE exchange, ONE aggregate (r10, closing the r9 sf100 sweep's
    # only unexplained failure): repartition BY THE GROUP KEY before
    # exploding. HashPartitioning(l_orderkey, l_linenumber) satisfies
    # the aggregate's ClusteredDistribution (its expressions are a
    # subset of the grouping keys), so Catalyst plans a SINGLE hash
    # aggregate fused after the explode in the post-shuffle stage — no
    # partial/final split, no second exchange. Only the NARROW
    # pre-explode rows cross the network (~12 GB at sf100); the ~15B
    # exploded tickets collapse into the per-task hash map inside the
    # stage. The r9 attempt (8x round-robin fan-out + partial/final
    # agg) died twice at sf100: first the partial agg's ~2.3M-group
    # map fell back to sort and spilled the full ticket fan-out, then
    # after widening, the FINAL agg's 32 reduce tasks held ~19M groups
    # each and the one-row-per-item exchange (~34 GB) plus its sort
    # fallback overran the 57 GB scratch (both runs captured with root
    # causes in the r10 repro logs). Partition count is sized from the
    # fixture's on-disk bytes — ~4 MB of parquet per task caps the
    # per-task group count near 0.4M (~60 MB hash map, 10x memory
    # headroom at 32 concurrent tasks) — NOT from
    # .rdd.getNumPartitions(), whose RDD conversion materialized the
    # upstream plan as three extra jobs.
    li_bytes = _dir_bytes(os.path.join(sf_dir.rstrip("/"), "lineitem.parquet"))
    nparts = max(32, -(-li_bytes // (4 << 20)))
    li = li.repartition(nparts, F.col("l_orderkey"), F.col("l_linenumber"))
    rep = li.select(
        "l_orderkey",
        "l_linenumber",
        "w",
        F.explode(F.sequence(F.lit(1), F.col("w"))).alias("r"),
    )
    keyed = rep.select(
        "l_orderkey",
        "l_linenumber",
        "w",
        F.md5(
            F.concat_ws(
                "-", F.col("l_orderkey"), F.col("l_linenumber"), F.col("r")
            )
        ).alias("sample_key"),
    )
    best = keyed.groupBy("l_orderkey", "l_linenumber", "w").agg(
        F.min("sample_key").alias("sample_key")
    )
    return best.orderBy("sample_key", "l_orderkey", "l_linenumber").limit(
        WEIGHTED_SAMPLE_K
    )


@register(
    "sample_weighted_priority",
    oracle=f"""
    WITH keyed AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS INTEGER) AS w,
             -ln( (CAST(CAST(('0x' || substr(md5(concat_ws('-',
                     l_orderkey, l_linenumber)), 1, 8)) AS BIGINT)
                   AS DOUBLE) + 0.5) / 4294967296.0 )
               / CAST(l_quantity AS INTEGER) AS priority_key
      FROM lineitem
      WHERE CAST(l_quantity AS INTEGER) >= 1
    )
    SELECT l_orderkey, l_linenumber, w, priority_key
    FROM keyed
    ORDER BY priority_key, l_orderkey, l_linenumber
    LIMIT {WEIGHTED_SAMPLE_K}
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample of k={WEIGHTED_SAMPLE_K} lineitems by
    Efraimidis-Spirakis priority sampling — the SCALE-PATH twin of
    sample_weighted_minhash_replication, closing its docstring's
    "at 100 TB bound it by the u^(1/w) float variant" note with a
    gated operator. Each item draws ONE deterministic uniform
    u = (h32 + 0.5) / 2^32 from an md5 prefix and keys itself with
    the exponential trick -ln(u)/w (monotone in u^(1/w)); the k
    SMALLEST keys form a sample with inclusion probability
    proportional to w (Efraimidis & Spirakis 2006).

    Scale shape: O(n) hashes — one per item, independent of the
    weight values (the replication twin is O(sum(w))); sf10: 230 s
    of ticket hashing becomes one scan + TakeOrderedAndProject
    (per-partition partial top-k, k rows to the driver, no sort).
    Cross-engine determinism: identical md5-derived doubles through
    an identical -ln(u)/w expression tree; the gate's 6-decimal
    rounding sits ~10 orders above double ULP drift.
    """
    li = (
        load_table(spark, sf_dir, "lineitem", spread=True)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("int").alias("w"),
        )
        .filter(F.col("w") >= 1)
    )
    h32 = F.conv(
        F.substring(
            F.md5(F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    key = -F.log((h32.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)) / F.col("w")
    return (
        li.select("l_orderkey", "l_linenumber", "w", key.alias("priority_key"))
        .orderBy("priority_key", "l_orderkey", "l_linenumber")
        .limit(WEIGHTED_SAMPLE_K)
    )


# ---------------------------------------------------------------------------
# Columnar-format roundtrip: ORC sink + source.
# ---------------------------------------------------------------------------


#: Scratch roots the three roundtrip queries write under, keyed by
#: format — each query derives its own out path from THIS dict, so the
#: cleanup list cannot drift from the writers (r9 ADVICE: the paths
#: were previously duplicated as literals inside each query). A
#: finished roundtrip leaves one table copy per format on disk (the
#: lazy DataFrame needs the files at materialization time, so the
#: query itself cannot clean up); harnesses that run MANY queries back
#: to back (sweeps, gates) should call clear_roundtrip_scratch()
#: between queries — at sf100 the leftovers reached 33 GB and starved
#: an unrelated query's shuffle spill.
ROUNDTRIP_SCRATCH = {
    "orc": "/tmp/ngg_roundtrip_orc",
    "json": "/tmp/ngg_roundtrip_json",
    "csv": "/tmp/ngg_roundtrip_csv",
}


def _roundtrip_out(fmt: str, sf_dir: str) -> str:
    return os.path.join(
        ROUNDTRIP_SCRATCH[fmt],
        os.path.basename(os.path.normpath(sf_dir)),
    )


def clear_roundtrip_scratch() -> None:
    import shutil

    for d in ROUNDTRIP_SCRATCH.values():
        shutil.rmtree(d, ignore_errors=True)


@register(
    "source_orc_roundtrip_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           CAST(MIN(l_shipdate) AS TIMESTAMP) AS min_shipdate,
           CAST(MAX(l_shipdate) AS TIMESTAMP) AS max_shipdate
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def source_orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip: write lineitem to ORC, read it
    back, aggregate — proving the second columnar format (after
    parquet) preserves decimals, timestamps, and row counts exactly.
    The oracle aggregates the ORIGINAL parquet, so any roundtrip
    corruption (type coercion, timestamp shifting, decimal rescale)
    breaks the hash.

    Scale: ORC writes are per-partition (no shuffle); the read-back
    scan enjoys the same predicate pushdown/column pruning the parquet
    path gets (ORC carries min/max stride indexes).
    """
    out = _roundtrip_out("orc", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


_ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)

_ORDERS_ROUNDTRIP_ORACLE = """
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           CAST(MIN(o_orderdate) AS TIMESTAMP) AS min_date,
           CAST(MAX(o_orderdate) AS TIMESTAMP) AS max_date,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM orders
    GROUP BY o_orderstatus
"""


def _roundtrip_agg(back: DataFrame) -> DataFrame:
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


@register("source_json_roundtrip_agg", oracle=_ORDERS_ROUNDTRIP_ORACLE)
def source_json_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + source roundtrip for the orders table: write
    newline-delimited JSON, read it back under an EXPLICIT schema
    (JSON carries no types — the read schema is the contract that
    restores bigint/double/timestamp_ntz), aggregate, and compare
    against the original parquet via the oracle. Doubles survive
    because Spark's JSON writer emits shortest-roundtrip
    representations; sums go through DECIMAL(18,2) so the aggregate
    is order-independent.

    Scale: JSONL is the interchange format of LLM data pipelines;
    writes are per-partition (no shuffle). The sink is gzip-compressed
    per partition file (zstd is absent from this Spark build's text codecs) — read parallelism is file-granular (one task
    per .gz file, = write partitions), and the disk cost drops ~6x
    (measured at sf100: 23 GB raw JSONL of the 150M-row orders table
    lingering in scratch starved a later query's shuffle spill and
    tripped the sweep's disk floor).
    """
    out = _roundtrip_out("json", sf_dir)
    load_table(spark, sf_dir, "orders").write.mode("overwrite").option(
        "compression", "gzip"
    ).json(out)
    back = spark.read.schema(_ORDERS_SCHEMA).json(out)
    return _roundtrip_agg(back)


@register("source_csv_roundtrip_agg", oracle=_ORDERS_ROUNDTRIP_ORACLE)
def source_csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source roundtrip for the orders table (header on,
    explicit read schema, default ISO timestamp format). CSV is the
    reference's native sink format (schema-first headers,
    publish/neo4j_csv.py is the bulk-load path); this query proves the
    generic csv source/sink preserves numerics and timestamps
    bit-exactly under a declared schema.
    """
    out = _roundtrip_out("csv", sf_dir)
    load_table(spark, sf_dir, "orders").write.mode("overwrite").option(
        "header", "true"
    ).option("compression", "gzip").csv(out)
    back = (
        spark.read.schema(_ORDERS_SCHEMA)
        .option("header", "true")
        .csv(out)
    )
    return _roundtrip_agg(back)





# ----------------------- Neyman-allocation stratified sampling

NEYMAN_TOTAL = 1000


@register(
    "sample_stratified_neyman",
    oracle=f"""
    WITH st AS MATERIALIZED (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(n_chars) AS DOUBLE) AS s1,
             CAST(SUM(n_chars * n_chars) AS DOUBLE) AS s2
      FROM documents
      GROUP BY source
      HAVING COUNT(*) > 1
    ),
    w AS MATERIALIZED (
      SELECT source, nh,
             CAST(nh AS DOUBLE)
               * sqrt((CAST(nh AS DOUBLE) * s2 - s1 * s1)
                      / (CAST(nh AS DOUBLE) * (CAST(nh AS DOUBLE) - 1)))
               AS wh
      FROM st
    ),
    t AS (SELECT CAST(SUM(CAST(wh AS DECIMAL(28,14))) AS DOUBLE) AS tw FROM w),
    alloc AS (
      SELECT source, nh,
             CAST(FLOOR(CAST({NEYMAN_TOTAL} AS DOUBLE) * wh / tw) AS BIGINT)
               AS alloc
      FROM w, t
    ),
    ranked AS (
      SELECT d.doc_id, d.source,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rnk
      FROM documents d JOIN alloc a ON a.source = d.source
    )
    SELECT r.doc_id, r.source, CAST(r.rnk AS BIGINT) AS rnk, a.alloc
    FROM ranked r JOIN alloc a ON a.source = r.source
    WHERE r.rnk <= a.alloc
    """,
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample with NEYMAN (optimal) allocation: the
    {NEYMAN_TOTAL}-doc budget is split across source strata in
    proportion to N_h * sigma_h (stratum size times stddev of
    n_chars), the allocation that minimizes the variance of the
    stratified mean estimator — high-variance sources get
    proportionally MORE rows than plain proportional allocation gives
    them. Selection within a stratum is the engine's deterministic
    hash-rank sample (order by md5(doc_id)), so the drawn set is
    reproducible and oracle-checkable.

    Determinism across engines: the per-stratum moments are exact
    integer sums cast to double; sigma uses one fixed-shape IEEE
    expression tree (identical operand order on both sides); the
    cross-strata weight total is summed via per-term DECIMAL(28,14)
    casts (order-independent); and the floor() allocation then sees
    bit-identical doubles, so the integer budgets cannot disagree.

    Scale shape: stratum stats are one map-side-combinable aggregate;
    the weight table is O(#strata) rows, broadcast back onto the scan.
    The in-stratum rank is a per-source window — fine for a handful of
    sources holding ~alloc rows each after the scan, but a
    low-cardinality window key caps parallelism (the distribution
    family's documented ceiling); at 100 TB use the two-phase
    threshold refine: sample md5 quantiles to pick an approximate
    per-stratum hash cutoff, filter, then rank only the ~alloc
    survivors (the SEMDEDUP_RANK_FANOUT salting pattern is the in-repo
    precedent).
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "source", "n_chars"
    )
    st = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("n_chars").cast("double").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("double").alias("s2"),
    ).filter(F.col("nh") > 1)
    nh = F.col("nh").cast("double")
    wh = nh * F.sqrt(
        (nh * F.col("s2") - F.col("s1") * F.col("s1")) / (nh * (nh - F.lit(1.0)))
    )
    w = st.select("source", "nh", wh.alias("wh"))
    t = w.agg(
        F.sum(F.col("wh").cast("decimal(28,14)")).cast("double").alias("tw")
    )
    alloc = w.crossJoin(F.broadcast(t)).select(
        "source",
        F.floor(
            F.lit(float(NEYMAN_TOTAL)) * F.col("wh") / F.col("tw")
        ).alias("alloc"),
    )
    rank_w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.join(F.broadcast(alloc), "source")
        .withColumn("rnk", F.row_number().over(rank_w).cast("bigint"))
        .filter(F.col("rnk") <= F.col("alloc"))
        .select("doc_id", "source", "rnk", "alloc")
    )


# ----------------------------------------- k-anonymity privacy audit

KANON_K = 5
KANON_BAL_WIDTH = 1000


@register(
    "kanon_quasi_identifier_groups",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / {KANON_BAL_WIDTH})
                AS BIGINT) AS bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           COUNT(*) < {KANON_K} AS at_risk
    FROM customer
    GROUP BY 1, 2, 3
    """,
)
def kanon_quasi_identifier_groups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K-ANONYMITY audit over the quasi-identifier tuple
    (nation, market segment, account-balance bucket): every
    equivalence class with its population, flagged when fewer than
    k = {KANON_K} records share the tuple — those rows are
    re-identifiable by linking the quasi-identifiers to an external
    dataset (Sweeney's attack), and a release pipeline must suppress
    or generalize them. Complements the column-level text_pii_redact:
    that removes direct identifiers, this measures the joint-
    distribution leak that survives redaction.

    Scale shape: one map-side-combinable COUNT keyed by the
    quasi-identifier tuple — the audit is exactly one shuffle at any
    corpus size, and the risky-class report it emits is bounded by
    the quasi-identifier domain, not the row count. The balance
    bucketing (FLOOR of one IEEE division, identical tree both
    engines) is the generalization dial: widen the bucket and classes
    merge until they clear k.
    """
    cust = load_table(spark, sf_dir, "customer", spread=True).select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    return cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(
            F.col("c_acctbal").cast("double") / F.lit(KANON_BAL_WIDTH)
        ).alias("bal_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) < KANON_K).alias("at_risk"),
    )
