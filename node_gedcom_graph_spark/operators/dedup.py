"""Deduplication operators — the training-data-pipeline core: exact,
normalized-exact, n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

Design for 100 TB:
- exact dedup is a hash groupBy on a fingerprint (map-side partial agg,
  one shuffle on the hash — never on the full text).
- the exact pairwise Jaccard query is the *correctness baseline*
  (oracle-checked); its shingle self-join explodes quadratically inside
  shared-shingle buckets, so at scale you run the MinHash+LSH variant,
  whose candidate generation touches only banded signature collisions,
  then verifies candidates with the same exact Jaccard. At 16 bands of
  4 slots a pair of Jaccard J becomes a candidate with probability
  1 - (1 - J^4)^16: 0.64 at J = 0.5, 0.89 at 0.6, 0.988 at 0.7 and
  0.9998 at 0.8. Below the knee pairs are missed, not mis-scored.
- everything is built-in column functions (higher-order array ops +
  xxhash64); no Python in the hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from node_gedcom_graph_spark.functions.scalar import normalize_text, tokens
from node_gedcom_graph_spark.operators import persist_tracked, register
from node_gedcom_graph_spark.sources.tables import load_table

# ---------------------------------------------------------------------
# MinHash by densified one-permutation hashing (Li, Owen and Zhang,
# "One Permutation Hashing", NeurIPS 2012; Shrivastava and Li,
# "Densifying One Permutation Hashing via Rotation", ICML 2014). Each
# shingle is hashed once with xxhash64; the low bits pick one of 64
# bins, the top 52 bits are the value, and a slot is its bin's minimum.
# An empty bin takes the minimum of the next non-empty bin to its right,
# circularly, plus 2^52 per bin walked, so a borrowed value never equals
# a bin's own one. A signature depends only on the shingle set.
# ---------------------------------------------------------------------
NUM_HASHES = 64
LSH_BANDS = 16
LSH_ROWS = NUM_HASHES // LSH_BANDS  # 4 -> similarity knee ~ (1/16)^(1/4) ~ 0.5
_VALUE_BITS = 52

SHINGLE_K = 3


def shingles_from_tokens(toks: Column, k: int = SHINGLE_K) -> Column:
    """Distinct word k-grams from an already-materialized token array.

    IMPORTANT: pass an attribute reference (a real column), not an
    inline tokens(...) expression — Spark does not CSE subexpressions
    through higher-order-function lambdas, so an inline expression gets
    re-evaluated once per element reference (observed 30x slowdown)."""
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
        ),
    )
    return F.array_distinct(F.when(n >= k, grams).otherwise(F.array()))


def word_shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Distinct word k-grams of the lowercased alnum token stream.
    (Convenience form; hot paths should materialize tokens first and
    use shingles_from_tokens — see that docstring.)"""
    return shingles_from_tokens(tokens(text), k)


def shingled_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) with tokens materialized in a separate
    projection so the tokenizer runs exactly once per document."""
    # Filter on the cheap token count, not size(shingles): a filter on
    # the shingles column gets predicate-pushed below its defining
    # projection, duplicating the whole shingle expression per row.
    # (shingles non-empty <=> n_tokens >= k, so this is equivalent.)
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= SHINGLE_K)
        .select("doc_id", shingles_from_tokens(F.col("toks")).alias("shingles"))
    )


def shingle_hashes(shingles: Column) -> Column:
    """xxhash64 of every shingle: the one hash the signature reads."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def _bin_keys(hashes: Column) -> Column:
    """Sorted keys bin << 52 | value, bin = pmod(h, 64) and value =
    h >>> 12: ascending keys put each bin's minimum first."""
    return F.sort_array(
        F.transform(
            hashes,
            lambda h: F.shiftleft(F.pmod(h, F.lit(NUM_HASHES)), _VALUE_BITS).bitwiseOR(
                F.shiftrightunsigned(h, 64 - _VALUE_BITS)
            ),
        )
    )


def _bin_minima(keys: Column) -> Column:
    """The first key of each non-empty bin, in bin order: a key is kept
    when its bin differs from the previous key's (-1 has bin -1)."""
    return F.array_compact(
        F.zip_with(
            keys,
            F.concat(F.array(F.lit(-1).cast("bigint")), keys),
            lambda k, p: F.when(
                F.shiftright(k, _VALUE_BITS) != F.shiftright(p, _VALUE_BITS), k
            ),
        )
    )


def _densify(minima: Column) -> Column:
    """Expand the bin minima to all 64 slots. Minimum k of bin b fills
    itself and the empty bins after the previous non-empty bin, slot t
    getting k - (t << 52) = value + (b - t) * 2^52. The first minimum,
    repeated 64 bins on, fills the wrap-around bins after the last one;
    the first 64 slots are the signature. An empty shingle set gives
    NULL."""
    nxt = F.array_min(minima) + F.lit(NUM_HASHES << _VALUE_BITS)
    prev = F.concat(F.array(F.lit(-1 << _VALUE_BITS)), minima)
    runs = F.zip_with(
        F.concat(minima, F.array(nxt)),
        prev,
        lambda k, p: F.transform(
            F.sequence(
                F.shiftright(p, _VALUE_BITS) + 1, F.shiftright(k, _VALUE_BITS)
            ),
            lambda t: k - F.shiftleft(t, _VALUE_BITS),
        ),
    )
    return F.slice(F.flatten(runs), 1, NUM_HASHES)


_SIGNATURE_STAGES = (_bin_keys, _bin_minima, _densify)


def minhash_signature(shingles: Column) -> Column:
    """64-slot MinHash signature (array<bigint>) of a shingle array, as
    one expression. Row pipelines use with_minhash_signature, which
    computes the same slots with each stage materialized once."""
    col = shingle_hashes(shingles)
    for stage in _SIGNATURE_STAGES:
        col = stage(col)
    return col


def with_minhash_signature(df: DataFrame, hashes: str) -> DataFrame:
    """``df`` plus a ``sig`` column: the minhash_signature of the shingle
    hash array in column ``hashes``. Each stage is its own projection
    and no lambda reads a column, so no stage is re-evaluated per array
    element (Spark does not share subexpressions through lambdas)."""
    keep, col = df.columns, hashes
    for i, stage in enumerate(_SIGNATURE_STAGES):
        df = df.select(*keep, stage(F.col(col)).alias(f"_sig{i}"))
        col = f"_sig{i}"
    return df.select(*keep, F.col(col).alias("sig"))


def lsh_band_buckets(sig: Column) -> Column:
    """One (band, bucket) struct per LSH band of a 64-slot signature:
    bucket = xxhash64 of the band's 4 slots."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    *[F.element_at(sig, i * LSH_ROWS + r + 1) for r in range(LSH_ROWS)]
                ).alias("bucket"),
            )
            for i in range(LSH_BANDS)
        ]
    )


# ----------------------------------------------------------------- exact


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fingerprint,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) >= 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.
    Shuffles 16-byte hashes, never document bodies."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        docs.groupBy(F.md5("text").alias("fingerprint"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonicalization (case/punct/whitespace-blind) —
    catches trivially reformatted copies across sources."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        docs.groupBy(F.md5(normalize_text(F.col("text"))).alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


# ------------------------------------------------------ n-gram Jaccard


# Collapse engages only when the corpus carries at least this many
# EXTRA rows beyond its distinct-text count. The collapse is a pure
# optimization (the uncollapsed pairwise path computes identical
# values — identical texts collide in every bucket and score J=1.0 /
# hamming=0 / containment=1.0 through the same expressions), so the
# only question is economics: with e = n - d extra rows, the worst
# uncollapsed inflation is one (e+1)-member group contributing
# ~(e+1)^2 bucket pairs — ~1M pairs at the default 1024, absorbable —
# while the collapse machinery costs two extra shuffles + three
# expansion joins on EVERY run (bench: +75% on dedup_minhash_lsh at
# sf0.1, whose 5000 docs carry 8 dup texts).
DUP_COLLAPSE_MIN_EXTRA = int(
    os.environ.get("DUP_COLLAPSE_MIN_EXTRA", "1024")
)

# Probe results keyed by the documents parquet's (abspath, size,
# mtime_ns): nine operators front-end with the same aggregate over the
# same immutable fixture — one Spark job per fixture instead of one
# per query (the probe cost ~0.3 s/query at sf0.1). A rewritten file
# changes size/mtime and misses the cache.
_DUP_PROBE_CACHE: dict[tuple, int] = {}


def text_dup_extra(docs: DataFrame, sf_dir: str | None = None) -> int:
    """Corpus extra-row count n - count_distinct(xxhash64(text)) — the
    duplication probe behind every collapse decision. ONE map-side-
    combined 8-byte-key aggregate; cached per fixture file when
    ``sf_dir`` is given (see _DUP_PROBE_CACHE). A hash collision only
    under-counts d, i.e. OVER-estimates duplication, routing a light
    corpus down the slower-but-still-correct collapse path."""
    key = None
    if sf_dir:
        p = os.path.join(sf_dir.rstrip("/"), "documents.parquet")
        try:
            st = os.stat(p)
            key = (os.path.abspath(p), st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
    if key is not None and key in _DUP_PROBE_CACHE:
        return _DUP_PROBE_CACHE[key]
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.xxhash64("text")).alias("d"),
    ).first()
    extra = row["n"] - row["d"]
    if key is not None:
        _DUP_PROBE_CACHE[key] = extra
    return extra


def _collapse_or_passthrough(
    docs: DataFrame, sf_dir: str | None = None
) -> tuple[DataFrame | None, DataFrame, bool]:
    """(members, reps, passthrough): the probe-gated collapse every
    pairwise text-dedup operator front-ends with.

    When the probe's extra-row count n - d is at or under
    DUP_COLLAPSE_MIN_EXTRA, callers get (None, docs projected to
    (doc_id, text), True) and return their pairwise result directly —
    the pre-collapse r6 plan shape, which is byte-identical output at
    ANY duplication level (collapse is an optimization, not a
    semantic change)."""
    if text_dup_extra(docs, sf_dir) <= DUP_COLLAPSE_MIN_EXTRA:
        return None, docs.select("doc_id", "text"), True
    members, reps = _exact_dup_groups(docs)
    return members, reps, False


def _exact_dup_groups(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Collapse exact text duplicates: (members, reps).

    ``members`` is one row per distinct text — (fp, rep, ids, gsz) with
    rep = min doc_id — persisted (every caller reads it from several
    plan branches). ``reps`` is (doc_id, text) restricted to the
    representatives. Identical texts have identical shingle sets and
    embeddings, hence identical similarity against everything, so
    every pairwise-similarity operator only needs rep-level pairs plus
    a mechanical member expansion — the standard hash-dedup-before-
    near-dedup pipeline order, and the reason the duplicate-heavy
    scale fixtures stop being quadratic in group size.
    """
    grouped = docs.select("doc_id", F.md5("text").alias("fp"), "text")
    members = (
        grouped.groupBy("fp")
        .agg(
            F.min("doc_id").alias("rep"),
            F.collect_list("doc_id").alias("ids"),
            F.count(F.lit(1)).alias("gsz"),
        )
        .transform(persist_tracked)
    )
    reps = (
        grouped.join(members.select("fp", "rep"), "fp")
        .filter(F.col("doc_id") == F.col("rep"))
        .select("doc_id", "text")
    )
    return members, reps


# Optional explicit bound on member-pair expansion (the fuzzy-contract
# pattern generalized to the whole dedup family): 0 (default) = no
# bound and NO extra Spark job — gates and bench pay nothing. A sweep
# at extreme duplication sets it so an output flood (the product of
# dup-group sizes — 2.5 B+ rows at the 1000x fixture) REFUSES with a
# pointer to the rep-level contracts instead of burning the watchdog.
DEDUP_MEMBER_PAIR_CAP = int(os.environ.get("DEDUP_MEMBER_PAIR_CAP", "0"))


def _refuse_member_flood(total: int, where: str) -> None:
    if DEDUP_MEMBER_PAIR_CAP > 0 and total > DEDUP_MEMBER_PAIR_CAP:
        raise RuntimeError(
            f"{where}: member expansion refused — {total:,} member pairs "
            f"> DEDUP_MEMBER_PAIR_CAP={DEDUP_MEMBER_PAIR_CAP:,}. Use the "
            "rep-level contracts (minhash_recall_report / "
            "dedup_savings_report / fuzzy_match_parts_replevel pattern) "
            "or raise the cap explicitly."
        )


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    ca: str,
    cb: str,
    ordered: bool = False,
) -> DataFrame:
    """Expand representative-level pairs to member-level pairs.

    Every member pair inherits its rep pair's value columns verbatim
    (identical inputs -> identical doubles). ``ordered=False`` emits
    canonical (least, greatest) pairs; ``ordered=True`` keeps the rep
    pair's direction (containment-style asymmetric outputs).

    r7: expansion is JOIN FAN-OUT over singly-exploded member tables,
    not an array-carrying double explode — the old shape staged every
    rep pair's full ``_ids_b`` array once PER exploded ``_a`` row
    (gsz_a array copies per pair: the exact hazard class that timed
    out fuzzy at sf10, reproduced at 1000-way duplication), while the
    fan-out generates the same pairs streamwise inside the joins'
    codegen with only scalar columns in flight.
    """
    vals = [c for c in rep_pairs.columns if c not in (ca, cb)]
    if DEDUP_MEMBER_PAIR_CAP > 0:
        ga = members.select(F.col("rep").alias(ca), F.col("gsz").alias("_ga"))
        gb = members.select(F.col("rep").alias(cb), F.col("gsz").alias("_gb"))
        total = (
            rep_pairs.join(ga, ca)
            .join(gb, cb)
            .agg(F.coalesce(F.sum(F.col("_ga") * F.col("_gb")), F.lit(0)))
            .first()[0]
        )
        _refuse_member_flood(int(total), "_expand_rep_pairs")
    m_a = members.select(F.col("rep").alias(ca), F.explode("ids").alias("_a"))
    m_b = members.select(F.col("rep").alias(cb), F.explode("ids").alias("_b"))
    ex = rep_pairs.join(m_a, ca).join(m_b, cb)
    if ordered:
        return ex.select(F.col("_a").alias(ca), F.col("_b").alias(cb), *vals)
    return ex.select(
        F.least("_a", "_b").alias(ca),
        F.greatest("_a", "_b").alias(cb),
        *vals,
    )


def _within_group_pairs(
    members: DataFrame,
    sizes: DataFrame,
    value: Column,
    ca: str,
    cb: str,
    ordered: bool = False,
) -> DataFrame:
    """Member pairs WITHIN each exact-duplicate group, labeled with
    ``value`` (an aliased expression over the rep's ``sizes`` columns —
    identical docs make the pairwise measure a function of one doc's
    own stats). Reps without a ``sizes`` row (below the shingle
    threshold) drop out, exactly as their pairs never meet in the
    pairwise join."""
    dup_groups = members.filter(F.col("gsz") >= 2)
    base = dup_groups.join(sizes, F.col("rep") == F.col("doc_id")).select(
        "rep", value
    )
    vals = [c for c in base.columns if c != "rep"]
    if DEDUP_MEMBER_PAIR_CAP > 0:
        total = (
            dup_groups.join(
                sizes, F.col("rep") == F.col("doc_id"), "left_semi"
            )
            .agg(
                F.coalesce(
                    F.sum(F.col("gsz") * (F.col("gsz") - 1)), F.lit(0)
                )
            )
            .first()[0]
        )
        if not ordered:
            total //= 2
        _refuse_member_flood(int(total), "_within_group_pairs")
    # Join fan-out (see _expand_rep_pairs): two singly-exploded member
    # streams meet on the rep key — no ids array is ever carried
    # through an explode.
    m = dup_groups.select("rep", F.explode("ids").alias("_m"))
    pairs = (
        base.join(m.withColumnRenamed("_m", "_a"), "rep")
        .join(m.withColumnRenamed("_m", "_b"), "rep")
        .filter(
            F.col("_a") != F.col("_b") if ordered else F.col("_a") < F.col("_b")
        )
    )
    return pairs.select(
        F.col("_a").alias(ca), F.col("_b").alias(cb), *vals
    )



@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(len(w) - 2),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (>= 0.2).

    The shuffle key is the shingle, so only docs sharing a shingle ever
    meet — but hot shingles still fan out quadratically; this is the
    oracle-checked baseline that the LSH variant approximates at scale.
    Jaccard is an int/int double division — bit-exact across engines.

    Exact duplicates are COLLAPSED to one representative per distinct
    text before the shingle join and member pairs expanded afterwards
    (identical shingle sets -> identical Jaccard against everything;
    within-group pairs are J = n/(2n-n) = 1.0 exactly, the same double
    the pairwise formula yields). This bounds the hot-shingle fan-out
    by DISTINCT-text df^2: on the 100x duplicate-heavy sf10 corpus the
    uncollapsed join's Sum(df^2) shuffle filled 38 GB of spill and
    died; collapsed, df shrinks 100x and the join is the sf0.1-sized
    problem plus an output-sized expansion.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    members, rep_pairs, sizes, passthrough = _ngram_jaccard_rep_pairs(docs, sf_dir)
    if passthrough:
        return rep_pairs
    cross = _expand_rep_pairs(rep_pairs, members, "doc_a", "doc_b")
    # within-group: identical shingle sets -> n_common = na = nb = n,
    # so J = n/(2n-n) = 1.0 via the same division (docs below the
    # shingle threshold have no sizes row and drop out, exactly like
    # the pairwise path).
    within = _within_group_pairs(
        members,
        sizes,
        (F.col("n").cast("double") / F.col("n")).alias("jaccard"),
        "doc_a",
        "doc_b",
    )
    return cross.unionByName(within)


def _ngram_jaccard_rep_pairs(
    docs: DataFrame, sf_dir: str | None = None
) -> tuple[DataFrame | None, DataFrame, DataFrame, bool]:
    """(members, rep_pairs, sizes, passthrough): the probe-gated
    collapsed exact-Jaccard pair pipeline, shared by the pair query
    (dedup_ngram_jaccard) and the cluster query
    (dedup_cluster_canonical), which needs the REP-level pair graph —
    running connected components on expanded member pairs would undo
    the collapse exactly where it matters most (every member of a dup
    group carries identical edges)."""
    members, reps, passthrough = _collapse_or_passthrough(docs, sf_dir)
    sh = (
        shingled_docs(reps)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .transform(persist_tracked)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    rep_pairs = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )
    return members, rep_pairs, sizes, passthrough


# ----------------------------------------------------- n-gram containment


@register(
    "dedup_containment_ngram",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(len(w) - 2),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_inner, i.doc_outer,
           CAST(i.n_common AS DOUBLE) / sa.n AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_inner
    WHERE CAST(i.n_common AS DOUBLE) / sa.n >= 0.5
    """,
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: |sh(inner) ∩ sh(outer)| /
    |sh(inner)| >= 0.5 — catches sub-document duplication (quote
    farms, page-in-page mirrors) that symmetric Jaccard misses when the
    outer doc is much larger (J = |∩|/|∪| dilutes with the big doc's
    size; containment doesn't). Broder's "containment" companion to
    resemblance (SEQUENCES '97).

    Scale: identical inverted-index shape to dedup_ngram_jaccard — the
    shuffle key is the shingle, only co-shingled ordered pairs are
    materialized, and the divisor join is against the (doc_id, n) size
    table, broadcastable at any corpus size where doc COUNT (not text
    bytes) fits a broadcast; above that it's a key-partitioned join on
    doc_inner. At 100 TB the LSH pre-filter bounds the candidate space
    first (same flip as the Jaccard baseline).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # Same exact-duplicate collapse as the Jaccard baseline: identical
    # texts have identical containment against everything, and the
    # uncollapsed Sum(df^2) shingle join is the piece that explodes on
    # duplicate-heavy corpora. Containment is ASYMMETRIC, so rep pairs
    # expand in their stored direction and within-group pairs are the
    # ordered a != b combinations (containment of a doc in its
    # identical twin = n/n = 1.0 via the same division).
    members, reps, passthrough = _collapse_or_passthrough(docs, sf_dir)
    sh = (
        shingled_docs(reps)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .transform(persist_tracked)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_inner"),
            F.col("b.doc_id").alias("doc_outer"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_inner"), F.col("n").alias("na"))
    cont = F.col("n_common").cast("double") / F.col("na")
    rep_pairs = (
        inter.join(sa, "doc_inner")
        .select("doc_inner", "doc_outer", cont.alias("containment"))
        .filter(F.col("containment") >= 0.5)
    )
    if passthrough:
        return rep_pairs
    cross = _expand_rep_pairs(
        rep_pairs, members, "doc_inner", "doc_outer", ordered=True
    )
    within = _within_group_pairs(
        members,
        sizes,
        (F.col("n").cast("double") / F.col("n")).alias("containment"),
        "doc_inner",
        "doc_outer",
        ordered=True,
    )
    return cross.unionByName(within)


# --------------------------------------------------------- MinHash+LSH


@register("dedup_minhash_lsh")  # no SQL oracle: xxhash64 is Spark-specific
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified (>= 0.35).

    Pipeline: shingle -> 64-slot MinHash signature -> 16 bands x 4 rows
    -> banded bucket join for candidates -> exact Jaccard on the
    candidate pairs only (array_intersect on the two shingle sets).
    Candidate generation cost is bucket-local; no all-pairs stage
    anywhere, which is what makes this the 100 TB path. Deterministic:
    the signature is densified one-permutation hashing over xxhash64,
    with no random coefficients. Recall is the banding S-curve, for independent
    slots P(candidate) = 1 - (1 - J^4)^16: 0.64 at J = 0.5, 0.89 at
    0.6, 0.988 at 0.7 and 0.9998 at 0.8; a pair is never reported
    below the 0.35 threshold, but pairs near it can be missed. (Tests
    cross-check the result against dedup_ngram_jaccard on a corpus
    whose near-duplicate pairs all have J >= 0.89.)

    r7 (sf100 disk-fill fix): the pipeline runs over DISTINCT texts —
    identical texts share identical signatures, so at 1000-way
    duplication the uncollapsed band buckets went quadratic in group
    size and the candidate dedup shuffle FILLED THE DISK at the 1000x
    fixture (SWEEP_SF100_r7, the r6 minhash_recall_report hazard
    reproduced in the pair-emitting query). Collapsed, the bucket join
    and Jaccard verify are duplication-independent; member pairs
    stream out of the fan-out expansion (cross pairs inherit the rep
    jaccard verbatim, within-group pairs are identical texts — J = 1.0
    exactly, and only for groups that shingle at all) with no
    member-level shuffle anywhere.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    members, reps, passthrough = _collapse_or_passthrough(docs, sf_dir)
    rep_pairs = minhash_lsh_pairs(reps)
    if passthrough:
        return rep_pairs
    cross = _expand_rep_pairs(rep_pairs, members, "doc_a", "doc_b")
    shingled = shingled_docs(reps).select("doc_id")
    within = _within_group_pairs(
        members, shingled, F.lit(1.0).alias("jaccard"), "doc_a", "doc_b"
    )
    return cross.unionByName(within)


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.35) -> DataFrame:
    """The batch MinHash+LSH pipeline over any (doc_id, text) frame —
    see dedup_minhash_lsh for the design narrative."""
    # The signature and both verification sides read the shingles from
    # one exchange: Spark reuses an identical exchange, so the corpus is
    # tokenized and shingled once instead of three times (a cold
    # 4,000-document pass, C1 JIT, 4 vCPU: ~9.5 -> ~8 s; warm 4.2 ->
    # 2.9 s). At 100 TB, gate verification to candidate documents
    # instead: materialize `cand` (tiny) first, then
    #   cand_sh = shingled_docs(docs.join(cand.ids, "doc_id", "left_semi"))
    base = shingled_docs(docs).repartition("doc_id")
    sigs = with_minhash_signature(
        base.select("doc_id", shingle_hashes(F.col("shingles")).alias("h")), "h"
    )
    bands = sigs.select(
        "doc_id", F.explode(lsh_band_buckets(F.col("sig"))).alias("bk")
    ).select("doc_id", "bk.band", "bk.bucket")

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Exact-Jaccard verification joins the candidate pairs back to the
    # shingle arrays; the joins read `base` unrenamed, which keeps its
    # exchange identical and so reused.
    sa, sb = base.alias("sa"), base.alias("sb")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("sa.shingles").alias("sh_a"),
            F.col("sb.shingles").alias("sh_b"),
        )
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# -------------------------------------------------------------- SimHash


@register("dedup_simhash")  # no SQL oracle: xxhash64 is Spark-specific
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming distance <= 3 over a 64-bit
    token-frequency fingerprint).

    The 64-bit fingerprint is built as 4 x 16-bit chunks; by pigeonhole,
    any pair within distance 3 shares at least one identical chunk, so
    the candidate join is on (chunk_idx, chunk_value) — bucket-local,
    no all-pairs. One explode + one hash agg per doc; map-side partials.

    r6 sf10 fix (205 s -> seconds at 100x): EXACT-DUPLICATE COLLAPSE
    first — identical texts have identical token streams, hence
    identical fingerprints, so the 64 bit-sum aggregates and the
    banded bucket join run over one REPRESENTATIVE per distinct text
    (100x less agg input on the 100-way-duplicated corpus, and bucket
    occupancy stops being inflated by copies); member pairs are then
    reconstructed mechanically — cross-group pairs inherit the rep
    hamming verbatim, within-group pairs are hamming 0. Same pair set,
    compute bounded by DISTINCT texts.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    members, reps, passthrough = _collapse_or_passthrough(docs, sf_dir)
    tok = reps.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    h = F.xxhash64("t")
    bit_sums = [
        F.sum(
            (F.shiftright(h, k).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{k}")
        for k in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    chunks = [
        sum(
            (F.when(F.col(f"s{c * 16 + j}") > 0, 1).otherwise(0) * (1 << j))
            for j in range(16)
        ).alias(f"c{c}")
        for c in range(4)
    ]
    fp = agg.select("doc_id", *chunks)

    banded = fp.select(
        "doc_id",
        *[F.col(f"c{c}") for c in range(4)],
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("band"), F.col(f"c{c}").alias("val"))
                    for c in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *[f"c{c}" for c in range(4)], "bk.band", "bk.val")

    a, b = banded.alias("a"), banded.alias("b")
    ham = sum(
        F.bit_count(
            F.col(f"a.c{c}").bitwiseXOR(F.col(f"b.c{c}")).cast("bigint")
        )
        for c in range(4)
    )
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= 3)
    )
    if passthrough:
        return rep_pairs
    cross = _expand_rep_pairs(rep_pairs, members, "doc_a", "doc_b")
    # Identical docs: hamming 0, always <= 3. Reps with no fingerprint
    # (zero tokens) drop via the fp join, exactly as their pairs never
    # met in the uncollapsed bucket join.
    ham_type = rep_pairs.schema["hamming"].dataType.simpleString()
    within = _within_group_pairs(
        members,
        fp,
        F.lit(0).cast(ham_type).alias("hamming"),
        "doc_a",
        "doc_b",
    )
    return cross.unionByName(within)


# ------------------------------------------- embedding-cosine near-dup


def dot_f32(a: Column, b: Column) -> Column:
    """Sequential float32 dot product — matches DuckDB's
    list_dot_product accumulation bit-for-bit (verified empirically), so
    cosine thresholds and orderings agree exactly with the oracle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("float"),
        lambda acc, x: acc + x,
    )


def require_nonzero_norms(nm, where: str) -> None:
    """Zero-norm embeddings are OUT OF CONTRACT for the GEMM cosine
    kernels (r6 advice): cosine against a zero vector is undefined, and
    the two physical plans DIVERGE on it — the Spark/DuckDB fold yields
    NaN (which desc-ordering ranks FIRST and DuckDB's `>= t` treats as
    true), while the numpy kernels' old guarded normalization scored it
    0 (never a candidate). Rather than silently produce plan-dependent
    answers, every GEMM kernel asserts the contract and fails loudly.
    ``nm``: 1-D numpy array of norms; ``where``: kernel name for the
    error message."""
    import numpy as np

    if len(nm) and not np.all(nm > 0.0):
        bad = int((nm <= 0.0).sum())
        raise ValueError(
            f"{where}: {bad} zero-norm embedding(s) encountered — cosine "
            "is undefined for them and the GEMM prefilter and the fold "
            "plan rank them differently (NaN vs 0). Zero-norm vectors "
            "are out of contract; filter or impute them upstream."
        )


_require_nonzero_norms = require_nonzero_norms


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(CAST(list_dot_product(embedding, embedding) AS DOUBLE)) AS nm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE)
             / (a.nm * b.nm) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE)
            / (a.nm * b.nm) >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.45), brute force.

    Correctness baseline for semantic dedup; the LSH-bucketed variant
    (similarity.ann_lsh_topk's signature scheme) is the scale path. The
    self-join is a single shuffle; norms are precomputed once per side.

    r6 sf10 fix (900 s watchdog timeout -> seconds at 100x):
    EXACT-DUPLICATE COLLAPSE on the embedding VALUE first — identical
    vectors have identical cosine against everything, so the GEMM
    prefilter and the fold verify run over one representative per
    distinct vector (the 100-way-replicated corpus otherwise blew past
    GEMM_BROADCAST_CAP_ROWS into the SRP fallback, whose buckets were
    then quadratic in the 100-member identity groups); member pairs
    reconstruct mechanically — cross-group pairs inherit the rep
    cosine verbatim, within-group pairs score dot_f32(e,e)/nm^2, the
    exact value the uncollapsed join computed for identical arrays.
    Collapse also keeps the corpus under the GEMM cap ~duplication x
    longer, so exact recall survives to much larger raw row counts.

    r7 (dup-ratio gate, r6 verdict item 6): the collapse (groupBy on
    the 512-byte embedding value + member expansion joins) is pure
    overhead when the corpus has no exact-dup vectors — the sf0.1
    bench paid +58% for machinery the data never used. The gate is a
    HASH-CERTIFIED dup probe run before any collapse: count_distinct
    of xxhash64(embedding) — an 8-byte-key map-side-combined
    aggregate, far cheaper than grouping on the array itself. Equal
    count == row count PROVES dup-freeness (value-equal implies
    hash-equal), so the fast path runs the direct uncollapsed pipeline
    (the r5 shape); a hash collision can only under-count, sending a
    dup-free corpus down the slower-but-still-correct collapse path.
    The sf10 path (heavy duplication) is unchanged.
    """
    # Unspread: at 20k x 64 the GEMM batches and verify joins are faster
    # without an extra repartition exchange; on a real partitioned corpus
    # the scan has splits already (spread=True documented in load_table
    # is for the regex-heavy documents pipelines).
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    n_raw = emb.count()  # parquet metadata count — no scan
    pdf = None
    if n_raw <= GEMM_BROADCAST_CAP_ROWS:
        # Under the GEMM cap the candidate stage collects the corpus
        # anyway — so the dup probe is FREE driver-side work on that
        # same collect (exact byte equality, no hashing caveat), and
        # the dup-free fast path costs zero extra Spark jobs vs the
        # r5 uncollapsed pipeline.
        pdf = emb.select("vec_id", "embedding").toPandas()
        n_distinct = len(
            {np.asarray(a).tobytes() for a in pdf["embedding"].to_numpy()}
        )
    else:
        # Above the cap: one distributed 8-byte-key probe (hash-
        # certified — a collision only under-counts, routing a
        # dup-free corpus down the slower-but-correct collapse path).
        n_distinct = emb.agg(
            F.count_distinct(F.xxhash64("embedding")).alias("d")
        ).first()[0]
    dup_free = n_distinct == n_raw
    if dup_free:
        grp = None
        reps = emb.select("vec_id", "embedding")
    else:
        grp = persist_tracked(
            emb.groupBy("embedding").agg(
                F.min("vec_id").alias("vec_id"),
                F.collect_list("vec_id").alias("ids"),
                F.count(F.lit(1)).alias("gsz"),
            )
        )
        reps = grp.select("vec_id", "embedding")
    cand = cosine_candidate_pairs(
        reps,
        threshold=0.45,
        margin=1e-3,
        corpus_pd=pdf if dup_free else None,
        # reps row count == n_distinct by construction — skip the
        # internal count job whenever the GEMM path will be taken.
        side_count=None if (dup_free and pdf is not None) else int(n_distinct),
    )
    n = reps.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_f32(F.col("embedding"), F.col("embedding")).cast("double")).alias(
            "nm"
        ),
    )
    a = n.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nm").alias("nm_a"),
    )
    b = n.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nm").alias("nm_b"),
    )
    cosine = dot_f32(F.col("emb_a"), F.col("emb_b")).cast("double") / (
        F.col("nm_a") * F.col("nm_b")
    )
    rep_pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.45)
    )
    # Dup-free corpus (hash-certified above): reps ARE the members —
    # the expansion tiers below would add three joins for nothing.
    if dup_free:
        return rep_pairs
    members = grp.select(F.col("vec_id").alias("rep"), "ids", "gsz")
    cross = _expand_rep_pairs(rep_pairs, members, "id_a", "id_b")
    self_cos = n.select(
        F.col("vec_id").alias("doc_id"),
        (
            dot_f32(F.col("embedding"), F.col("embedding")).cast("double")
            / (F.col("nm") * F.col("nm"))
        ).alias("selfcos"),
    )
    within = _within_group_pairs(
        members, self_cos, F.col("selfcos").alias("cosine"), "id_a", "id_b"
    ).filter(F.col("cosine") >= 0.45)
    return cross.unionByName(within)


# Cap for the exact GEMM prefilter. Bounds BOTH resources the path
# consumes: broadcast memory (rows * dim * 8 B ~ 51 MB at dim=64) and,
# more binding, the quadratic compute — per scanned row the matmul is
# cap * dim flops, so the cap is the knob that keeps the exact path's
# total work ~ n * cap * dim instead of quietly exploding. The old
# 1M-row value was memory-safe but compute-absurd (n=1M -> 6e16 flops);
# the sf1 (10x) bench run exposed the trend at just 20k rows.
GEMM_BROADCAST_CAP_ROWS = 100_000


def _srp_candidate_pairs(emb: DataFrame) -> DataFrame:
    """Fully distributed near-dup candidate pairs via SRP-LSH band
    buckets: vectors sharing >= 1 of 4 sign-random-projection bands
    become a candidate pair. Bucket self-join only — no all-pairs, no
    driver-side collection; this is the 100 TB path. Recall < 1 by
    construction (tunable via bands/bits); callers re-score candidates
    with the exact cosine so precision is unaffected."""
    # Function-level import: similarity imports dot_f32 from this module
    # at load time, so the reverse import must stay lazy.
    from node_gedcom_graph_spark.operators.similarity import (
        SRP_BANDS,
        srp_bucket_cols,
    )

    banded = (
        emb.select("vec_id", *srp_bucket_cols())
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"), F.col(f"srp{b}").alias("bucket")
                        )
                        for b in range(SRP_BANDS)
                    ]
                )
            ).alias("bk"),
        )
        .select("vec_id", "bk.band", "bk.bucket")
    )
    other = banded.select(
        F.col("vec_id").alias("id_b"), "band", "bucket"
    )
    return (
        banded.select(F.col("vec_id").alias("id_a"), "band", "bucket")
        .join(other, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b")
    )


def cosine_candidate_pairs(
    emb: DataFrame,
    threshold: float,
    margin: float = 1e-3,
    corpus: DataFrame | None = None,
    broadcast_cap: int = GEMM_BROADCAST_CAP_ROWS,
    side_count: int | None = None,
    corpus_pd=None,
) -> DataFrame:
    """Exact-recall candidate pairs with cosine >= threshold - margin,
    via a vectorized numpy GEMM prefilter — guarded by a row-count cap.

    One side of the all-pairs comparison is broadcast as a dense
    (n, dim) float64 matrix; each Arrow batch of the other side does a
    single C-speed matmul against it. The margin (1e-3) exceeds any
    f32-vs-f64 accumulation drift (~1e-7) by four orders of magnitude,
    so no true pair is lost — the exact fold then re-scores survivors.

    Scale guard: the broadcast side is only safe to ~`broadcast_cap`
    rows (~500 MB at dim=64). The corpus is counted first (a cheap
    2-column aggregate); above the cap the function degrades gracefully
    to the fully distributed SRP-LSH bucket join instead of dying on a
    driver OOM — approximate recall, exact precision (callers
    re-score)."""
    import numpy as np

    # ``corpus``: optionally a cheaper-to-collect lineage of the SAME
    # rows (e.g. the unspread scan) for the driver-side broadcast.
    # ``side_count``: the caller's already-known row count of that side
    # (skips one count job — material at fixture scale).
    # ``corpus_pd``: the SAME rows already collected as pandas (caller
    # guarantees len <= broadcast_cap) — skips both the count and the
    # collect.
    if corpus_pd is not None:
        corpus = corpus_pd
    else:
        side = corpus if corpus is not None else emb
        n_side = side.count() if side_count is None else side_count
        if n_side > broadcast_cap:
            return _srp_candidate_pairs(emb)
        corpus = side.select("vec_id", "embedding").toPandas()
    ids = corpus["vec_id"].to_numpy()
    m = np.stack(corpus["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(m, axis=1)
    _require_nonzero_norms(norms, "cosine_candidate_pairs (broadcast side)")
    sc = emb.sparkSession.sparkContext
    bc = sc.broadcast((ids, m / norms[:, None]))
    cutoff = threshold - margin

    def scan(batches):
        import pandas as pd

        b_ids, b_mat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qn = np.linalg.norm(q, axis=1)
            _require_nonzero_norms(qn, "cosine_candidate_pairs (scan batch)")
            q = q / qn[:, None]
            qids = pdf["vec_id"].to_numpy()
            # chunk the query side: the sims slab is chunk x |corpus|
            # doubles (~800 MB for a 5k-row batch against 20k rows if
            # unchunked — the sf1 bench regression); 1024 rows bounds
            # it to ~160 MB at the 100k-row corpus cap.
            for lo in range(0, len(q), 1024):
                sims = q[lo : lo + 1024] @ b_mat.T
                rows, cols = np.nonzero(sims >= cutoff)
                ids_chunk = qids[lo : lo + 1024]
                keep = ids_chunk[rows] < b_ids[cols]
                yield pd.DataFrame(
                    {
                        "id_a": ids_chunk[rows][keep],
                        "id_b": b_ids[cols][keep],
                    }
                )

    return emb.select("vec_id", "embedding").mapInPandas(
        scan, "id_a long, id_b long"
    )


# ------------------------------------------- duplicate-cluster canonicalization


@register(
    "dedup_cluster_canonical",
    oracle="""
    WITH RECURSIVE toks AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(len(w) - 2),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.2
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach AS (
      SELECT DISTINCT a AS id, a AS r FROM edges
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
    )
    SELECT doc_id, canonical_id, cluster_size,
           doc_id = canonical_id AS is_kept
    FROM (
      SELECT id AS doc_id, MIN(r) AS canonical_id, COUNT(*) AS cluster_size
      FROM reach GROUP BY id
    )
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    exact-Jaccard pair graph, each doc labeled with its cluster's
    canonical (minimum) doc_id and a keep/drop flag — the decision a
    curation pipeline actually applies ("keep one copy per duplicate
    cluster", transitively: if A~B and B~C, drop two of {A,B,C} even
    when A~C is below threshold).

    Scale: connected components run on ``graph.traverse.components``
    (via graph/queries.connected_components): seeded HashMin with two
    pointer jumps per round, one shuffle on doc_id per round and
    O(log diameter) rounds; near-dup clusters are shallow (dup chains
    rarely exceed 2-3 hops), so a handful of rounds, each one
    ``localCheckpoint`` job that the kernel frees once superseded. The
    DuckDB oracle computes the same fixpoint as a recursive-CTE
    transitive closure — exponential in cluster size, fine at oracle
    scale, which is exactly why the engine side iterates instead.

    r7: CC runs on the REP-level pair graph (the collapse idiom's
    natural endpoint — every member of an exact-dup group carries
    identical edges, so propagating labels over member pairs redoes
    the same work |group|^2 times). Rep id = its group's MINIMUM
    member id, so the rep-component label IS the member-level
    canonical id; a dup group with no cross-group edge but >= 2
    shingled members forms its own cluster (its within-group J = 1.0
    edges put it in the member-level graph), added as an isolated
    component; cluster_size = sum(gsz) over the component's groups;
    member verdicts expand by exploding the group id lists. Dup-light
    corpora (the probe) run the original member-level CC unchanged.
    """
    from pyspark.sql import Window as W

    from node_gedcom_graph_spark.graph.queries import connected_components

    docs = load_table(spark, sf_dir, "documents", spread=True)
    members, rep_pairs, sizes, passthrough = _ngram_jaccard_rep_pairs(docs, sf_dir)
    edges = rep_pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    if passthrough:
        comp = connected_components(edges)
        return comp.select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("canonical_id"),
            F.count(F.lit(1))
            .over(W.partitionBy("component"))
            .alias("cluster_size"),
            (F.col("id") == F.col("component")).alias("is_kept"),
        )
    comp = connected_components(edges)
    # Isolated qualifying dup groups: >= 2 members AND a shingled rep
    # (shingle-less docs never form J=1.0 within-pairs in the member
    # graph), not already present via a cross-group edge.
    iso = (
        members.filter(F.col("gsz") >= 2)
        .select(F.col("rep").alias("id"))
        .join(
            sizes.select(F.col("doc_id").alias("id")), "id", "left_semi"
        )
        .join(comp.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    ginfo = comp.unionByName(iso).join(
        members.select(F.col("rep").alias("id"), "ids", "gsz"), "id"
    )
    stats = ginfo.groupBy("component").agg(
        F.sum("gsz").alias("cluster_size")
    )
    return (
        ginfo.join(stats, "component")
        .select(
            F.explode("ids").alias("doc_id"),
            F.col("component").alias("canonical_id"),
            "cluster_size",
        )
        .withColumn("is_kept", F.col("doc_id") == F.col("canonical_id"))
    )


# ----------------------------------------------------- decontamination


# The held-out benchmark source. r6 fix: this was 'wiki' for five
# rounds, a source that does NOT EXIST in the fixture (sources are
# src0..src19) — both engines agreed on an identically EMPTY result,
# so the gate stayed green while the query was vacuous. src0 makes the
# contamination check real (sf0.1: 4,748 contaminated docs).
DECON_BENCH_SOURCE = "src0"


@register(
    "decontaminate_ngram_overlap",
    oracle="""
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
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every candidate training doc
    (source != DECON_BENCH_SOURCE) that shares at least one word-3-gram
    with the held-out set (source = DECON_BENCH_SOURCE), with the count of distinct
    overlapping shingles — the standard n-gram-overlap contamination
    check run before pretraining.

    Scale: the join shuffles on the SHINGLE, so a training doc only
    ever meets benchmark shingles it actually contains; the benchmark
    side is distinct-reduced first (and at real scale is both far
    smaller than the corpus and broadcastable as a bloom/hash set —
    here an equi-join so the oracle can mirror it exactly). No
    all-pairs stage; output is per-doc hit counts for thresholding.

    r7: probe-gated exact-dup collapse — hit counts are a function of
    the TEXT (|sh(text) ∩ benchSet|), so the shingle join runs once
    per distinct text and member docs inherit the count. Unlike the
    pair operators, a dup group may SPAN sources (a benchmark doc's
    exact copy in the training set is contamination by definition),
    so the collapse groups by text carrying (doc_id, source) members
    and a has-benchmark flag: bench shingles come from groups with
    any benchmark member; counts expand only to non-benchmark
    members. Dup-light corpora run the direct per-doc join unchanged.
    """
    # Filter BEFORE shingling: each branch tokenizes only its own docs
    # (one pass over the corpus total), versus shingling everything and
    # re-attaching `source` with a join — which ran the tokenizer twice
    # and added a shuffle purely to recover a column the scan had.
    docs = load_table(spark, sf_dir, "documents", spread=True)
    if text_dup_extra(docs, sf_dir) <= DUP_COLLAPSE_MIN_EXTRA:
        bench = (
            shingled_docs(docs.filter(F.col("source") == DECON_BENCH_SOURCE))
            .select(F.explode("shingles").alias("shingle"))
            .distinct()
        )
        train = shingled_docs(
            docs.filter(F.col("source") != DECON_BENCH_SOURCE)
        ).select("doc_id", F.explode("shingles").alias("shingle"))
        return (
            train.join(bench, "shingle")
            .groupBy("doc_id")
            .agg(F.countDistinct("shingle").alias("n_hits"))
        )
    grp = persist_tracked(
        docs.groupBy("text").agg(
            F.min("doc_id").alias("rep"),
            F.collect_list(F.struct("doc_id", "source")).alias("mems"),
            F.max(
                (F.col("source") == DECON_BENCH_SOURCE).cast("int")
            ).alias("has_bench"),
        )
    )
    bench = (
        shingled_docs(
            grp.filter(F.col("has_bench") == 1).select(
                F.col("rep").alias("doc_id"), "text"
            )
        )
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    rep_sh = shingled_docs(
        grp.select(F.col("rep").alias("doc_id"), "text")
    ).select("doc_id", F.explode("shingles").alias("shingle"))
    rep_hits = (
        rep_sh.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
        .withColumnRenamed("doc_id", "rep")
    )
    return (
        grp.join(rep_hits, "rep")
        .select(F.explode("mems").alias("m"), "n_hits")
        .filter(F.col("m.source") != DECON_BENCH_SOURCE)
        .select(F.col("m.doc_id").alias("doc_id"), "n_hits")
    )


# ------------------------------ semantic decontamination (embedding)

# Cosine bar above which a training vector counts as semantically
# contaminated by the held-out set. 0.35 sits at the ~95th percentile
# of best-match cosines on the synthetic embeddings, so the flag is
# non-trivially split at every test SF.
DECON_COS_T = 0.35
# Hard cap on the broadcast benchmark side (the KNN_QUERY_CAP
# pattern): a real eval suite is fixed-size, but the %17 sample grows
# with the corpus, which made the probe QUADRATIC — the sf10 sweep
# measured 611 s at 100x (188k train x 11.8k bench folds). Hash-rank
# orderBy+limit plans as TakeOrderedAndProject, so the broadcast is
# O(cap x dim) at any corpus size; non-binding at every oracle-gated
# SF (sf0.01: 29 bench rows, sf0.1: 294, synthetic sf1: 1,176, sf10:
# 11.8k), so gate results remain exactly the oracle's unbounded
# semantics. Unlike the query-panel caps (which subsample WORK), this
# one subsamples the contamination REFERENCE — a binding cap means
# false negatives — so the operator WARNS when it binds (r5 advice)
# and the GEMM kernel sizes the cap 4x above the largest sweep tier.
DECON_BENCH_CAP = 16_384
# GEMM-candidate margin in cosine units. The exact fold accumulates 64
# float32 products (unit-relative error <= 64 * 2^-24 ~ 3.8e-6 of
# ||t||*||b||, i.e. <= 3.8e-6 in cosine), while the float64 GEMM's own
# error is ~1e-15; 1e-4 exceeds the worst-case fold-vs-f64 divergence
# by >25x, so the fold-argmax is always inside the candidate band.
DECON_GEMM_MARGIN = 1e-4


@register(
    "decontaminate_embedding_cosine",
    oracle=f"""
    WITH n AS MATERIALIZED (
      SELECT vec_id, embedding,
             sqrt(CAST(list_dot_product(embedding, embedding) AS DOUBLE)) AS nm
      FROM embeddings
    ), b AS (
      SELECT * FROM n WHERE vec_id % 17 = 0
    ), t AS (
      SELECT * FROM n WHERE vec_id % 17 <> 0
    ), scored AS (
      SELECT t.vec_id,
             b.vec_id AS bench_id,
             CAST(list_dot_product(t.embedding, b.embedding) AS DOUBLE)
               / (t.nm * b.nm) AS cosine
      FROM t CROSS JOIN b
    )
    SELECT vec_id, bench_id, cosine,
           cosine >= {DECON_COS_T} AS contaminated
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, bench_id) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def decontaminate_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space twin of
    decontaminate_ngram_overlap: for every candidate training vector
    (vec_id % 17 != 0), its single closest held-out benchmark vector
    (vec_id % 17 == 0) by cosine, flagged when the similarity clears
    DECON_COS_T. N-gram overlap misses paraphrased contamination;
    this is the check run on embeddings before pretraining to catch
    it (argmax ties break on bench_id, the module's standard
    deterministic rank).

    Scale: the benchmark side is an eval suite — tiny by construction
    and BROADCAST (a numpy matrix, the cosine_candidate_pairs
    pattern), so the probe is ONE training-corpus scan with a C-speed
    float64 GEMM per Arrow batch — the r5 fold-only plan was correct
    but compute-bound (245 s at sf10: 188k x 11.8k x 64 lambda-fold
    flops in codegen); the GEMM kernel does the same flops in BLAS.

    Bit-exactness is preserved by a two-step rescore: the f64 GEMM
    (error ~1e-15) selects every bench vector within
    DECON_GEMM_MARGIN = 1e-4 of the row's best cosine — a band >25x
    wider than the worst possible f32-fold-vs-f64 divergence (see the
    margin constant) — then the survivors (usually 1-2 per row) are
    re-scored with the EXACT sequential float32 fold: numpy
    cumsum(dtype=float32) reproduces dot_f32's accumulation
    bit-for-bit (f32 elementwise products, then a strict left fold),
    which itself matches DuckDB's list_dot_product. Argmax ties break
    on bench_id over the FOLD cosine, so the winner row, its cosine
    double, and the threshold flag are identical to the pure-fold
    plan's and to the oracle's.
    """
    import warnings

    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    bench_pd = (
        emb.filter(F.col("vec_id") % 17 == 0)
        .orderBy(F.xxhash64("vec_id", F.lit(29)), "vec_id")
        .limit(DECON_BENCH_CAP)
        .select("vec_id", "embedding")
        .toPandas()
    )
    if len(bench_pd) >= DECON_BENCH_CAP:
        # The cap truncates the contamination REFERENCE (false
        # negatives above it) — never silently (r5 advice). r6 advice:
        # a panel of EXACTLY cap rows is not truncation — count the
        # eligible rows (only in this already-rare branch) and warn
        # only when some were actually dropped.
        n_eligible = emb.filter(F.col("vec_id") % 17 == 0).count()
        if n_eligible > DECON_BENCH_CAP:
            warnings.warn(
                f"decontaminate_embedding_cosine: benchmark panel "
                f"truncated to DECON_BENCH_CAP={DECON_BENCH_CAP} of "
                f"{n_eligible} eligible rows; training vectors "
                f"contaminated only by unsampled bench rows will be "
                f"flagged clean",
                RuntimeWarning,
                stacklevel=2,
            )
    b_ids = bench_pd["vec_id"].to_numpy(dtype=np.int64)
    b32 = (
        np.stack(bench_pd["embedding"].to_numpy()).astype(np.float32)
        if len(bench_pd)
        else np.zeros((0, 1), dtype=np.float32)
    )
    # Exact fold norms: f32 elementwise squares, strict-sequential f32
    # cumsum, then sqrt in f64 — bit-identical to
    # F.sqrt(dot_f32(e, e).cast("double")).
    b_nm = np.sqrt(
        np.cumsum(b32 * b32, axis=1, dtype=np.float32)[:, -1].astype(
            np.float64
        )
    )
    _require_nonzero_norms(b_nm, "decontaminate GEMM kernel (bench panel)")
    bn64 = (
        b32.astype(np.float64) / b_nm[:, None]
        if len(b_nm)
        else b32.astype(np.float64)
    )
    bc = spark.sparkContext.broadcast((b_ids, b32, b_nm, bn64))
    margin = DECON_GEMM_MARGIN

    def scan(batches):
        import pandas as pd

        ids, bmat32, bnm, bnorm64 = bc.value
        for pdf in batches:
            if not len(pdf) or not len(ids):
                continue
            t32 = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
            qids = pdf["vec_id"].to_numpy(dtype=np.int64)
            t_nm = np.sqrt(
                np.cumsum(t32 * t32, axis=1, dtype=np.float32)[:, -1].astype(
                    np.float64
                )
            )
            _require_nonzero_norms(
                t_nm, "decontaminate GEMM kernel (training batch)"
            )
            tn64 = t32.astype(np.float64) / t_nm[:, None]
            # 512-row chunks bound the similarity slab to
            # 512 x DECON_BENCH_CAP doubles (~64 MB at the cap).
            for lo in range(0, len(t32), 512):
                s = tn64[lo : lo + 512] @ bnorm64.T
                best = s.max(axis=1)
                rows, cols = np.nonzero(s >= best[:, None] - margin)
                # Exact f32-fold rescore of the candidate band only.
                prods = t32[lo + rows] * bmat32[cols]
                dots = np.cumsum(prods, axis=1, dtype=np.float32)[
                    :, -1
                ].astype(np.float64)
                cos = dots / (t_nm[lo + rows] * bnm[cols])
                # Per row: max fold-cosine, ties on min bench_id
                # (lexsort keys are LAST-primary).
                order = np.lexsort((ids[cols], -cos, rows))
                first = np.unique(rows[order], return_index=True)[1]
                sel = order[first]
                win = cos[sel]
                yield pd.DataFrame(
                    {
                        "vec_id": qids[lo + rows[sel]],
                        "bench_id": ids[cols[sel]],
                        "cosine": win,
                        "contaminated": win >= DECON_COS_T,
                    }
                )

    return (
        emb.filter(F.col("vec_id") % 17 != 0)
        .select("vec_id", "embedding")
        .mapInPandas(
            scan,
            "vec_id long, bench_id long, cosine double, contaminated boolean",
        )
    )


# --------------------------------------- MinHash+LSH, oracle-gated twin

MINHASH_MD5_SEEDS = 16
LSH_MD5_BANDS = 4
LSH_MD5_ROWS = MINHASH_MD5_SEEDS // LSH_MD5_BANDS


@register(
    "dedup_minhash_lsh_md5",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
      FROM toks WHERE len(t) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[CAST(i AS INTEGER):CAST(i AS INTEGER)+2], ' ')
               AS s
      FROM pos
    ), seeds AS (
      SELECT unnest(range(0, 16)) AS j
    ), hashed AS (
      SELECT doc_id, j,
             CAST(('0x' || substr(md5(s || '#' || CAST(j AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM sh CROSS JOIN seeds
    ), sig AS (
      SELECT doc_id, j, MIN(h) AS m FROM hashed GROUP BY doc_id, j
    ), bandkeys AS (
      SELECT doc_id, CAST(j // 4 AS BIGINT) AS band,
             string_agg(CAST(m AS VARCHAR), '_' ORDER BY j) AS key
      FROM sig GROUP BY doc_id, j // 4
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bandkeys a
    JOIN bandkeys b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate generation with ENGINE-AGNOSTIC hashes —
    the oracle-gated twin of dedup_minhash_lsh. The production variant
    uses xxhash64 (fast, JVM-side, but Spark-specific, so it can only
    be rows-only under the DuckDB gate); this twin derives every
    MinHash slot from md5(shingle '#' seed) prefixes, which DuckDB
    reproduces bit-for-bit — so the ENTIRE pipeline (tokenize ->
    distinct 3-gram shingles -> 16-slot signature -> 4 bands x 4 rows
    -> banded candidate join) is value-hash-checked end to end, not
    just row-counted. Same dataflow shape and scale argument as the
    production variant (candidates scale with true collisions, never
    all-pairs); md5's cost is the price of cross-engine checkability,
    which is why BOTH variants exist.

    Conditional-min aggregation keeps the signature a single map-side-
    combinable hash agg over (doc, seed) — the (doc_id x 16)-row
    shuffle carries minima, not shingle hashes.

    r7: exact-dup collapse + fan-out member expansion, same fix and
    same reasoning as dedup_minhash_lsh (the sf100 disk-fill) — the
    banded join runs over distinct texts, within-group candidates are
    the shingled dup groups' pairs (identical texts collide in every
    band by construction).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    members, reps, passthrough = _collapse_or_passthrough(docs, sf_dir)
    rep_pairs = minhash_md5_candidates(reps)
    if passthrough:
        return rep_pairs
    cross = _expand_rep_pairs(rep_pairs, members, "doc_a", "doc_b")
    shingled = shingled_docs(reps).select("doc_id")
    within = _within_group_pairs(
        members, shingled, F.lit(1).alias("_one"), "doc_a", "doc_b"
    ).select("doc_a", "doc_b")
    return cross.unionByName(within)


def minhash_md5_candidates(docs: DataFrame) -> DataFrame:
    """The engine-agnostic md5 MinHash+LSH candidate pipeline over any
    (doc_id, text) frame — see dedup_minhash_lsh_md5 for the design
    narrative; also the candidate side of minhash_recall_report."""
    bands = minhash_md5_bands(docs)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_md5_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key): the engine-agnostic md5 MinHash band keys
    of every shingled document — the shared candidate-generation stage
    of dedup_minhash_lsh_md5 (self-join) and the incremental
    new-vs-old variant (two-sided join in llmprep4)."""
    sh = (
        shingled_docs(docs)
        .select("doc_id", F.explode("shingles").alias("s"))
        .distinct()
    )
    seeds = F.explode(
        F.array(*[F.lit(j) for j in range(MINHASH_MD5_SEEDS)])
    ).alias("j")
    hashed = sh.select("doc_id", "s").select(
        "doc_id",
        seeds,
        "s",
    ).select(
        "doc_id",
        "j",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("s"), F.lit("#"), F.col("j").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min(F.when(F.col("j") == j, F.col("h"))).alias(f"m{j}")
            for j in range(MINHASH_MD5_SEEDS)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("bigint").alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"m{b * LSH_MD5_ROWS + r}").cast("string")
                                for r in range(LSH_MD5_ROWS)
                            ],
                        ).alias("key"),
                    )
                    for b in range(LSH_MD5_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    return bands


SIMHASH_MD5_BITS = 16


@register(
    "dedup_simhash_md5",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
      ) GROUP BY doc_id, tok
    ), hashed AS (
      SELECT doc_id, cnt,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM tf
    ), sums AS (
      SELECT doc_id,
             {sums}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({recon} AS BIGINT) AS simhash
    FROM sums
    """.format(
        sums=",\n             ".join(
            f"SUM(CASE WHEN (h >> {k}) & 1 = 1 THEN cnt ELSE -cnt END) AS s{k}"
            for k in range(16)
        ),
        recon=" + ".join(
            f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(16)
        ),
    ),
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures with ENGINE-AGNOSTIC hashes — the
    oracle-gated twin of dedup_simhash (xxhash64-based, rows-only by
    necessity). Each document's 16-bit signature is the sign-vector of
    frequency-weighted token-hash bits (md5 32-bit prefixes, so both
    engines fold identical integers; the s_k = 0 tie maps to bit 0 on
    both). Hash-gating the signature math end to end is what the
    production twin cannot get under a cross-engine oracle.

    Scale: one (doc, token) hash agg for frequencies, then ONE
    map-side-combinable aggregate computing all 16 bit-plane sums —
    the shuffle carries 16 integers per doc per partition. Bit
    operations stay in codegen on both engines.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tf = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    h = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h")
    )
    hashed = tf.select("doc_id", "cnt", h)
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), k).bitwiseAND(1) == 1,
                    F.col("cnt"),
                ).otherwise(-F.col("cnt"))
            ).alias(f"s{k}")
            for k in range(SIMHASH_MD5_BITS)
        ]
    )
    recon = None
    for k in range(SIMHASH_MD5_BITS):
        term = F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        recon = term if recon is None else recon + term
    return sums.select("doc_id", recon.cast("bigint").alias("simhash"))


@register(
    "dedup_savings_report",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS fingerprint
      FROM documents
    ), groups AS (
      SELECT fingerprint,
             CAST(COUNT(*) AS BIGINT) AS copies,
             CAST(MIN(doc_id) AS BIGINT) AS keep_id,
             CAST(SUM(n_chars) AS BIGINT) AS group_chars,
             CAST(MIN(n_chars) AS BIGINT) AS keep_chars
      FROM fp GROUP BY fingerprint
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(copies) AS BIGINT) AS n_docs,
           CAST(SUM(copies - 1) AS BIGINT) AS n_removable_docs,
           CAST(SUM(CASE WHEN copies > 1 THEN copies ELSE 0 END) AS BIGINT)
             AS n_docs_in_dup_groups,
           CAST(SUM(group_chars) AS BIGINT) AS total_chars,
           CAST(SUM(group_chars - keep_chars) AS BIGINT)
             AS removable_chars,
           CAST(CAST(SUM(group_chars - keep_chars) AS DOUBLE)
                / SUM(group_chars) AS DOUBLE) AS removable_char_ratio
    FROM groups
    """,
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision-maker's view of exact dedup: one row quantifying
    what normalized-exact deduplication would delete — duplicate
    groups, removable documents, removable characters (keeping each
    group's MIN-doc_id representative, whose n_chars is the group MIN
    under exact duplication of the normalized text... reported
    conservatively as group MIN so the ratio never overstates
    savings). The report every corpus team reads before paying for
    near-dup passes: if exact savings are already large, MinHash's
    marginal gain shrinks.

    Scale: one fingerprint hash-agg (16-byte keys, map-side combine)
    then a one-row rollup of the group table — the same shuffle
    budget as dedup_exact itself.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    norm = normalize_text(F.col("text"))
    fp = docs.select(
        "doc_id", "n_chars", F.md5(norm).alias("fingerprint")
    )
    groups = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("bigint").alias("copies"),
        F.min("doc_id").cast("bigint").alias("keep_id"),
        F.sum("n_chars").cast("bigint").alias("group_chars"),
        F.min("n_chars").cast("bigint").alias("keep_chars"),
    )
    return groups.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("copies").cast("bigint").alias("n_docs"),
        F.sum(F.col("copies") - 1).cast("bigint").alias("n_removable_docs"),
        F.sum(F.when(F.col("copies") > 1, F.col("copies")).otherwise(0))
        .cast("bigint")
        .alias("n_docs_in_dup_groups"),
        F.sum("group_chars").cast("bigint").alias("total_chars"),
        F.sum(F.col("group_chars") - F.col("keep_chars"))
        .cast("bigint")
        .alias("removable_chars"),
        (
            F.sum(F.col("group_chars") - F.col("keep_chars")).cast("double")
            / F.sum("group_chars")
        )
        .cast("double")
        .alias("removable_char_ratio"),
    )


RECALL_EVAL_J = 0.5  # the 4x4 band shape's similarity knee


@register(
    "minhash_recall_report",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
      FROM toks WHERE len(t) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[CAST(i AS INTEGER):CAST(i AS INTEGER)+2], ' ')
               AS s
      FROM pos
    ), seeds AS (
      SELECT unnest(range(0, 16)) AS j
    ), hashed AS (
      SELECT doc_id, j,
             CAST(('0x' || substr(md5(s || '#' || CAST(j AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM sh CROSS JOIN seeds
    ), sig AS (
      SELECT doc_id, j, MIN(h) AS m FROM hashed GROUP BY doc_id, j
    ), bandkeys AS (
      SELECT doc_id, CAST(j // 4 AS BIGINT) AS band,
             string_agg(CAST(m AS VARCHAR), '_' ORDER BY j) AS key
      FROM sig GROUP BY doc_id, j // 4
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandkeys a
      JOIN bandkeys b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), truth AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.5
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM cand c JOIN truth t
         ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_tp,
      CAST((SELECT COUNT(*) FROM cand c JOIN truth t
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS DOUBLE)
        / NULLIF((SELECT COUNT(*) FROM cand), 0) AS precision,
      CAST((SELECT COUNT(*) FROM cand c JOIN truth t
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS DOUBLE)
        / NULLIF((SELECT COUNT(*) FROM truth), 0) AS recall
    """,
)
def minhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH QUALITY, measured not argued: precision and recall of the
    md5 MinHash+LSH candidate set against exact-Jaccard ground truth
    at J >= 0.5 (the 4x4 band shape's similarity knee), as one gated
    row. This is the evaluation every LSH deployment owes its
    downstream consumers — recall tells you what the near-dup pass
    MISSES, precision what the verify stage pays for — and here it is
    cross-engine-checked rather than quoted from theory.

    Scale: the candidate side is the banded pipeline (collision-
    bounded); the truth side is the exact shingle self-join —
    quadratic on hot shingles, which is exactly why it's the EVAL
    (run on samples at scale) and LSH is the production path. Jaccard
    thresholds are int/int doubles, bit-equal across engines.

    r6 sf10 fix (the query FILLED THE DISK at 100x — the r5
    dedup_cluster_canonical spill class, reproduced): because the
    output is three COUNTS, exact-duplicate collapse turns the whole
    evaluation arithmetic. Identical texts share shingle sets and
    MinHash signatures, so a member pair's truth/candidate membership
    is decided entirely by its rep pair: cross-group member counts are
    sum(gsz_a * gsz_b) over qualifying rep pairs, and within-group
    pairs — identical docs, J = 1.0 >= {RECALL_EVAL_J}, same band keys
    — contribute C(gsz, 2) per shingled group to truth, candidates,
    AND true positives alike. Both the shingle self-join and the LSH
    bucket join now run on DISTINCT texts; no member pair is ever
    materialized.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    members, reps = _exact_dup_groups(docs)
    cand = minhash_md5_candidates(reps)
    sh = shingled_docs(reps).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= RECALL_EVAL_J)
        .select("doc_a", "doc_b")
    )
    tp = cand.join(truth, ["doc_a", "doc_b"], "left_semi")
    # Member-level counts, arithmetically: rep-pair weights ga*gb for
    # the cross-group tier, plus the shared within-group tier
    # sum(C(gsz,2)) over groups whose rep HAS shingles (shingle-less
    # docs never enter inter or the band join, collapsed or not).
    ga = members.select(F.col("rep").alias("doc_a"), F.col("gsz").alias("ga"))
    gb = members.select(F.col("rep").alias("doc_b"), F.col("gsz").alias("gb"))

    def member_count(rep_pairs: DataFrame, alias: str) -> DataFrame:
        return (
            rep_pairs.join(ga, "doc_a")
            .join(gb, "doc_b")
            .agg(
                F.coalesce(F.sum(F.col("ga") * F.col("gb")), F.lit(0))
                .cast("bigint")
                .alias(alias)
            )
        )

    n_within = (
        members.join(
            sizes.select(F.col("doc_id").alias("rep")), "rep", "left_semi"
        )
        .agg(
            F.coalesce(
                F.sum(F.col("gsz") * (F.col("gsz") - 1) / 2), F.lit(0)
            )
            .cast("bigint")
            .alias("nw")
        )
    )
    w = F.broadcast(n_within)
    n_truth = member_count(truth, "nx").crossJoin(w).select(
        (F.col("nx") + F.col("nw")).alias("n_truth")
    )
    n_cand = member_count(cand, "nx").crossJoin(w).select(
        (F.col("nx") + F.col("nw")).alias("n_candidates")
    )
    n_tp = member_count(tp, "nx").crossJoin(w).select(
        (F.col("nx") + F.col("nw")).alias("n_tp")
    )
    return (
        n_truth.crossJoin(n_cand)
        .crossJoin(n_tp)
        .select(
            "n_truth",
            "n_candidates",
            "n_tp",
            (
                F.col("n_tp").cast("double")
                / F.nullif(F.col("n_candidates"), F.lit(0))
            ).alias("precision"),
            (
                F.col("n_tp").cast("double")
                / F.nullif(F.col("n_truth"), F.lit(0))
            ).alias("recall"),
        )
    )


# ------------------------------------- prefix-filtered similarity join

PREFIX_JACCARD_T_NUM, PREFIX_JACCARD_T_DEN = 3, 5  # t = 0.6, kept rational


@register(
    "dedup_jaccard_prefix_filter",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(len(w) - 2),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
      FROM toks
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.6
    """,
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard join at threshold 0.6 via PREFIX
    FILTERING (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07;
    Xiao et al. ppjoin) — the scalable exact-similarity-join physical
    strategy: order every document's shingles by ascending global
    document frequency, index only each doc's first
    ``n - ceil(t*n) + 1`` shingles (its "prefix" of rarest shingles),
    and generate candidates ONLY from prefix-prefix collisions. Any
    pair with J >= t must share >= ceil(t*max(|A|,|B|)) shingles, so
    by the prefix-filtering lemma their prefixes intersect — no
    recall loss — while hot shingles (which sit at the END of the
    frequency order, hence outside most prefixes) stop generating the
    quadratic candidate blowup that the plain shingle-join baseline
    (``dedup_ngram_jaccard``) suffers.

    The oracle is the full-candidate brute join at the same
    threshold, so identical output PROVES the prefix rewrite loses no
    pairs — the same verify-a-physical-rewrite pattern as the
    degree-oriented triangle count.

    ceil(t*n) is computed in pure integer arithmetic
    ((3n + 4) DIV 5), never via double multiplication (0.6*5 -> 3.0
    + 4e-16 would mis-round the prefix length).

    Scale: df ranking is one window partitioned BY DOC (uniform
    small partitions); the candidate join is keyed on prefix
    shingles only; verification joins touch candidate pairs x their
    shingle lists. Candidates scale with true near-dup density, not
    with hot-shingle df^2.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents", spread=True)
    # Stage 0 — EXACT-DUPLICATE COLLAPSE (the standard pipeline order:
    # hash-dedup before near-dedup). Identical texts have identical
    # shingle multisets, hence identical Jaccard against everything,
    # so the near-dup join only needs one REPRESENTATIVE per distinct
    # text; member pairs are reconstructed afterwards from the same
    # (n, n_common) integers, which makes the expanded doubles
    # bit-identical to the uncollapsed join's. On duplicate-heavy data
    # this removes a |group|^2 factor from BOTH candidate generation
    # and verify (the sf1 gate corpus is 10-way duplicated: ~100x
    # fewer candidate pairs).
    members, reps, passthrough = _collapse_or_passthrough(docs, sf_dir)
    # persist(): five plan branches consume the exploded shingle set
    # (sizes, df ranking, the ranked window, and both verify sides) —
    # without a materialization point each branch re-runs the full
    # tokenize+shingle scan, the dominant cost the sf1 sweep measured.
    sh = (
        shingled_docs(reps)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .transform(persist_tracked)
    )
    cnt = sh.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("c"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn(
            "pos",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        .join(sizes, "doc_id")
    )
    # prefix length = n - ceil(t*n) + 1, integer-exact for t = 3/5
    prefix_len = F.col("n") - F.expr(
        f"(({PREFIX_JACCARD_T_NUM} * n + {PREFIX_JACCARD_T_DEN - 1}) "
        f"DIV {PREFIX_JACCARD_T_DEN})"
    ) + F.lit(1)
    pref = ranked.filter(F.col("pos") <= prefix_len).select(
        "doc_id", "shingle", "n", "pos"
    )
    pa, pb = pref.alias("pa"), pref.alias("pb")
    # Candidate pruning beyond the bare prefix collision, both sound
    # for the multiset overlap c = sum_s cnt_a(s)*cnt_b(s) bounded by
    # min(na, nb):
    #  - LENGTH filter: J >= t = NUM/DEN requires
    #    NUM*max(na,nb) <= DEN*min(na,nb).
    #  - POSITIONAL filter (ppjoin): with tokens globally df-ordered,
    #    a pair with overlap c has its first common token at positions
    #    (i, j) satisfying c <= 1 + min(na-i, nb-j); J >= t needs
    #    c >= t/(1+t)*(na+nb) = NUM/(NUM+DEN)*(na+nb), so any row
    #    failing (NUM+DEN)*(1 + min(na-i, nb-j)) >= NUM*(na+nb) cannot
    #    be the first common token of a qualifying pair — and keeping
    #    pairs with ANY passing row keeps every qualifying pair (the
    #    first-match row has the largest bound). Together: 30.2M ->
    #    7.1M candidates on the duplicate-heavy sf1 corpus. Both
    #    bounds derive from the named threshold constants so changing
    #    PREFIX_JACCARD_T_* cannot leave a stale (unsound) prune.
    t_num, t_den = PREFIX_JACCARD_T_NUM, PREFIX_JACCARD_T_DEN
    cand = (
        pa.join(
            pb,
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (t_num * F.col("pa.n") <= t_den * F.col("pb.n"))
            & (t_num * F.col("pb.n") <= t_den * F.col("pa.n"))
            & (
                (t_num + t_den)
                * (
                    F.lit(1)
                    + F.least(
                        F.col("pa.n") - F.col("pa.pos"),
                        F.col("pb.n") - F.col("pb.pos"),
                    )
                )
                >= t_num * (F.col("pa.n") + F.col("pb.n"))
            ),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Verify on (doc, shingle) COUNT rows with the shingle equality in
    # the JOIN KEY (doc_b, shingle): filtering after a doc_b-only join
    # builds |A| x |B| rows per candidate pair before discarding the
    # non-matches — a per-pair quadratic slab the sf1 sweep measured
    # at 270 s (vs 16 s for the naive shingle join it was supposed to
    # beat). n_common = sum_s cnt_a*cnt_b reproduces the row-pair
    # count of the unconsolidated join exactly.
    ca = cnt.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingle").alias("sh_a"),
        F.col("c").alias("c_a"),
    )
    cb = cnt.select(
        F.col("doc_id").alias("db"),
        F.col("shingle").alias("sh_b"),
        F.col("c").alias("c_b"),
    )
    inter = (
        cand.join(ca, "doc_a")
        .join(
            cb,
            (F.col("doc_b") == F.col("db")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("c_a") * F.col("c_b")).alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    rep_pairs = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(t_num / t_den))
    )
    if passthrough:
        return rep_pairs
    # Expansion 1 — cross-group: every member pair of a qualifying rep
    # pair inherits its jaccard (identical inputs -> identical double).
    cross = _expand_rep_pairs(rep_pairs, members, "doc_a", "doc_b")
    # Expansion 2 — within-group: J(doc, identical doc) from the rep's
    # own multiset (n_common = sum c^2), same formula and filter as the
    # pairwise path (the >= 0.6 filter is NOT vacuous: a doc whose
    # shingle counts satisfy sum c^2 >= 2n flips the denominator's
    # sign, exactly as the uncollapsed join would).
    selfdot = cnt.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("sd")
    )
    within = _within_group_pairs(
        members,
        sizes.join(selfdot, "doc_id"),
        (
            F.col("sd").cast("double") / (2 * F.col("n") - F.col("sd"))
        ).alias("jaccard"),
        "doc_a",
        "doc_b",
    ).filter(F.col("jaccard") >= F.lit(t_num / t_den))
    return cross.unionByName(within)


# -------------------- sparse TF-IDF cosine pairs (inverted-index join)

# Posting-list cap: terms in more than this many docs are pruned from
# the vector space (the classic stop-term cut). This is the SCALE
# bound: per term the pair fan-out is <= cap^2, so candidates grow
# with true lexical overlap, never with corpus size alone.
TFIDF_DF_CAP = 50
TFIDF_COS_T = 0.5


@register(
    "doc_tfidf_cosine_pairs",
    oracle=f"""
    WITH toksrc AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(list_transform(range(len(w) - 2),
                     i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS term
            FROM toksrc)
      GROUP BY doc_id, term
    ),
    dfv AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY term
    ),
    post AS MATERIALIZED (
      SELECT t.doc_id, t.term,
             CAST(t.tf AS DOUBLE) / CAST(d.df AS DOUBLE) AS w
      FROM tok t JOIN dfv d ON d.term = t.term
      WHERE d.df <= {TFIDF_DF_CAP}
    ),
    nrm AS (
      SELECT doc_id,
             sqrt(CAST(SUM(CAST(w * w AS DECIMAL(28,14))) AS DOUBLE)) AS nm
      FROM post GROUP BY doc_id
    ),
    unit AS MATERIALIZED (
      SELECT p.doc_id, p.term, p.w / n.nm AS u
      FROM post p JOIN nrm n ON n.doc_id = p.doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(SUM(CAST(a.u * b.u AS DECIMAL(28,14))) AS DOUBLE) AS cosine
    FROM unit a JOIN unit b
      ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING CAST(SUM(CAST(a.u * b.u AS DECIMAL(28,14))) AS DOUBLE)
             >= {TFIDF_COS_T}
    """,
)
def doc_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity JOIN over the inverted index:
    document pairs whose idf-weighted term vectors have cosine >=
    {TFIDF_COS_T}, found by joining postings on term — never by
    comparing documents pairwise. Terms are word 3-gram shingles, NOT
    unigrams: this corpus has a 31-word vocabulary, so every unigram
    is a stop word (df ~ N) and the unigram space is empty after any
    sane cut, while the ~30k trigram space discriminates at every SF
    (same reasoning as the MinHash shingles). The weight is tf/df
    (the constant-N factor of classic tf*N/df cancels in cosine, and
    dropping it keeps every squared weight inside DECIMAL(28,14)
    range); vectors are unit-normalized BEFORE pairing so the pair
    aggregate IS the cosine — one shuffle keyed by term, one keyed by
    the pair, no norm join on the blown-up candidate set.

    Scale shape: terms with df > {TFIDF_DF_CAP} are pruned (stop-term
    cut), bounding per-term fan-out at cap^2 postings pairs — the
    same candidates-scale-with-true-overlap contract as the MinHash
    band join; threshold and cap are the recall/cost dials (on the
    duplicate-heavy synthetic sf1 the cap drops cross-group common
    trigrams but keeps each dup group's df~10 private ones, so true
    near-dup pairs survive). All sums are per-term DECIMAL(28,14)
    casts (order-independent, bit-equal to the oracle); tf/df and
    w/nm are single IEEE divisions with identical operand trees on
    both engines.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    n = F.size(F.col("toks"))
    grams = F.when(
        n >= SHINGLE_K,
        F.transform(
            F.sequence(F.lit(0), n - SHINGLE_K),
            lambda i: F.concat_ws(
                " ",
                *[
                    F.element_at(F.col("toks"), i + j + 1)
                    for j in range(SHINGLE_K)
                ],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # r10 (guide §2.4/§5): tok feeds TWO consumers (dfv, post), post
    # feeds two (nrm, unit), and unit feeds BOTH join sides — without
    # materialization points every reference re-derives its whole
    # subtree, and the slightly different pushed filters per branch
    # keep the subtrees from canonicalizing to reusable exchanges
    # (measured: 8 parquet scans of `documents` and 23 Exchanges in
    # the uncached plan; 1 scan / 6 Exchanges cached). persist_tracked
    # scopes both caches to this query build.
    tok = persist_tracked(
        docs.select("doc_id", F.explode(grams).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfv = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    post = (
        tok.join(dfv.filter(F.col("df") <= TFIDF_DF_CAP), "term")
        .select(
            "doc_id",
            "term",
            (F.col("tf").cast("double") / F.col("df").cast("double")).alias(
                "w"
            ),
        )
    )
    nrm = post.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast("decimal(28,14)")).cast(
                "double"
            )
        ).alias("nm")
    )
    unit = persist_tracked(
        post.join(nrm, "doc_id").select(
            "doc_id", "term", (F.col("w") / F.col("nm")).alias("u")
        )
    )
    a = unit.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("u").alias("ua")
    )
    b = unit.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("u").alias("ub")
    )
    return (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("ua") * F.col("ub")).cast("decimal(28,14)"))
            .cast("double")
            .alias("cosine")
        )
        .filter(F.col("cosine") >= TFIDF_COS_T)
    )


# ---------------------------------------------------------------------------
# Paragraph-granular exact dedup with document reconstruction


PARA_WORDS = 20


def paragraph_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, pidx, para): each document's non-overlapping
    {PARA_WORDS}-word spans. Stateless (filter/explode/select only), so
    the same expression tree would run unchanged on a streaming source."""
    w = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("w") - 1, F.lit(0)),
        F.lit(PARA_WORDS),
    )
    para = F.array_join(F.slice(F.col("w"), F.col("s") + 1, PARA_WORDS), " ")
    return (
        docs.filter(F.length("text") > 0)
        .select("doc_id", w.alias("w"))
        .select("doc_id", F.explode(starts).alias("s"), "w")
        .select(
            "doc_id",
            (F.col("s") / PARA_WORDS).cast("bigint").alias("pidx"),
            para.alias("para"),
        )
    )


@register(
    "dedup_paragraph_exact",
    oracle=f"""
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
    ), marked AS MATERIALIZED (
      SELECT doc_id, pidx, para,
             ROW_NUMBER() OVER (
               PARTITION BY para ORDER BY doc_id, pidx) = 1 AS kept
      FROM para
    )
    SELECT doc_id,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(
             string_agg(CASE WHEN kept THEN para END, ' ' ORDER BY pidx),
             '')) AS clean_md5,
           CAST(length(COALESCE(
             string_agg(CASE WHEN kept THEN para END, ' ' ORDER BY pidx),
             '')) AS BIGINT) AS clean_chars
    FROM marked
    GROUP BY doc_id
    """,
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granular exact dedup with document RECONSTRUCTION (the
    C4/RefinedWeb "remove duplicated spans, keep the document" recipe,
    vs dedup_exact's whole-document verdicts): every document is split
    into non-overlapping {PARA_WORDS}-word spans, each span is deduped
    EXACTLY across the whole corpus keeping only its first occurrence
    (smallest (doc_id, position)), and each document is re-assembled
    from its surviving spans. Output is one row per document:
    span counts before/after and the md5 + length of the cleaned text,
    so the verdict table is hash-gated without shipping document
    bodies.

    Scale shape: three bounded shuffles — (1) explode is map-side
    (output rows = corpus words / {PARA_WORDS}); (2) first-occurrence
    is a hash aggregation keyed by the span string with a map-side-
    combinable MIN((doc_id, pidx)) partial — no window over the corpus,
    no global sort; (3) the verdict join back on the span key reuses
    the same partitioning, and reassembly is a per-doc_id aggregation
    whose sort_array acts on one document's spans at a time (bounded
    by doc length), never a corpus-wide ORDER BY. Span equality uses
    the raw text (reconstruction must be lossless), not the normalized
    token stream.

    Reference parity: the reference has no text-dedup surface; this is
    part of the LLM-pipeline extension family (SURVEY §6).
    """
    docs = load_table(spark, sf_dir, "documents")
    exploded = paragraph_spans(docs)
    first = exploded.groupBy("para").agg(
        F.min(F.struct("doc_id", "pidx")).alias("k")
    )
    kept_flag = (F.col("doc_id") == F.col("k.doc_id")) & (
        F.col("pidx") == F.col("k.pidx")
    )
    marked = exploded.join(first, "para").select(
        "doc_id", "pidx", "para", kept_flag.alias("kept")
    )
    clean = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("kept"), F.struct("pidx", "para"))
                )
            ),
            lambda x: x["para"],
        ),
        " ",
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
        F.md5(clean).alias("clean_md5"),
        F.length(clean).cast("bigint").alias("clean_chars"),
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (the "ExactSubstr" recipe: find every maximal
# character span whose every W-char window occurs >= 2 times anywhere in
# the corpus — Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better", which does this with a corpus suffix array).
# The Spark-native equivalent replaces the suffix array with a rolling
# window fingerprint: duplicated-window detection is ONE shuffle keyed
# by an 8-byte hash, and maximal-span reconstruction is a per-document
# gaps-and-islands window (bounded by document length).

SUBSTR_W = int(os.environ.get("SUBSTR_DEDUP_W", "40"))

def substring_dup_spans(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """(doc_id, span_start, span_end, span_len): maximal character spans
    (1-based, inclusive) of DUPLICATED characters — the union of the
    char intervals [p, p+w-1] over every window position p whose
    ``w``-char window occurs at least twice corpus-wide (including
    within the same document). A character is duplicated iff it sits
    inside at least one duplicated window (the ExactSubstr byte
    semantics), so the output spans are disjoint and non-adjacent and
    their lengths sum to the exact duplicated-character count.

    Scale shape:
    - the explode emits one row per character position, but projects to
      (doc_id, pos, xxhash64(window)) INSIDE the scan stage — the only
      bytes that reach the shuffle are 24 B/position, never the text and
      never the w-char window itself (w-independent shuffle width);
    - duplicated-window detection is a COUNT() window over the hash
      partition: one shuffle on the 8-byte key. A corpus-hot window
      (e.g. boilerplate) concentrates its copies in one task, but the
      per-key row count is the window's true corpus frequency — the
      same bound a suffix-array group would have;
    - span merge is a per-doc_id gaps-and-islands (lag + running sum —
      two adjacent positions belong to one char span iff their w-char
      intervals overlap or touch, i.e. gap <= w), bounded by document
      length, never a corpus-wide sort.

    Window equality uses xxhash64 fingerprints, not the window text: a
    false dup-position needs a 64-bit collision between two distinct
    windows (~n^2/2^65; ~1e-6 at 1e6 positions). The oracle compares
    the raw window strings, so the gate itself verifies no collision
    perturbed the result at gated scales.
    """
    from pyspark.sql import Window as W

    pos = (
        docs.filter(F.length("text") >= w)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - w + 1)
            ).alias("p"),
            "text",
        )
        .select(
            "doc_id",
            F.col("p").cast("bigint").alias("p"),
            F.xxhash64(F.expr(f"substring(text, p, {w})")).alias("h"),
        )
    )
    dup = (
        pos.withColumn(
            "c", F.count(F.lit(1)).over(W.partitionBy("h"))
        )
        .filter(F.col("c") >= 2)
        .select("doc_id", "p")
    )
    byp = W.partitionBy("doc_id").orderBy("p")
    isl = dup.withColumn(
        "brk",
        (
            F.col("p") - F.lag("p").over(byp) > F.lit(w)
        ).cast("int"),
    ).withColumn("grp", F.sum(F.coalesce(F.col("brk"), F.lit(0))).over(byp))
    return isl.groupBy("doc_id", "grp").agg(
        F.min("p").alias("span_start"),
        (F.max("p") + w - 1).cast("bigint").alias("span_end"),
        (F.max("p") - F.min("p") + w).cast("bigint").alias("span_len"),
    ).select("doc_id", "span_start", "span_end", "span_len")


def _substring_spans_table(
    spark: SparkSession, sf_dir: str, w: int = SUBSTR_W
) -> DataFrame:
    """Cache-aware front end for the ExactSubstr span table: all three
    batch queries of the family (spans / stats_by_source / clean)
    consume the SAME derived table — the maximal duplicated spans of
    the documents fixture — and each was re-paying its full build (the
    per-character explode + xxhash64 + count-window: 6.5-7.7k CPU-s
    each at sf100, the dominant cost of all three). Like the
    co-purchase edge list (operators/graphalgo.py), the table is a
    deterministic computation over an immutable fixture, so it is
    materialized to parquet on first use in the invocation and served
    to the other family members of that same invocation — per-process
    root, removed at exit, nothing persists across runs;
    ``NGG_EDGE_CACHE=0`` disables. Keyed by the DOCUMENTS fixture
    fingerprint plus the window width (a changed ``SUBSTR_DEDUP_W``
    is a different table). Falls back to the in-session build when
    scratch or the fingerprint is unavailable."""
    from node_gedcom_graph_spark.operators.graphalgo import _cache_serve

    def build() -> DataFrame:
        return substring_dup_spans(
            load_table(spark, sf_dir, "documents", spread=True), w
        )

    df = _cache_serve(
        spark, sf_dir, f"-substr-w{w}", build, table="documents"
    )
    return df if df is not None else build()


_SUBSTR_ORACLE_SPANS = f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE length(text) >= {SUBSTR_W}
    ), pos AS MATERIALIZED (
      SELECT doc_id, CAST(u.p AS BIGINT) AS p,
             substr(text, CAST(u.p AS INT), {SUBSTR_W}) AS gram
      FROM docs
      CROSS JOIN LATERAL (
        SELECT unnest(range(1, length(text) - {SUBSTR_W} + 2)) AS p
      ) u
    ), dup AS (
      SELECT doc_id, p FROM pos
      WHERE gram IN (
        SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2)
    ), brk AS (
      SELECT doc_id, p,
             CASE WHEN p - LAG(p) OVER (
               PARTITION BY doc_id ORDER BY p) > {SUBSTR_W}
             THEN 1 ELSE 0 END AS b
      FROM dup
    ), isl AS (
      SELECT doc_id, p,
             SUM(b) OVER (
               PARTITION BY doc_id ORDER BY p) AS grp
      FROM brk
    )
    SELECT doc_id,
           MIN(p) AS span_start,
           MAX(p) + {SUBSTR_W} - 1 AS span_end,
           MAX(p) - MIN(p) + {SUBSTR_W} AS span_len
    FROM isl GROUP BY doc_id, grp
"""


@register("dedup_substring_spans", oracle=_SUBSTR_ORACLE_SPANS)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every maximal duplicated character span in the corpus (the
    ExactSubstr detection pass). One row per span:
    (doc_id, span_start, span_end, span_len), positions 1-based
    inclusive. See substring_dup_spans for the scale argument.

    Reference parity: the reference has no text-dedup surface; this is
    part of the LLM-pipeline extension family (SURVEY §6).

    ``spread=True``: the window explode fans out ~260x, so the scan
    stage must be partitioned by OUTPUT volume, not input bytes — a
    single small parquet file would otherwise run the whole 100x-tier
    explode+hash on 2 cores (observed: 288 s -> the spread unlocks all
    32).

    r10 optimization: served from the family's per-invocation span
    materialization (_substring_spans_table) — this query IS the
    table, so on a cache hit it is a read of the parquet it published.
    """
    return _substring_spans_table(spark, sf_dir)


@register(
    "dedup_substring_stats_by_source",
    oracle=f"""
    WITH spans AS ({_SUBSTR_ORACLE_SPANS}),
    per_doc AS (
      SELECT doc_id, SUM(span_len) AS dup_chars FROM spans GROUP BY doc_id
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN p.dup_chars IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_dups,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           CAST(COALESCE(SUM(p.dup_chars), 0) AS BIGINT) AS dup_chars,
           CAST(COALESCE(SUM(p.dup_chars), 0) AS DOUBLE)
             / SUM(d.n_chars) AS dup_char_fraction
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    GROUP BY d.source
    """,
)
def dedup_substring_stats_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-curation report over the ExactSubstr pass: per source, how
    many documents contain duplicated spans and what fraction of the
    source's characters they cover. Spans never overlap after the
    island merge, so per-doc dup_chars is an exact character count.

    The span pipeline's shuffles are as in substring_dup_spans; this
    adds one per-doc aggregation and a left join back to ``documents``
    keyed by doc_id (dimension-sized per-doc rollup, not per-position).
    r10 optimization: the spans come from the family's per-invocation
    materialization (_substring_spans_table) instead of a full rebuild.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    per_doc = (
        _substring_spans_table(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("span_len").alias("dup_chars"))
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.col("dup_chars").isNotNull().cast("int")
            ).cast("bigint").alias("docs_with_dups"),
            F.sum("n_chars").alias("total_chars"),
            F.coalesce(F.sum("dup_chars"), F.lit(0)).cast("bigint").alias(
                "dup_chars"
            ),
            (
                F.coalesce(F.sum("dup_chars"), F.lit(0)).cast("double")
                / F.sum("n_chars")
            ).alias("dup_char_fraction"),
        )
    )


@register(
    "dedup_substring_clean",
    oracle=f"""
    WITH spans AS ({_SUBSTR_ORACLE_SPANS}),
    gaps AS (
      SELECT doc_id,
             COALESCE(LAG(span_end) OVER (
               PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS seg_start,
             span_start - 1 AS seg_end
      FROM spans
    ), segs AS (
      SELECT doc_id, seg_start, seg_end
      FROM gaps WHERE seg_end >= seg_start
      UNION ALL
      SELECT doc_id, MAX(span_end) + 1 AS seg_start, NULL AS seg_end
      FROM spans GROUP BY doc_id
    ), pieces AS (
      SELECT s.doc_id, s.seg_start,
             CASE WHEN s.seg_end IS NULL
                  THEN substr(d.text, CAST(s.seg_start AS INT))
                  ELSE substr(d.text, CAST(s.seg_start AS INT),
                              CAST(s.seg_end - s.seg_start + 1 AS INT))
             END AS piece
      FROM segs s JOIN documents d USING (doc_id)
    ), rec AS (
      SELECT doc_id, string_agg(piece, '' ORDER BY seg_start) AS clean
      FROM pieces GROUP BY doc_id
    ), st AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(span_len) AS BIGINT) AS dup_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(st.n_spans, 0) AS n_spans,
           COALESCE(st.dup_chars, 0) AS dup_chars,
           md5(COALESCE(r.clean, d.text)) AS clean_md5,
           CAST(length(COALESCE(r.clean, d.text)) AS BIGINT) AS clean_chars
    FROM documents d
    LEFT JOIN rec r USING (doc_id)
    LEFT JOIN st USING (doc_id)
    """,
)
def dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ExactSubstr recipe: detect every duplicated character
    span (substring_dup_spans) and REMOVE it from the document — all
    copies are cut, matching Lee et al.'s deduplicate-by-deletion pass.
    One row per document (cleaned docs AND untouched docs):
    (doc_id, n_spans, dup_chars, clean_md5, clean_chars) — the verdict
    table is hash-gated without shipping document bodies.

    Reconstruction is driver-free and shuffle-light: the spans are
    already disjoint and sorted per document, so the kept segments are
    computed by ONE F.aggregate fold over the collected span array
    (per-doc array bounded by doc length / w) inside a project — no
    second corpus-wide window, no explode back out. Shuffles: the two
    in substring_dup_spans + one per-doc collect_list + one dimension
    join back to documents. r10 optimization: the spans come from the
    family's per-invocation materialization (_substring_spans_table)
    instead of a full rebuild.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    spans = _substring_spans_table(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("sp"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("dup_chars"),
    )
    j = docs.join(per_doc, "doc_id", "left")
    # Fold over the sorted spans: carry (next segment start, clean text
    # so far); each span contributes the gap before it, the finish step
    # appends the tail after the last span.
    clean = F.aggregate(
        F.coalesce(
            F.col("sp"),
            F.expr(
                "CAST(array() AS array<struct<span_start:bigint,span_end:bigint>>)"
            ),
        ),
        F.struct(
            F.lit(1).cast("bigint").alias("pos"), F.lit("").alias("acc")
        ),
        lambda a, s: F.struct(
            (s["span_end"] + 1).alias("pos"),
            F.concat(
                a["acc"],
                F.substring(
                    F.col("text"),
                    a["pos"].cast("int"),
                    (s["span_start"] - a["pos"]).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"],
            F.substring(
                F.col("text"),
                a["pos"].cast("int"),
                (F.length("text") - a["pos"] + 1).cast("int"),
            ),
        ),
    )
    return j.select(
        "doc_id",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias(
            "n_spans"
        ),
        F.coalesce(F.col("dup_chars"), F.lit(0)).cast("bigint").alias(
            "dup_chars"
        ),
        F.md5(clean).alias("clean_md5"),
        F.length(clean).cast("bigint").alias("clean_chars"),
    )
