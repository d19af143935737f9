"""LLM training-data preparation operators beyond dedup/similarity:
embedding quantization, leakage-safe dataset splitting, vocabulary
induction, TF-IDF term scoring, and PII redaction.

All JVM-side column expressions (higher-order array functions, regex,
hash-bucketing) — no Python UDFs. Regexes are restricted to constructs
with identical semantics in Java regex (Spark) and RE2 (DuckDB oracle).

Reference scope note: the reference engine (839-LoC GEDCOM→Neo4j ETL,
/root/reference/index.js) has no ML-prep surface; these operators are
the prompt-mandated training-pipeline extensions, built Spark-first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from node_gedcom_graph_spark.functions.scalar import normalize_text, tokens
from node_gedcom_graph_spark.operators import register
from node_gedcom_graph_spark.sources.tables import load_table


def _dec(c: Column) -> Column:
    """Order-independent-sum staging: exact decimal per-row terms."""
    return c.cast("decimal(28,14)")


# ---------------------------------------------------------------------------
# Symmetric int8 quantization of embedding vectors.
# ---------------------------------------------------------------------------


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH base AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), scaled AS (
      SELECT label, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM base
    ), err AS (
      SELECT label, scale, len(v) AS dim,
             CASE WHEN scale > 0 THEN
               CAST(list_sum(list_transform(v, x -> CAST(
                 pow(x - greatest(-127.0, least(127.0,
                       floor(x / scale + 0.5))) * scale, 2)
                 AS DECIMAL(28,14)))) AS DOUBLE)
             ELSE 0.0 END AS sse
      FROM scaled
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(CAST(SUM(CAST(scale AS DECIMAL(28,14))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_scale,
           CAST(CAST(SUM(CAST(sse / dim AS DECIMAL(28,14))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_mse,
           MAX(sse / dim) AS max_mse
    FROM err
    GROUP BY label
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (scale = max|x|/127,
    q = clamp(round(x/scale))) with reconstruction-error accounting per
    label — the compression step before shipping embeddings to an ANN
    index or a feature store.

    Engine notes: rounding is ``floor(x/s + 0.5)`` on BOTH engines (the
    identical IEEE expression — builtin round() differs between Java
    BigDecimal HALF_UP and C++ half-away-from-zero on boundary
    doubles); per-row SSE terms and per-group sums are staged through
    DECIMAL(28,14) so every aggregate is shuffle-order-independent.

    Scale: one scan, all per-vector math in codegen'd higher-order
    array functions, one hash agg on a 10-value key. Each lambda input
    is first materialized as a real column (attribute), not repeated
    inline — Spark does not CSE through HOF lambdas.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    staged = emb.select("label", v.alias("v"))
    staged = staged.select(
        "label",
        "v",
        (
            F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0)
        ).alias("scale"),
    )

    def _q(x: Column) -> Column:
        rounded = F.floor(x / F.col("scale") + F.lit(0.5))
        return F.greatest(F.lit(-127.0), F.least(F.lit(127.0), rounded))

    sse_terms = F.transform(
        "v", lambda x: _dec(F.pow(x - _q(x) * F.col("scale"), F.lit(2)))
    )
    err = staged.select(
        "label",
        "scale",
        F.size("v").alias("dim"),
        F.when(
            F.col("scale") > 0,
            F.aggregate(
                sse_terms,
                F.lit(0).cast("decimal(28,14)"),
                # decimal + widens to (29,14); re-narrow so the fold
                # accumulator type stays fixed (safe: dim*|term| << 1e14).
                lambda acc, t: (acc + t).cast("decimal(28,14)"),
            ).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("sse"),
    )
    return err.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum(_dec(F.col("scale"))).cast("double") / F.count(F.lit(1)))
        .cast("double")
        .alias("avg_scale"),
        (
            F.sum(_dec(F.col("sse") / F.col("dim"))).cast("double")
            / F.count(F.lit(1))
        )
        .cast("double")
        .alias("avg_mse"),
        F.max(F.col("sse") / F.col("dim")).alias("max_mse"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/valid/test split.
# ---------------------------------------------------------------------------


@register(
    "split_train_valid_test",
    oracle="""
    WITH keyed AS (
      SELECT source, n_chars,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS key
      FROM documents
    ), assigned AS (
      SELECT source, n_chars, key,
             CASE WHEN substr(key, 1, 2) < 'cc' THEN 'train'
                  WHEN substr(key, 1, 2) < 'e6' THEN 'valid'
                  ELSE 'test' END AS split
      FROM keyed
    )
    SELECT split, source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT key) AS n_groups,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned
    GROUP BY split, source
    """,
)
def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/valid/test split, leakage-safe:
    the bucket key is md5 of the NORMALIZED text, so exact/normalized
    duplicates always land in the same split (no eval contamination
    from train-set near-copies). Buckets are the first hex byte of the
    digest compared lexicographically ('00'-'cb' train = 204/256,
    'cc'-'e5' valid, 'e6'-'ff' test) — engine-agnostic, no RNG, stable
    under any repartitioning or re-run.

    Scale: one scan, one hash agg; assignment is a per-row expression
    (no shuffle to split — a writer would partitionBy(split)). The
    distinct-key count shares the (split, source) shuffle via Spark's
    distinct-agg expand, fine at 100 TB because the key is 32 bytes,
    not the text.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    keyed = docs.select(
        "source",
        "n_chars",
        F.md5(normalize_text(F.col("text"))).alias("key"),
    )
    b = F.substring("key", 1, 2)
    assigned = keyed.select(
        "source",
        "n_chars",
        "key",
        F.when(b < "cc", "train").when(b < "e6", "valid").otherwise("test").alias("split"),
    )
    return assigned.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("key").alias("n_groups"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Vocabulary induction: global token frequency top-k.
# ---------------------------------------------------------------------------


@register(
    "token_vocab_topk",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    )
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
             AS rank
    FROM counts
    ORDER BY cnt DESC, token
    LIMIT 500
    """,
)
def token_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction: top-500 tokens by global corpus
    frequency with a deterministic (count desc, token asc) tie-break —
    the frequency pass behind building a wordpiece/BPE seed vocab.

    Scale: explode feeds a map-side partial count (the only shuffle is
    token-keyed partial sums, bytes not text); the global top-k plans
    as TakeOrderedAndProject (per-partition heap + driver merge of 500
    rows), never a full sort. Rank is assigned AFTER the limit, so the
    window sorts 500 rows, not the vocabulary.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("token")).limit(500)
    w = W.orderBy(F.col("cnt").desc(), F.col("token"))
    return top.select(
        "token", "cnt", F.row_number().over(w).cast("bigint").alias("rank")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per source.
# ---------------------------------------------------------------------------


@register(
    "tfidf_top_source_terms",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents
    ), tf AS (
      SELECT source, token, COUNT(*) AS tf FROM tok GROUP BY source, token
    ), df AS (
      SELECT token, COUNT(*) AS df_sources FROM tf GROUP BY token
    ), ns AS (
      SELECT COUNT(DISTINCT source) AS n_sources FROM tf
    ), scored AS (
      SELECT f.source, f.token, f.tf, d.df_sources,
             f.tf * ln(CAST(n.n_sources AS DOUBLE) / d.df_sources) AS score
      FROM tf f JOIN df d ON d.token = f.token CROSS JOIN ns n
    )
    SELECT source, token, tf, df_sources,
           CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY score DESC, token) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    """,
)
def tfidf_top_source_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per source by TF-IDF (tf·ln(N/df)
    with source-level document frequency) — the "what distinguishes
    this crawl slice" diagnostic in corpus curation.

    Output carries only the integer evidence (tf, df, rank): the float
    score is a rank key, not a deliverable, so cross-engine ln() ULP
    noise cannot touch the value hash (exact ties break on token asc,
    identically on both engines).

    Scale: explode → (source, token) partial-agg shuffle; the df side
    re-aggregates the already-tiny (source, token) counts; n_sources is
    a broadcast scalar. The tf⋈df join is left UNHINTED — df is
    vocabulary-cardinality (10⁸+ rows at web scale), so Catalyst's
    size-based choice (broadcast when small, sort-merge on the token
    key when not) is the safe default; both sides share the token
    shuffle key. Per-source top-5 is a WindowGroupLimit (running-rank
    early-exit), not a full per-partition sort of all terms.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_s = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_sources"))
    ns = F.broadcast(tf.agg(F.countDistinct("source").alias("n_sources")))
    scored = (
        tf.join(df_s, "token")
        .crossJoin(ns)
        .select(
            "source",
            "token",
            "tf",
            "df_sources",
            (
                F.col("tf")
                * F.log(F.col("n_sources").cast("double") / F.col("df_sources"))
            ).alias("score"),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.select(
            "source",
            "token",
            "tf",
            "df_sources",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 5)
        .select(
            "source", "token", "tf", "df_sources",
            F.col("rnk").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction.
# ---------------------------------------------------------------------------

# Patterns kept to Java-regex/RE2-identical constructs. Order matters:
# emails first (their local parts may contain digit runs).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"),
    ("digit_run", "\\b[0-9]{7,}\\b"),
)


def redact_pii(text: Column) -> Column:
    """Chain of global regexp_replaces; each hit becomes ``[PII]``.

    The output is the lowered text, so this keeps ICU ``lower()`` rather
    than ``functions.scalar.ascii_fold`` and pays its one-time class
    initialization (about 3 s) on the first call in a JVM."""
    out = F.lower(text)
    for _name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, "[PII]")
    return out


def _oracle_redact(expr: str) -> str:
    out = f"lower({expr})"
    for _name, pat in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '[PII]', 'g')"
    return out.replace("\\", "\\")


@register(
    "text_pii_redact",
    oracle=f"""
    WITH red AS (
      SELECT source, text, {_oracle_redact('text')} AS redacted
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN redacted <> lower(text) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_redacted_docs,
           CAST(SUM(length(lower(text)) - length(redacted)) AS BIGINT)
             AS chars_delta
    FROM red
    GROUP BY source
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails, IPv4, long digit runs → ``[PII]``) with
    per-source change accounting. On the synthetic corpus every count
    is zero — which is itself the pinned property: no false positives
    on clean text. The positive path (real hits, multiple per line,
    email-before-digit-run ordering) is pinned by unit fixture in
    tests/test_llmprep.py.

    Scale: a per-row regex chain in codegen — no shuffle beyond the
    final 20-key agg; at 100 TB this is the map-only scrub pass writers
    would fuse with the scan.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    red = docs.select(
        "source",
        F.lower(F.col("text")).alias("lowered"),
        redact_pii(F.col("text")).alias("redacted"),
    )
    return red.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("redacted") != F.col("lowered"), 1).otherwise(0)
        ).alias("n_redacted_docs"),
        F.sum(F.length("lowered") - F.length("redacted")).alias("chars_delta"),
    )


@register(
    "events_next_event_training_pairs",
    oracle="""
    SELECT * FROM (
      SELECT user_id, event_id, ts,
             LAG(event_type, 2) OVER w AS prev2_type,
             LAG(event_type, 1) OVER w AS prev1_type,
             event_type AS cur_type,
             LEAD(event_type, 1) OVER w AS next_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) t
    WHERE next_type IS NOT NULL
    """,
)
def events_next_event_training_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequence-model training-pair generation: each event becomes one
    example with a trailing context window (previous two event types,
    NULL-padded at sequence starts) and the NEXT event type as the
    label — the classic next-token-style dataset build over behavioral
    logs.

    Scale: one shuffle on user_id + one per-partition sort serves all
    four offsets (CollapseWindow folds the three LAGs and the LEAD into
    a single Window exec over one frame spec); no self-joins, no
    per-example materialization of the context beyond fixed columns.
    Deterministic: (ts, event_id) is a total order per user.
    """
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id",
            "event_id",
            "ts",
            F.lag("event_type", 2).over(w).alias("prev2_type"),
            F.lag("event_type", 1).over(w).alias("prev1_type"),
            F.col("event_type").alias("cur_type"),
            F.lead("event_type", 1).over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )


@register(
    "vocab_coverage_oov",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ), counts AS (
      SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
        FROM counts
      ) t WHERE rnk <= 500
    )
    SELECT CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN c.cnt ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           CAST(SUM(c.cnt) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN c.cnt ELSE 0 END)
                AS DOUBLE) / SUM(c.cnt) AS coverage,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_types
    FROM counts c LEFT JOIN vocab v ON v.tok = c.tok
    """,
)
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage analysis: what fraction of corpus token
    OCCURRENCES a top-500 frequency-ranked vocabulary covers, and how
    many distinct types fall out-of-vocabulary — the coverage/OOV audit
    run when sizing a tokenizer vocabulary.

    Scale: token counts aggregate once (map-side partials over the
    explode) and are CACHED — the type table feeds two plan branches
    (the top-k and the coverage join), and without the materialization
    point each branch re-scans and re-tokenizes the whole corpus
    (verified: 3 parquet scans / 3 explodes pre-cache). Cached state is
    one row per distinct token, not per occurrence. The top-k runs over
    the cached types as orderBy+limit — planned as
    TakeOrderedAndProject (per-partition partial top-k, no global sort
    or single-partition window) — and the tiny vocab broadcasts back
    for the coverage join. Ties at the rank boundary break on the token
    string (a total order), so the vocab set is engine-identical. The
    coverage ratio is an exact int/int double division.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    from node_gedcom_graph_spark.functions.scalar import tokens

    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .cache()
    )
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(500)
        .select(F.col("tok").alias("vtok"))
    )
    joined = counts.join(
        F.broadcast(vocab), counts.tok == vocab.vtok, "left"
    )
    in_vocab = F.when(F.col("vtok").isNotNull(), F.col("cnt")).otherwise(0)
    return joined.agg(
        F.sum(in_vocab).cast("bigint").alias("covered_tokens"),
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        (F.sum(in_vocab).cast("double") / F.sum("cnt")).alias("coverage"),
        F.sum(F.when(F.col("vtok").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("oov_types"),
    )


@register(
    "length_bucket_batching",
    oracle="""
    WITH lens AS (
      SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
      FROM documents
    )
    SELECT CAST(LEAST(FLOOR(n_tok / 64.0), 7) AS INT) AS bucket,
           CAST(LEAST(FLOOR(n_tok / 64.0), 7) AS INT) * 64 + 64
             AS pad_to,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS real_tokens,
           CAST(SUM(LEAST(FLOOR(n_tok / 64.0), 7) * 64 + 64 - n_tok)
                AS BIGINT) AS padding_tokens
    FROM lens
    GROUP BY 1, 2
    """,
)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching plan: documents grouped into 64-token
    buckets (open-ended top bucket padded to 512) with the padding waste
    each bucket incurs — the audit behind dynamic batching, where
    same-length grouping replaces pad-to-global-max and the
    padding_tokens column is exactly the compute saved.

    Scale: token lengths are a scan-local expression; the plan is one
    8-group hash aggregate with map-side partials — no sort, no
    per-bucket scans. floor-division bucket edges are engine-identical.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    from node_gedcom_graph_spark.functions.scalar import tokens

    n_tok = F.size(tokens(F.col("text")))
    bucket = F.least(F.floor(n_tok / 64.0), F.lit(7)).cast("int")
    pad_to = bucket * 64 + 64
    return (
        docs.select(
            bucket.alias("bucket"),
            pad_to.alias("pad_to"),
            n_tok.alias("n_tok"),
        )
        .groupBy("bucket", "pad_to")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("real_tokens"),
            F.sum(F.col("pad_to") - F.col("n_tok"))
            .cast("bigint")
            .alias("padding_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval chunking: fixed-size overlapping windows


CHUNK_SIZE = 200
CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks


@register(
    "doc_chunk_overlap",
    oracle=f"""
    SELECT d.doc_id,
           CAST(u.s / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           md5(substr(d.text, u.s + 1, {CHUNK_SIZE})) AS chunk_md5,
           CAST(length(substr(d.text, u.s + 1, {CHUNK_SIZE})) AS BIGINT)
             AS chunk_len
    FROM documents d
    CROSS JOIN LATERAL (
      SELECT unnest(range(0, GREATEST(CAST(length(d.text) AS BIGINT), 1),
                          {CHUNK_STRIDE})) AS s
    ) u
    WHERE length(d.text) > 0
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into fixed-size overlapping character chunks
    (size 200, stride 150 -> 50-char overlap) — the
    retrieval/RAG indexing primitive that feeds embedding and ANN stages
    (ann_topk_cosine). Chunks are identified by (doc_id, chunk_idx) and
    fingerprinted with md5 so the chunk table joins back to dedup
    surfaces (doc_fingerprint) without carrying text.

    Scale shape: pure map-side generate-and-explode — `sequence()` +
    `explode()` emits ceil(len/stride) rows per document inside the scan
    stage with NO shuffle anywhere in the plan (the oracle's LATERAL
    unnest is the same shape). Chunk count is bounded by corpus
    characters / stride, i.e. output is a constant factor of input
    bytes, never quadratic. On a real cluster the chunk table inherits
    the scan's partitioning, so the downstream embed step is
    embarrassingly parallel.

    Uses length(text) live rather than trusting the n_chars metadata
    column, so the operator is correct on any documents table.
    """
    docs = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length("text").cast("bigint"), F.lit(1)) - 1,
        F.lit(CHUNK_STRIDE),
    )
    chunk = F.substring(F.col("text"), F.col("s") + 1, CHUNK_SIZE)
    return (
        docs.filter(F.length("text") > 0)
        .select("doc_id", "text", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
            F.md5(chunk).alias("chunk_md5"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
        )
    )
