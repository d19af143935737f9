"""Text-analysis operators over the documents corpus — the
training-data-pipeline surface: token statistics, heuristic language ID,
quality scoring, document fingerprinting.

All computed with built-in column functions (regexp + higher-order array
functions) — JVM-side, codegen'd, no UDFs. Regex patterns are restricted
to constructs with identical semantics in Java regex (Spark) and RE2
(DuckDB oracle): character classes and simple quantifiers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from node_gedcom_graph_spark.functions.scalar import (
    ascii_fold,
    normalize_text,
    punct_chars,
    tokens,
)
from node_gedcom_graph_spark.operators import register
from node_gedcom_graph_spark.sources.tables import load_table

# Common-word lists for the n-gram/stopword language heuristic (public
# knowledge — the standard top function words per language).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "mit", "ein", "zu", "den", "nicht"),
    "es": ("el", "la", "que", "y", "en", "un", "es", "se", "no", "los"),
    "fr": ("le", "les", "des", "et", "est", "dans", "une", "du", "au", "pour"),
}


def _stop_arr(lang: str) -> Column:
    return F.array(*[F.lit(w) for w in STOPWORDS[lang]])


def _sql_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


@register(
    "text_token_stats",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
             AS BIGINT) AS total_tokens,
           CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS DOUBLE)
             / COUNT(*) AS avg_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace/alnum tokenizer) aggregated by source.

    Scale: single scan + hash agg on a low-cardinality key; the tokenize
    is a per-row regexp, fully pipelined in codegen.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    n_tok = F.size(tokens(F.col("text")))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        (F.sum(n_tok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')),
                 x -> list_contains({_sql_list('en')}, x))) AS score_en,
             len(list_filter(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')),
                 x -> list_contains({_sql_list('de')}, x))) AS score_de,
             len(list_filter(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')),
                 x -> list_contains({_sql_list('es')}, x))) AS score_es,
             len(list_filter(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')),
                 x -> list_contains({_sql_list('fr')}, x))) AS score_fr
      FROM documents
    )
    SELECT doc_id, lang, score_en, score_de, score_es, score_fr,
           CASE WHEN score_en = 0 AND score_de = 0 AND score_es = 0 AND score_fr = 0
                  THEN 'unknown'
                WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr
                  THEN 'en'
                WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS predicted_lang
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: distinct-stopword hit counts per language,
    argmax with a fixed precedence (en > de > es > fr) for ties.

    (The synthetic corpus uses one shared vocabulary, so predictions are
    exercised for determinism, not accuracy — the oracle computes the
    identical heuristic.)
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = F.array_distinct(tokens(F.col("text")))
    scores = {
        lang: F.size(F.array_intersect(toks, _stop_arr(lang))) for lang in STOPWORDS
    }
    df = docs.select(
        "doc_id",
        "lang",
        scores["en"].alias("score_en"),
        scores["de"].alias("score_de"),
        scores["es"].alias("score_es"),
        scores["fr"].alias("score_fr"),
    )
    e, d, s, f_ = (F.col(c) for c in ("score_en", "score_de", "score_es", "score_fr"))
    pred = (
        F.when((e == 0) & (d == 0) & (s == 0) & (f_ == 0), "unknown")
        .when((e >= d) & (e >= s) & (e >= f_), "en")
        .when((d >= s) & (d >= f_), "de")
        .when(s >= f_, "es")
        .otherwise("fr")
    )
    return df.withColumn("predicted_lang", pred)


@register(
    "text_quality_score",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
             len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                 x -> list_contains({_sql_list('en')}, x))) AS n_stopwords,
             length(text) AS n_chars,
             length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct
      FROM documents
    )
    SELECT doc_id, source, n_tokens, n_stopwords,
           CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
           CAST(n_tokens AS DOUBLE) / n_chars AS token_density
    FROM base
    WHERE n_tokens > 0
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal extraction: token count, stopword ratio, punctuation
    ratio, token density — the standard cheap filters of a pretraining
    data pipeline. All ratios are int/int double divisions (bit-exact
    across engines)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda x: F.array_contains(_stop_arr("en"), x))
    )
    n_chars = F.length("text")
    n_punct = punct_chars(F.col("text"))
    return (
        docs.select(
            "doc_id",
            "source",
            n_tokens.alias("n_tokens"),
            n_stop.alias("n_stopwords"),
            n_chars.alias("n_chars"),
            n_punct.alias("n_punct"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "n_stopwords",
            (F.col("n_stopwords").cast("double") / F.col("n_tokens")).alias(
                "stopword_ratio"
            ),
            (F.col("n_punct").cast("double") / F.col("n_chars")).alias("punct_ratio"),
            (F.col("n_tokens").cast("double") / F.col("n_chars")).alias(
                "token_density"
            ),
        )
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
           length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_len
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form document fingerprint: md5 of the normalized text
    (lowercase, punctuation stripped, whitespace collapsed). The content-
    addressable key for exact dedup across shards."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


@register(
    "udtf_split_sentences",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             UNNEST(string_split_regex(text, '[.!?]\\s+')) AS sentence
      FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_sentences,
           CAST(MAX(LENGTH(sentence)) AS BIGINT) AS max_sentence_len
    FROM s
    WHERE TRIM(sentence) <> ''
    GROUP BY doc_id
    """,
)
def udtf_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): one input document row ->
    N sentence rows, then a per-doc aggregate so the output is
    order-insensitive and oracle-comparable. UDTFs are the
    row-multiplying member of the UDF family (UDF 1->1, UDAF N->1,
    UDTF 1->N); the lateral-join shape mirrors explode but with
    arbitrary Python between input and output rows. Scale note: the
    UDTF runs per input partition (no shuffle), Arrow-batched.
    """
    import re as _re

    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="doc_id: bigint, sent_idx: int, sentence: string")
    class SplitSentences:
        def eval(self, doc_id, text):
            if text is None:
                return
            parts = _re.split(r"[.!?]\s+", text)
            idx = 0
            for p in parts:
                if p.strip():
                    yield doc_id, idx, p
                    idx += 1

    docs = load_table(spark, sf_dir, "documents", spread=True)
    spark.udtf.register("split_sentences", SplitSentences)
    docs.createOrReplaceTempView("_docs_for_udtf")
    sent = spark.sql(
        "SELECT s.* FROM _docs_for_udtf, "
        "LATERAL split_sentences(doc_id, text) s"
    )
    return sent.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.max(F.length("sentence")).cast("bigint").alias("max_sentence_len"),
    )


@register(
    "curate_corpus",
    oracle="""
    WITH q AS (
      SELECT doc_id, source, text,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
             CAST(LENGTH(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE)
               / LENGTH(text) AS punct_ratio
      FROM documents
      WHERE LENGTH(text) > 0
    ), filtered AS (
      SELECT * FROM q
      WHERE n_tokens >= 10 AND punct_ratio <= 0.1
    ), deduped AS (
      SELECT md5(text) AS fp, MIN(doc_id) AS keep_id,
             MAX(n_tokens) AS n_tokens
      FROM filtered GROUP BY md5(text)
    ), f AS (
      SELECT d.*, q2.source
      FROM deduped d JOIN filtered q2 ON q2.doc_id = d.keep_id
    )
    SELECT source,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS token_budget
    FROM f GROUP BY source
    """,
)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pass — the composite shape a pretraining data
    pipeline runs over every shard: cheap quality gates (min token
    count, max punctuation ratio) -> exact dedup keeping the smallest
    doc_id per fingerprint -> per-source document/token budget.

    One scan feeds everything; the only shuffles are the 16-byte
    fingerprint groupBy, a keep-id self-join (broadcast at this size,
    shuffle at scale), and the final low-cardinality source agg. The
    near-dup stage (dedup_minhash_lsh) slots in between the gates and
    the budget agg unchanged.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.length("text") > 0
    )
    q = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        (punct_chars(F.col("text")).cast("double") / F.length("text")).alias(
            "punct_ratio"
        ),
    )
    filtered = q.filter((F.col("n_tokens") >= 10) & (F.col("punct_ratio") <= 0.1))
    deduped = filtered.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_id"), F.max("n_tokens").alias("n_tokens")
    )
    kept = deduped.join(
        filtered.select(F.col("doc_id").alias("keep_id"), "source"), "keep_id"
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("token_budget"),
    )


@register(
    "pack_sequences_chunked",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
      FROM documents
    ), pos AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_off
      FROM toks
    )
    SELECT doc_id, source, n_tokens,
           start_off // 2048 AS chunk_id,
           start_off % 2048 AS chunk_offset
    FROM pos
    """,
)
def pack_sequences_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concat-then-chunk (the GPT-pretraining shape):
    documents are laid end-to-end per source in deterministic doc_id
    order; each doc gets its starting offset in the token stream, the
    2048-token chunk it starts in, and its offset within that chunk.
    Downstream, a chunk's members are `groupBy(source, chunk_id)` —
    ready for the tokenize-and-splice step.

    Scale: one window (cumulative sum) per source partition. The
    per-source ORDER BY doc_id sort is the honest cost of deterministic
    packing; at 100 TB you range-partition by (source, doc_id) so the
    sort is partition-local and the window never sees a global
    ordering. No shuffle beyond the one on source; token counting is
    scan-local.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    n_tokens = F.size(tokens(F.col("text")))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    pos = docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
    ).withColumn("start_off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return pos.select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr("start_off DIV 2048").alias("chunk_id"),
        F.pmod("start_off", F.lit(2048)).cast("bigint").alias("chunk_offset"),
    )


@register(
    "sample_quality_weighted",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE)
               / length(text) AS w
      FROM documents
      WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
    )
    SELECT doc_id, source, w AS keep_prob
    FROM scored
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) <
          lpad(lower(to_hex(CAST(floor(LEAST(w, 0.999999) * 16777216) AS BIGINT))), 6, '0')
    """,
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sampling: each doc survives with
    probability equal to its quality weight (here token density), the
    importance-sampling shape behind data-mixing recipes ("sample
    high-quality sources at a higher rate") — but with zero RNG state:
    accept iff the first 6 hex digits of md5(doc_id) fall below the
    weight mapped onto [0, 16^6). Identical keep set on every run and
    cluster layout, and per-doc auditable (the keep decision is a pure
    function of the row).

    Scale: stateless row-local predicate — evaluates inside the scan
    stage like sample_hash_stratified, no shuffle; the weight can be
    any deterministic double expression (model scores included) as long
    as both engines derive it identically (here an int/int division —
    bit-exact).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        (F.size(toks).cast("double") / F.length("text")).alias("w"),
    ).filter(F.size(toks) > 0)
    threshold = F.lpad(
        ascii_fold(
            F.hex(F.floor(F.least(F.col("w"), F.lit(0.999999)) * 16777216).cast("bigint"))
        ),
        6,
        "0",
    )
    digest = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6)
    return scored.filter(digest < threshold).select(
        "doc_id", "source", F.col("w").alias("keep_prob")
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules).
# ---------------------------------------------------------------------------


def _grams(toks: Column, k: int) -> Column:
    """ALL word k-grams (non-distinct, order-preserving) — repetition
    metrics need occurrence counts, unlike the dedup shingles which are
    distinct sets. Same HOF-lambda rule: `toks` must be a materialized
    attribute (no CSE through lambdas)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)]),
    )


@register(
    "text_repetition_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
      WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 3
    ), g AS (
      SELECT doc_id, 1 AS k, unnest(w) AS gram FROM toks
      UNION ALL
      SELECT doc_id, 2 AS k,
             unnest(list_transform(range(len(w) - 1),
                                   i -> w[i+1] || ' ' || w[i+2])) AS gram
      FROM toks
      UNION ALL
      SELECT doc_id, 3 AS k,
             unnest(list_transform(range(len(w) - 2),
                                   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS gram
      FROM toks
    ), c AS (
      SELECT doc_id, k, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3
    ), pk AS (
      SELECT doc_id, k,
             SUM(cnt) AS n, MAX(cnt) AS top,
             SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup
      FROM c GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(MAX(CASE WHEN k = 1 THEN n END) AS BIGINT) AS n_words,
           CAST(MAX(CASE WHEN k = 1 THEN top END) AS DOUBLE)
             / MAX(CASE WHEN k = 1 THEN n END) AS top_word_frac,
           CAST(MAX(CASE WHEN k = 1 THEN dup END) AS DOUBLE)
             / MAX(CASE WHEN k = 1 THEN n END) AS dup_word_frac,
           CAST(MAX(CASE WHEN k = 2 THEN top END) AS DOUBLE)
             / MAX(CASE WHEN k = 2 THEN n END) AS top_bigram_frac,
           CAST(MAX(CASE WHEN k = 3 THEN dup END) AS DOUBLE)
             / MAX(CASE WHEN k = 3 THEN n END) AS dup_trigram_frac
    FROM pk GROUP BY doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: top-unigram
    fraction, duplicated-word fraction, top-bigram fraction, and
    duplicated-trigram fraction (Rae et al. 2021 §A1.1 uses these to
    drop boilerplate/spam before pretraining).

    Scale: ONE pass over the corpus — unigrams/bigrams/trigrams are
    emitted together as (k, gram) pairs from a single projection, so
    there is a single shuffle keyed (doc_id, k, gram) with map-side
    partial counts, then a (doc_id, k) rollup and a conditional-agg
    pivot to one row per doc (pivot values are static — no
    distinct-values pre-job). Every metric is an int/int double
    division — bit-equal to the oracle. Gram explosion is ~3x token
    count in rows but the shuffle rows are (id, tinyint, short string)
    — bytes, not text blobs.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 3
    )
    t = F.col("toks")

    # NB: the tag lambda must be single-arg — pyspark gives a 2-arg
    # HOF lambda the (element, index) calling convention, so a
    # `lambda s, k=k:` default silently binds k to the array INDEX.
    def _tagger(k: int):
        return lambda s: F.struct(F.lit(k).alias("k"), s.alias("gram"))

    g = toks.select(
        "doc_id",
        F.explode(
            F.concat(
                *[F.transform(_grams(t, k), _tagger(k)) for k in (1, 2, 3)]
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.k").alias("k"), F.col("g.gram").alias("gram"))
    counts = g.groupBy("doc_id", "k", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    per_k = counts.groupBy("doc_id", "k").agg(
        F.sum("cnt").alias("n"),
        F.max("cnt").alias("top"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0)).alias("dup"),
    )

    def _of(k: int, col: str) -> Column:
        return F.max(F.when(F.col("k") == k, F.col(col)))

    return per_k.groupBy("doc_id").agg(
        _of(1, "n").cast("bigint").alias("n_words"),
        (_of(1, "top").cast("double") / _of(1, "n")).alias("top_word_frac"),
        (_of(1, "dup").cast("double") / _of(1, "n")).alias("dup_word_frac"),
        (_of(2, "top").cast("double") / _of(2, "n")).alias("top_bigram_frac"),
        (_of(3, "dup").cast("double") / _of(3, "n")).alias("dup_trigram_frac"),
    )


# ---------------------------------------------------------------------------
# Mixture weighting (data-mixing prep).
# ---------------------------------------------------------------------------


@register(
    "source_mixture_weights",
    oracle="""
    WITH per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM per_src
    )
    SELECT p.source, p.n_docs, p.n_tokens,
           CAST(p.n_tokens AS DOUBLE) / t.t AS actual_share,
           LEAST((1.0 / t.k) / (CAST(p.n_tokens AS DOUBLE) / t.t), 5.0)
             AS sample_weight
    FROM per_src p CROSS JOIN tot t
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights that rebalance the corpus toward a
    uniform token share across sources (the static-reweighting step of
    data-mixing pipelines; weights capped at 5x to bound upsampling
    repeats, the usual practice when a domain is tiny).

    Scale: one grouped agg over the corpus (token counts are computed
    at the scan projection — the text column never shuffles; only
    (source, counts) rows do), then a 1-row total broadcast-crossed
    back. Shares and weights are int/int double divisions — bit-equal
    to the oracle. Downstream, sample_weight feeds the deterministic
    hash-filter sampler (sample_quality_weighted) — weight >= 1 means
    keep-all + (weight-1) repeat probability, <1 means thinning.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    per_src = docs.select(
        "source", F.size(tokens(F.col("text"))).alias("ntok")
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("n_tokens"),
    )
    tot = F.broadcast(
        per_src.agg(
            F.sum("n_tokens").cast("bigint").alias("t"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
    )
    share = F.col("n_tokens").cast("double") / F.col("t")
    return per_src.crossJoin(tot).select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("actual_share"),
        F.least((F.lit(1.0) / F.col("k")) / share, F.lit(5.0)).alias(
            "sample_weight"
        ),
    )


# ---------------------------------------------------------------------------
# Unigram language-model scoring (corpus-trained perplexity proxy).
# ---------------------------------------------------------------------------


@register(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           AVG(-ln(CAST(v.cnt AS DOUBLE) / n)) AS avg_nll
    FROM toks t
    JOIN vocab v ON v.tok = t.tok
    CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under a unigram LM
    trained on the corpus itself — the classic cheap perplexity proxy
    for quality filtering (documents full of rare tokens score high,
    boilerplate scores low).

    Scale: two aggregations and one join, all on the token key: (1)
    vocab counts hash-aggregate with map-side partials (state = distinct
    tokens per partition, not token instances); (2) the corpus total is
    a one-row agg over the ALREADY-aggregated vocab; (3) the score join
    re-shuffles tokens against vocab — Zipf-skewed keys are exactly what
    AQE skew-join splitting is for, and Catalyst broadcasts vocab
    outright when it fits (it usually does: vocab is distinct tokens,
    millions of rows, not corpus-sized). The final per-doc AVG shuffles
    on doc_id. -ln(cnt/n) is the same int/int double division + natural
    log on both engines; per-doc sums are ~1e2-1e3 tokens, so float
    drift is far inside the 6-dp oracle rounding (same precedent as
    tfidf_top_source_terms).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = F.broadcast(
        vocab.agg(F.sum("cnt").cast("bigint").alias("n"))
    )
    nll = -F.log(F.col("cnt").cast("double") / F.col("n"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(nll).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix (shared exact-duplicate fingerprints).
# ---------------------------------------------------------------------------


@register(
    "cross_source_overlap",
    oracle="""
    WITH toks AS (
      SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), fp AS (
      SELECT DISTINCT md5(array_to_string(t[1:8], ' ')) AS fp, source
      FROM toks WHERE len(t) >= 8
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared
    FROM fp a
    JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: for every pair of sources, how
    many 8-token-PREFIX fingerprints they share — the contamination
    audit run before mixing corpora (which crawl dumps duplicate which,
    does the benchmark source leak into training sources).

    The fingerprint is the first 8 alnum tokens, not the whole
    normalized text: prefix fingerprints catch shared-opening near-dups
    (boilerplate, syndicated ledes) that full-text hashing misses, and
    whole-text exact overlap is already the ``dedup_exact`` family's
    contract. Round-7 vacuity audit: the full-text variant was EMPTY at
    sf0.01 — the exact scale the driver gates — i.e. vacuously green
    (the decontaminate_ngram_overlap failure mode again); the prefix
    key is non-vacuous at every fixture scale (24/24/248 pairs at
    sf0.001/0.01/0.1).

    Scale: instead of the oracle's fp self-join (which shuffles the
    fingerprint table twice and can quadratically explode on a hot
    fingerprint), group once on fingerprint, collect the DISTINCT
    source set (bounded by the number of sources — single digits — not
    by copies), and expand each set's O(k^2) pairs with a higher-order
    comprehension in codegen. One shuffle on the 16-byte fingerprint +
    one on the (source_a, source_b) pair key; document text never
    shuffles.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens(F.col("text"))
    fps = (
        docs.select(toks.alias("t"), "source")
        .filter(F.size("t") >= 8)
        .select(
            F.md5(F.concat_ws(" ", F.slice("t", 1, 8))).alias("fp"), "source"
        )
        .distinct()
    )
    sets = fps.groupBy("fp").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    pairs = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("srcs"),
                    (i + 2).cast("int"),
                    F.greatest(F.size("srcs") - i - 1, F.lit(0)).cast("int"),
                ),
                lambda y: F.struct(
                    x.alias("source_a"), y.alias("source_b")
                ),
            ),
        )
    )
    return (
        sets.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# BPE-style pre-tokenization counts (GPT-2 pattern family).
# ---------------------------------------------------------------------------

# Lookahead-free variant of the GPT-2 pre-tokenizer split: a leading
# space binds to the following word/number/punct run, whitespace runs
# stand alone. (The real GPT-2 regex adds contraction splits and a
# \s+(?!\S) lookahead; RE2 — the DuckDB oracle engine — has no
# lookahead, so the shared subset is used on BOTH engines. The point is
# a realistic sub-word-ready segmentation, not tokenizer parity.)
# Whitespace is spelled as an explicit class, not \s: Java's \s
# includes vertical tab (\x0B), RE2's does not — the one character
# where the engines' shorthands diverge.
BPE_PRETOKEN_RE = (
    r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\f\r]+|[ \t\n\f\r]+"
)


@register(
    "text_bpe_pretoken_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(regexp_extract_all(text, '{BPE_PRETOKEN_RE}')) AS tok
      FROM documents
    )
    SELECT doc_id, source,
           COUNT(*) AS n_pretokens,
           COUNT(DISTINCT tok) AS n_distinct,
           CAST(SUM(CASE WHEN tok LIKE ' %' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_space_prefixed,
           CAST(SUM(length(tok)) AS BIGINT) AS total_chars
    FROM toks
    GROUP BY doc_id, source
    """,
)
def text_bpe_pretoken_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-style pre-tokenizer (the GPT-2 split
    family: space-prefixed word / number / punctuation runs, standalone
    whitespace) — the segmentation a byte-pair encoder consumes, so
    n_pretokens is the realistic pre-merge sequence length used for
    token-budget estimates (vs the plain alnum tokens of
    text_token_stats).

    Scale: one scan; the regex split is a per-row codegen'd
    regexp_extract_all; the per-doc aggregate shuffles (doc_id, token)
    only for the distinct count. The pattern is restricted to the
    Java-regex/RE2 shared subset (no lookahead), so both engines
    segment identically.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RE), 0)
        ).alias("tok"),
    )
    return toks.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_pretokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.sum(F.when(F.col("tok").startswith(" "), 1).otherwise(0)).alias(
            "n_space_prefixed"
        ),
        F.sum(F.length("tok")).alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003 local document sketch).
# ---------------------------------------------------------------------------

WINNOW_KGRAM = 8
WINNOW_WINDOW = 16


@register(
    "doc_winnowing_fingerprints",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, length(t) - 8 + 2)) AS p
      FROM norm WHERE length(t) >= 8
    ), grams AS (
      SELECT doc_id, p, md5(substr(t, CAST(p AS INTEGER), 8)) AS h
      FROM pos
    ), winnowed AS (
      SELECT doc_id, p,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                          RANGE BETWEEN CURRENT ROW AND 15 FOLLOWING) AS sel,
             COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                            RANGE BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wn
      FROM grams
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_kgrams,
           CAST(COUNT(DISTINCT CASE WHEN wn = 16 THEN sel END) AS BIGINT)
             AS n_fingerprints,
           MIN(CASE WHEN wn = 16 THEN sel END) AS min_fingerprint
    FROM winnowed
    GROUP BY doc_id
    """,
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document sketch (Schleimer/Wilkerson/Aiken, the MOSS
    fingerprint): hash every 8-char k-gram of the normalized text and
    keep, for each full 16-gram window, the window's minimum hash —
    the selected set is a position-robust local fingerprint whose
    density is ~2/(w+1) regardless of document length, the guarantee
    exact-substring-dedup pipelines rely on. Reported per doc:
    k-gram count, distinct selected fingerprints, and the smallest
    fingerprint (the doc's winnow anchor).

    Scale: the k-gram explode is linear in characters and stays
    codegen (sequence + explode + substring + md5, no UDF); the only
    per-doc ordering is the winnow window, PARTITIONED BY doc_id — a
    per-document sort bounded by document length, never a global
    sort. The aggregate then collapses chars back to one row per doc,
    so the shuffle out is |docs| rows. Windows are RANGE-framed over
    the dense 1..n position sequence, identical on both engines;
    partial trailing windows (wn < 16) are excluded on both sides so
    the selected set is exactly the full-window winnow.

    r7: probe-gated exact-dup collapse (the dedup-family idiom) — the
    sketch is a pure function of the text, so above the dup threshold
    the k-gram explode + winnow windows run once per DISTINCT text
    and members inherit the row (sf10's 100-way-duplicated corpus:
    55.2 s -> seconds). Dup-light corpora run the direct per-doc
    pipeline unchanged.
    """
    from node_gedcom_graph_spark.operators.dedup import (
        DUP_COLLAPSE_MIN_EXTRA,
        text_dup_extra,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    if text_dup_extra(docs, sf_dir) <= DUP_COLLAPSE_MIN_EXTRA:
        return _winnow_per_doc(docs.select("doc_id", "text"))
    from node_gedcom_graph_spark.operators import persist_tracked

    grp = persist_tracked(
        docs.groupBy("text").agg(
            F.min("doc_id").alias("rep"),
            F.collect_list("doc_id").alias("ids"),
        )
    )
    per_rep = _winnow_per_doc(
        grp.select(F.col("rep").alias("doc_id"), "text")
    ).withColumnRenamed("doc_id", "rep")
    return (
        grp.select("rep", F.explode("ids").alias("doc_id"))
        .join(per_rep, "rep")
        .select("doc_id", "n_kgrams", "n_fingerprints", "min_fingerprint")
    )


def _winnow_per_doc(docs: DataFrame) -> DataFrame:
    """The per-document winnow sketch over any (doc_id, text) frame —
    see doc_winnowing_fingerprints for the design narrative."""
    from pyspark.sql import Window as W

    norm = docs.select("doc_id", normalize_text(F.col("text")).alias("t")).filter(
        F.length("t") >= WINNOW_KGRAM
    )
    grams = norm.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("t") - WINNOW_KGRAM + 1)
        ).alias("p"),
        F.col("t"),
    ).select(
        "doc_id",
        "p",
        F.md5(F.expr(f"substring(t, p, {WINNOW_KGRAM})")).alias("h"),
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("p")
        .rangeBetween(W.currentRow, WINNOW_WINDOW - 1)
    )
    winnowed = grams.select(
        "doc_id",
        F.min("h").over(w).alias("sel"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    full = F.when(F.col("wn") == WINNOW_WINDOW, F.col("sel"))
    return winnowed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kgrams"),
        F.countDistinct(full).cast("bigint").alias("n_fingerprints"),
        F.min(full).alias("min_fingerprint"),
    )


# ---------------------------------------------------------------------------
# Bigram LM scoring with add-k smoothing.
# ---------------------------------------------------------------------------

BIGRAM_ALPHA = 0.5


@register(
    "text_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY idx) AS p
      FROM (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
               unnest(range(1, len(regexp_extract_all(lower(text),
                                                      '[a-z0-9]+')) + 1))
                 AS idx
        FROM documents
      )
    ), bi AS (
      SELECT doc_id, tok AS a,
             LEAD(tok) OVER (PARTITION BY doc_id ORDER BY p) AS b
      FROM toks
    ), bigrams AS (
      SELECT doc_id, a, b FROM bi WHERE b IS NOT NULL
    ), cb AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM bigrams GROUP BY a, b
    ), cu AS (
      SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM cb GROUP BY a
    ), v AS (
      SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM toks
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           AVG(-ln((c_ab + 0.5) / (c_a + 0.5 * vocab))) AS avg_nll
    FROM bigrams g
    JOIN cb ON cb.a = g.a AND cb.b = g.b
    JOIN cu ON cu.a = g.a
    CROSS JOIN v
    GROUP BY g.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under a corpus-trained
    BIGRAM model with add-0.5 smoothing — one order deeper than
    text_unigram_logprob's perplexity proxy: repeated boilerplate
    transitions score low, incoherent token salads score high even
    when their unigrams are common. The smoothing term keeps every
    observed transition finite and is pinned to the same closed form
    on both engines.

    Scale: bigrams come from one per-doc LEAD window (partitioned by
    doc_id — no global sort; posexplode preserves intra-doc order
    without a separate ranking shuffle). Counts aggregate on the
    bigram key with map-side partials; conditional totals re-aggregate
    the ALREADY-aggregated bigram table; vocab is a one-row broadcast.
    The scoring join shuffles bigram instances against the count
    tables on the same Zipf-skewed keys AQE skew-split handles, and
    the per-doc AVG spans ~1e2-1e3 terms — ln() ULP drift far inside
    the 6-dp oracle tolerance (unigram precedent).
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    from pyspark.sql import Window as W

    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p", "a")
    )
    wd = W.partitionBy("doc_id").orderBy("p")
    bigrams = (
        toks.select("doc_id", "a", F.lead("a").over(wd).alias("b"))
        .filter(F.col("b").isNotNull())
    )
    cb = bigrams.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    )
    cu = cb.groupBy("a").agg(F.sum("c_ab").cast("bigint").alias("c_a"))
    v = F.broadcast(
        toks.agg(F.countDistinct("a").cast("bigint").alias("vocab"))
    )
    nll = -F.log(
        (F.col("c_ab") + F.lit(BIGRAM_ALPHA))
        / (F.col("c_a") + F.lit(BIGRAM_ALPHA) * F.col("vocab"))
    )
    return (
        bigrams.join(cb, ["a", "b"])
        .join(cu, "a")
        .crossJoin(v)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.avg(nll).alias("avg_nll"),
        )
    )
