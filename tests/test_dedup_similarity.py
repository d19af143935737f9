"""Behavioral tests for the dedup / similarity / multimodal operators on
controlled inputs (the driver corpus has no true duplicates, so these
inject them)."""

import re
import string

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from node_gedcom_graph_spark.functions.scalar import (
    normalize_text,
    punct_chars,
    tokens,
)
from node_gedcom_graph_spark.operators.dedup import (
    dot_f32,
    minhash_lsh_pairs,
    minhash_signature,
    shingle_hashes,
    with_minhash_signature,
    word_shingles,
)
from node_gedcom_graph_spark.operators.multimodal import (
    attach_binary_metadata,
    extract_image_features,
)
from node_gedcom_graph_spark.operators.similarity import topk_cosine
from tests.conftest import SF_DIR

SF01_DIR = SF_DIR.replace("sf0.001", "sf0.01")

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun"
)
NEAR = BASE.replace("afternoon", "morning")  # one token changed
FAR = "completely different content about spark query engines and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(1, BASE), (2, BASE), (3, NEAR), (4, FAR), (5, "tiny")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_identical(spark, docs):
    groups = (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keep"), F.count("*").alias("n"))
        .collect()
    )
    by_n = sorted((r.n, r.keep) for r in groups)
    assert by_n == [(1, 3), (1, 4), (1, 5), (2, 1)]  # docs 1+2 collapse


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    [row] = df.select(word_shingles(F.col("text")).alias("s")).collect()
    assert sorted(row.s) == ["a b c", "b c d"]
    [row] = (
        spark.createDataFrame([("a b",)], "text string")
        .select(word_shingles(F.col("text")).alias("s"))
        .collect()
    )
    assert row.s == []  # shorter than k -> empty, not null


def test_minhash_identical_docs_identical_sigs(spark, docs):
    sigs = {
        r.doc_id: tuple(r.sig)
        for r in docs.select(
            "doc_id", minhash_signature(word_shingles(F.col("text"))).alias("sig")
        )
        .filter(F.size(word_shingles(F.col("text"))) > 0)
        .collect()
    }
    assert sigs[1] == sigs[2]
    # near-dup shares most slots; far doc shares few
    near_overlap = sum(a == b for a, b in zip(sigs[1], sigs[3])) / 64
    far_overlap = sum(a == b for a, b in zip(sigs[1], sigs[4])) / 64
    assert near_overlap > 0.6 > far_overlap


def _densified_oph(hashes):
    """Densified one-permutation signature in pure Python: bin h mod 64,
    value h >>> 12 (unsigned), per-bin minimum; an empty bin takes the
    next non-empty bin's minimum to its right, circularly, plus 2^52 per
    bin walked."""
    mins = [None] * 64
    for h in hashes:
        b, v = h % 64, (h % 2**64) >> 12
        if mins[b] is None or v < mins[b]:
            mins[b] = v
    sig = []
    for i in range(64):
        d = 0
        while mins[(i + d) % 64] is None:
            d += 1
        sig.append(mins[(i + d) % 64] + d * 2**52)
    return sig


def test_minhash_signature_matches_python_oph(spark):
    """Spark's signature equals a pure-Python densified one-permutation
    signature over Spark's own xxhash64 of each shingle, in both the
    one-expression and the staged form."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    long_doc = " ".join(rng.choices(vocab, k=120))  # as long as a perfbench document
    few = "one two three four five six seven eight nine ten eleven twelve"
    rows = [(1, long_doc), (2, few), (3, "just three words")]
    sh = word_shingles(F.col("text"))
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        shingle_hashes(sh).alias("h"),
        minhash_signature(sh).alias("one_expr"),
    )
    got = {
        r.doc_id: (r.h, r.one_expr, r.sig)
        for r in with_minhash_signature(df, "h").collect()
    }
    # Fewer shingles than bins, and one shingle; all three documents
    # leave some bins empty, so every one exercises densification.
    assert [len(got[i][0]) for i in (2, 3)] == [10, 1]
    assert all(len({h % 64 for h in got[i][0]}) < 64 for i in got)
    for doc_id, (hashes, one_expr, staged) in got.items():
        want = _densified_oph(hashes)
        assert list(one_expr) == want, doc_id
        assert list(staged) == want, doc_id
    # One shingle: every slot is borrowed from its bin, each at a
    # different distance, so all 64 values differ.
    assert len(set(got[3][1])) == 64


def test_minhash_lsh_agrees_with_exact_jaccard(spark):
    """On the driver corpus, every exact-Jaccard pair >= 0.5 must be
    found by LSH (recall ~1 above the band-shape knee), and every LSH
    pair is jaccard-verified by construction."""
    from node_gedcom_graph_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf).filter(F.col("jaccard") >= 0.5).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf).collect()}
    assert exact <= lsh


def _py_shingles(text):
    """Distinct word 3-grams of ``text``, folded like ``tokens()``: only
    A-Z, U+0130 and the Kelvin sign change case."""
    folded = text.replace("\u0130", "i\u0307").translate(
        str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ\u212a", "abcdefghijklmnopqrstuvwxyzk")
    )
    toks = re.findall("[a-z0-9]+", folded)
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def test_minhash_lsh_pairs_match_python_exact_jaccard(spark):
    """On the sf0.001 documents, LSH finds every pair whose exact shingle
    Jaccard is >= 0.5 (recall ~1 above the band-shape knee), and every
    pair it returns carries its exact Jaccard."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    shingles = {
        r.doc_id: sh
        for r in docs.select("doc_id", "text").collect()
        if r.text is not None and (sh := _py_shingles(r.text))
    }
    by_shingle = {}
    for doc_id, sh in shingles.items():
        for g in sh:
            by_shingle.setdefault(g, []).append(doc_id)
    exact = {}
    for ids in by_shingle.values():
        for a in ids:
            for b in ids:
                if a < b and (a, b) not in exact:
                    sa, sb = shingles[a], shingles[b]
                    exact[(a, b)] = len(sa & sb) / len(sa | sb)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in minhash_lsh_pairs(docs).collect()}
    want = {p for p, j in exact.items() if j >= 0.5}
    assert want, "the corpus must hold near-duplicate pairs"
    assert want <= set(got)
    for pair, j in got.items():
        assert j == exact[pair], pair


def test_simhash_near_identical_close(spark, docs):
    docs.createOrReplaceTempView("t")
    # reuse the registered query logic through a local table by calling
    # the internals directly: identical docs -> identical fingerprints.
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    h = F.xxhash64("t")
    sums = [
        F.sum((F.shiftright(h, k).bitwiseAND(F.lit(1)) * 2 - 1)).alias(f"s{k}")
        for k in range(64)
    ]
    agg = tok.groupBy("doc_id").agg(*sums)
    fp = agg.select(
        "doc_id",
        *[
            sum(
                (F.when(F.col(f"s{c*16+j}") > 0, 1).otherwise(0) * (1 << j))
                for j in range(16)
            ).alias(f"c{c}")
            for c in range(4)
        ],
    ).collect()
    rows = {r.doc_id: (r.c0, r.c1, r.c2, r.c3) for r in fp}
    assert rows[1] == rows[2]
    ham = lambda x, y: sum(bin(a ^ b).count("1") for a, b in zip(x, y))  # noqa: E731
    assert ham(rows[1], rows[3]) < ham(rows[1], rows[4])


def test_dot_f32_deterministic(spark):
    df = spark.createDataFrame(
        [([1.5, 2.5, 3.5], [0.5, 0.25, 2.0])],
        "a array<float>, b array<float>",
    )
    [r] = df.select(dot_f32(F.col("a"), F.col("b")).alias("d")).collect()
    assert abs(r.d - (0.75 + 0.625 + 7.0)) < 1e-6


def test_binary_metadata_and_sniffing(spark):
    rows = [
        (1, bytes.fromhex("FFD8FF") + b"rest"),
        (2, bytes.fromhex("89504E47") + b"rest"),
        (3, b"plain text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in attach_binary_metadata(df, "payload").collect()}
    assert out[1].mime_sniffed == "image/jpeg"
    assert out[2].mime_sniffed == "image/png"
    assert out[3].mime_sniffed == "application/octet-stream"
    assert out[3].n_bytes == 10


def test_fake_feature_extraction_deterministic(spark):
    import hashlib

    df = spark.createDataFrame([(1, b"payload-bytes")], "doc_id long, payload binary")
    [r] = extract_image_features(df).collect()
    digest = hashlib.md5(b"payload-bytes").digest()
    assert r.width == 64 + digest[0] * 4
    assert r.height == 64 + digest[1] * 4
    assert len(r.features) == 8


def test_real_decode_ppm_golden_and_compressed_stub(spark):
    """The REAL decode path: a hand-built 2x2 P6 payload decodes to its
    known statistics; compressed payloads still refuse loudly (no codec
    libs in this container)."""
    import numpy as np

    from node_gedcom_graph_spark.operators.multimodal import encode_ppm

    img = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    df = spark.createDataFrame(
        [(1, bytes(encode_ppm(img)))], "doc_id long, payload binary"
    )
    [row] = extract_image_features(df, fake=False).collect()
    assert (row.width, row.height, row.channels) == (2, 2, 3)
    # R channel pixels are [0, 3, 6, 9] -> mean 4.5/255.
    assert abs(row.features[0] - 4.5 / 255.0) < 1e-12
    # gray mean = overall mean = 5.5/255.
    assert abs(row.features[6] - 5.5 / 255.0) < 1e-12
    bad = spark.createDataFrame(
        [(2, b"\xff\xd8\xff!")], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="netpbm"):
        extract_image_features(bad, fake=False).collect()


def test_ivf_recall_vs_exact(spark):
    """IVF probe of 4/16 cells must recover most of the exact top-10
    (fixture embeddings are label-clustered, so recall is near 1)."""
    from node_gedcom_graph_spark.operators.similarity import (
        ann_ivf_topk,
        ann_topk_cosine,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        (r.query_id, r.neighbor_id) for r in ann_topk_cosine(spark, sf).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in ann_ivf_topk(spark, sf).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_approx_distinct_within_tolerance(spark):
    from node_gedcom_graph_spark.operators.relational import approx_distinct_users
    from node_gedcom_graph_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    got = approx_distinct_users(spark, sf).collect()[0]
    events = load_table(spark, sf, "events")
    exact = events.agg(
        F.countDistinct("user_id").alias("u"), F.countDistinct("event_type").alias("t")
    ).collect()[0]
    assert abs(got.approx_users - exact.u) <= max(2, 0.05 * exact.u)
    assert abs(got.approx_types - exact.t) <= max(2, 0.05 * exact.t)


def test_asof_join_semantics(spark):
    """Strict-< as-of: same-instant views are invisible; latest earlier
    view wins; users with no earlier view get NULLs (left join)."""
    from node_gedcom_graph_spark.operators import all_queries
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    # user 1: views at t0, t0+10; purchase at t0+10 (same instant as a
    # view -> only the t0 view counts), purchase at t0+20.
    rows += [
        (100, t0, 1, "view", 1.0, None),
        (101, t0 + dt.timedelta(minutes=10), 1, "view", 1.0, None),
        (102, t0 + dt.timedelta(minutes=10), 1, "purchase", 5.0, None),
        (103, t0 + dt.timedelta(minutes=20), 1, "purchase", 5.0, None),
        # user 2: purchase with no view at all.
        (200, t0, 2, "purchase", 5.0, None),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import node_gedcom_graph_spark.operators.relational as R
    import node_gedcom_graph_spark.sources.tables as T

    # Import every operator module BEFORE patching: all_queries() imports
    # lazily, and a module first imported inside the patch window would
    # capture the patched lambda in its own `from tables import
    # load_table` binding forever (bit test_plan_pushdown once).
    qs = all_queries()
    orig = T.load_table
    try:
        T.load_table = lambda s, d, name: events  # noqa: E731
        R.load_table = T.load_table
        out = {
            r.purchase_id: (r.view_id)
            for r in qs["asof_last_view_before_purchase"](spark, "x").collect()
        }
    finally:
        T.load_table = orig
        R.load_table = orig
    assert out[102] == 100  # same-instant view 101 invisible
    assert out[103] == 101  # latest earlier view
    assert out[200] is None  # left join: no view -> NULL


def test_ivf_training_sample_is_capped_and_deterministic(spark):
    """The driver-side IVF training collect must honor the row cap
    (TakeOrderedAndProject keeps driver memory O(cap)) and stay
    deterministic across invocations."""
    from node_gedcom_graph_spark.operators.similarity import (
        IVF_TRAIN_CAP,
        _ivf_training_sample,
        _train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    capped = _ivf_training_sample(emb, cap=50)
    assert len(capped) == 50
    again = _ivf_training_sample(emb, cap=50)
    assert list(capped["vec_id"]) == list(again["vec_id"])
    # uncapped-at-this-SF sample == the plain hash-filter set (limit
    # doesn't bind), so centroids are unchanged vs the unbounded path
    full = _ivf_training_sample(emb, cap=IVF_TRAIN_CAP)
    plain = (
        emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(4)) == 0)
        .select("vec_id")
        .toPandas()
    )
    assert sorted(full["vec_id"]) == sorted(plain["vec_id"])
    # training still converges on a tiny capped sample
    cents = _train_ivf_centroids(emb, k=4, cap=50)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)


def test_cosine_candidate_guard_falls_back_to_srp(spark):
    """Above the broadcast cap, cosine_candidate_pairs must NOT collect
    the corpus to the driver — it degrades to the distributed SRP-LSH
    bucket join (no MapInPandas GEMM stage in the plan), and the
    candidates it yields still contain most true near-dup pairs."""
    from node_gedcom_graph_spark.operators.dedup import (
        cosine_candidate_pairs,
        dot_f32 as _dot,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    gemm = cosine_candidate_pairs(emb, threshold=0.45)
    fallback = cosine_candidate_pairs(emb, threshold=0.45, broadcast_cap=10)
    gemm_plan = gemm._jdf.queryExecution().executedPlan().toString()
    fb_plan = fallback._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in gemm_plan
    assert "MapInPandas" not in fb_plan  # fully distributed: no collect
    # exact-precision re-score both candidate sets; SRP recall on the
    # clustered fixture should recover most true pairs
    def verified(cand):
        n = emb.select(
            "vec_id",
            "embedding",
            F.sqrt(_dot(F.col("embedding"), F.col("embedding")).cast("double")).alias("nm"),
        )
        a = n.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("ea"),
            F.col("nm").alias("na"),
        )
        b = n.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("eb"),
            F.col("nm").alias("nb"),
        )
        cos = _dot(F.col("ea"), F.col("eb")).cast("double") / (
            F.col("na") * F.col("nb")
        )
        return {
            (r.id_a, r.id_b)
            for r in cand.join(a, "id_a")
            .join(b, "id_b")
            .filter(cos >= 0.45)
            .select("id_a", "id_b")
            .collect()
        }

    true_pairs = verified(gemm)
    srp_pairs = verified(fallback)
    assert srp_pairs <= true_pairs  # precision 1 after re-score
    assert len(srp_pairs) >= 0.5 * len(true_pairs), (
        len(srp_pairs),
        len(true_pairs),
    )


def test_approx_percentile_close_to_exact(spark):
    from node_gedcom_graph_spark.operators import all_queries

    sf = "/root/testdata/sf0.01"
    approx = {
        r.l_returnflag: (r.p25, r.p50, r.p75)
        for r in all_queries()["approx_percentile_prices"](spark, sf).collect()
    }
    exact = {
        r.l_returnflag: (r.p25, r.p50, r.p75)
        for r in all_queries()["percentiles_lineitem_price"](spark, sf).collect()
    }
    for flag, ex in exact.items():
        for a, e in zip(approx[flag], ex):
            assert abs(a - e) / e < 0.01, (flag, a, e)


def test_wav_codec_roundtrip_golden():
    """The REAL audio codec: a hand-built 4-sample WAV roundtrips
    exactly (encode -> decode), and the chunk walk rejects non-RIFF."""
    import numpy as np
    import pytest as _pytest

    from node_gedcom_graph_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    v = np.array([0, 1000, -1000, 32767], dtype=np.int16)
    samples, sr, n_ch = decode_wav(encode_wav(v, 8000))
    assert sr == 8000 and n_ch == 1
    assert (samples == v).all()
    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"nope")


def test_knn_query_panel_is_capped_and_exact_below_cap(spark):
    """knn_label_purity's query panel must be bounded: with a small
    cap the _cap_queries sample (salt=23, the knn panel) is exactly cap
    rows (TakeOrderedAndProject in the plan — per-partition heads, no
    corpus-sized collection), and below the cap it equals the plain
    vec_id % 4 set the oracle describes."""
    from node_gedcom_graph_spark.operators.similarity import (
        KNN_QUERY_CAP,
        _cap_queries,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    mod4 = emb.filter(F.col("vec_id") % 4 == 0)
    capped = _cap_queries(mod4, cap=7, salt=23)
    assert capped.count() == 7
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # determinism across invocations
    a = [r.vec_id for r in capped.collect()]
    b = [r.vec_id for r in _cap_queries(mod4, cap=7, salt=23).collect()]
    assert a == b
    # below the cap: exactly the modulo set (limit does not bind)
    full = {
        r.vec_id
        for r in _cap_queries(mod4, cap=KNN_QUERY_CAP, salt=23).collect()
    }
    plain = {r.vec_id for r in mod4.select("vec_id").collect()}
    assert full == plain


def test_fixed_centroids_are_k_rows_any_corpus(spark):
    """embedding_centroid_assign's broadcast side is fixed-k: exactly
    CENTROID_K rows via TakeOrderedAndProject, deterministic, and
    invariant to corpus repartitioning."""
    from node_gedcom_graph_spark.operators.similarity import (
        CENTROID_K,
        _fixed_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = _fixed_centroids(emb)
    rows = cent.collect()
    assert len(rows) == CENTROID_K
    plan = cent._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # same selection regardless of physical layout
    again = _fixed_centroids(emb.repartition(13)).collect()
    assert sorted(r.cid for r in rows) == sorted(r.cid for r in again)


def test_ann_query_caps_bind(spark, monkeypatch):
    """The gated pruned-ANN / negative-mining queries hard-cap their
    probe sets: with the cap patched tiny, each emits at most that
    many distinct query ids — the enforcement (not just docstring)
    that keeps 'queries x cell' linear at any corpus size."""
    import node_gedcom_graph_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "ANN_QUERY_CAP", 7)
    sf = "/root/testdata/sf0.001"
    for fn, qcol in (
        (sim.contrastive_negative_pairs, "query_id"),
        (sim.ann_srp_bucket_topk, "query_id"),
        (sim.ann_ivf_fixed_topk, "query_id"),
    ):
        n_queries = fn(spark, sf).select(qcol).distinct().count()
        assert n_queries <= 7, fn.__name__


def test_semdedup_cluster_cap_binds(spark, monkeypatch):
    """With the per-cluster comparison budget patched to its minimum
    (one admitted member per rank subkey), the comparison set shrinks
    drastically but every vector still gets a verdict row — the budget
    bounds cost without crashing the plan — and with the budget
    effectively zeroed via fanout=1/cap=1 only ~one member per cluster
    is compared, so pruning all but disappears."""
    import node_gedcom_graph_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "SEMDEDUP_CLUSTER_CAP", 1)
    monkeypatch.setattr(sim, "SEMDEDUP_RANK_FANOUT", 1)
    rows = sim.semdedup_cluster_prune(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500  # every vector still gets a verdict row
    # one admitted member per cluster -> no pairs -> nothing pruned
    assert sum(r.pruned for r in rows) == 0


def test_kmeans_lloyd2_monotone_improvement_and_partition(spark):
    """Two Lloyd rounds on the real corpus: the reassignment must
    (a) still partition the corpus (counts sum to N), and (b) not
    degrade the corpus-wide mean assigned cosine vs the single E-step
    against the raw init centroids — recomputing means is exactly the
    M-step that maximizes summed cosine-to-centroid for fixed
    assignments (up to centroid renormalization)."""
    from node_gedcom_graph_spark.operators.similarity import (
        embedding_centroid_assign,
        embedding_kmeans_lloyd2,
    )

    sf = "/root/testdata/sf0.001"
    n_total = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    one = embedding_centroid_assign(spark, sf).toPandas()
    two = embedding_kmeans_lloyd2(spark, sf).toPandas()
    assert int(two["n_assigned"].sum()) == n_total
    mean1 = (one["mean_cos"] * one["n_assigned"]).sum() / n_total
    mean2 = (two["mean_cos"] * two["n_assigned"]).sum() / n_total
    assert mean2 >= mean1 - 1e-12


def test_dot_fold64_matches_duckdb_left_fold(spark):
    """dot_fold64's double left fold must bit-match the DuckDB
    list_zip/list_reduce expression the lloyd2 oracle uses."""
    import duckdb

    from node_gedcom_graph_spark.operators.similarity import dot_fold64

    a = [0.1, -2.7, 3.14159, 1e-9, 123.456, -0.001, 7.7, 0.333] * 8
    b = [1.9, 0.004, -6.02, 2.718, -1e-7, 55.5, 0.25, -9.9] * 8
    spark_val = (
        spark.range(1)
        .select(
            dot_fold64(
                F.array(*[F.lit(x) for x in a]),
                F.array(*[F.lit(x) for x in b]),
            ).alias("d")
        )
        .collect()[0]["d"]
    )
    duck_val = duckdb.sql(
        "SELECT list_reduce(list_transform(list_zip($a::DOUBLE[], $b::DOUBLE[]),"
        " p -> p[1] * p[2]), (x, y) -> x + y)",
        params={"a": a, "b": b},
    ).fetchone()[0]
    assert spark_val == duck_val


def test_lloyd_iterate_converges_and_improves(spark):
    """The fixpoint Lloyd loop must terminate before the round cap on
    the real corpus, partition the corpus, be deterministic across
    runs, and not score below the oracle-gated 2-round variant on mean
    assigned cosine (more M-steps can only refine the fit)."""
    from node_gedcom_graph_spark.operators.similarity import (
        embedding_kmeans_lloyd2,
        lloyd_iterate,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    n_total = emb.count()
    asn, rounds = lloyd_iterate(emb, max_rounds=20)
    rows = asn.collect()
    assert 2 <= rounds < 20, f"did not converge early (rounds={rounds})"
    assert len(rows) == n_total
    again, rounds2 = lloyd_iterate(emb, max_rounds=20)
    assert rounds2 == rounds
    assert sorted((r.vec_id, r.cid) for r in rows) == sorted(
        (r.vec_id, r.cid) for r in again.collect()
    )
    mean_conv = sum(r.cos for r in rows) / n_total
    two = embedding_kmeans_lloyd2(spark, sf).collect()
    mean_two = sum(r.mean_cos * r.n_assigned for r in two) / n_total
    assert mean_conv >= mean_two - 1e-9


def test_paragraph_dedup_matches_pure_python(spark):
    """Differential for dedup_paragraph_exact at sf0.001: replay the
    span split, global first-occurrence dedup, and document
    reconstruction in pure Python and compare every output column."""
    import hashlib

    from node_gedcom_graph_spark.operators.dedup import (
        PARA_WORDS,
        dedup_paragraph_exact,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").collect()
    paras = []  # (doc_id, pidx, para) in deterministic order
    for r in rows:
        if not r.text:
            continue
        w = r.text.split(" ")
        for pidx, s in enumerate(range(0, max(len(w), 1), PARA_WORDS)):
            paras.append((r.doc_id, pidx, " ".join(w[s : s + PARA_WORDS])))
    first = {}
    for doc_id, pidx, p in sorted(paras):
        first.setdefault(p, (doc_id, pidx))
    expect = {}
    for doc_id, pidx, p in paras:
        e = expect.setdefault(doc_id, {"n": 0, "kept": []})
        e["n"] += 1
        if first[p] == (doc_id, pidx):
            e["kept"].append((pidx, p))
    got = {r.doc_id: r for r in dedup_paragraph_exact(spark, sf).collect()}
    assert set(got) == set(expect)
    n_dropped = 0
    for doc_id, e in expect.items():
        clean = " ".join(p for _, p in sorted(e["kept"]))
        r = got[doc_id]
        assert r.n_paras == e["n"], doc_id
        assert r.n_kept == len(e["kept"]), doc_id
        assert r.clean_md5 == hashlib.md5(clean.encode()).hexdigest(), doc_id
        assert r.clean_chars == len(clean), doc_id
        n_dropped += e["n"] - len(e["kept"])
    # the sf0.001 corpus's 20-word spans are word soup over a ~40-word
    # vocabulary: at least SOME span must repeat across 50 documents
    assert n_dropped > 0


def test_sq8_error_matches_numpy(spark):
    """Differential for embedding_sq8_error at sf0.001: replay the
    per-dimension range quantization in numpy float64; also pin the
    analytic bound max_abs_err <= max(scale)/2."""
    import numpy as np

    from node_gedcom_graph_spark.operators.similarity import (
        embedding_sq8_error,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    lo, hi = M.min(axis=0), M.max(axis=0)
    scale = (hi - lo) / 255.0
    safe = np.where(scale == 0, 1.0, scale)
    code = np.clip(np.floor((M - lo) / safe + 0.5), 0, 255)
    code[:, scale == 0] = 0
    ae = np.abs(M - (lo + code * scale))
    got = {r.vec_id: r for r in embedding_sq8_error(spark, sf).collect()}
    assert set(got) == {r.vec_id for r in rows}
    bound = scale.max() / 2 + 1e-9
    for i, r in enumerate(rows):
        g = got[r.vec_id]
        assert abs(g.max_abs_err - ae[i].max()) < 1e-9, r.vec_id
        assert abs(g.mse - (ae[i] ** 2).mean()) < 1e-9, r.vec_id
        assert g.max_abs_err <= bound


def test_decontaminate_embedding_matches_numpy(spark):
    """Differential for decontaminate_embedding_cosine at sf0.001:
    replay the benchmark split, the best-match argmax (ties on
    bench_id), and the threshold flag in numpy float64."""
    import numpy as np

    from node_gedcom_graph_spark.operators.dedup import (
        DECON_COS_T,
        decontaminate_embedding_cosine,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    nm = np.linalg.norm(M, axis=1)
    bmask = ids % 17 == 0
    assert bmask.any() and (~bmask).any()
    sims = (M[~bmask] @ M[bmask].T) / (nm[~bmask][:, None] * nm[bmask][None, :])
    bids = ids[bmask]
    got = {r.vec_id: r for r in decontaminate_embedding_cosine(spark, sf).collect()}
    assert set(got) == set(ids[~bmask])
    for qi, vid in enumerate(ids[~bmask]):
        # argmax with bench_id tiebreak: stable sort by (-cos, bench_id)
        order = sorted(range(len(bids)), key=lambda j: (-sims[qi, j], bids[j]))
        best = order[0]
        g = got[vid]
        assert g.bench_id == bids[best], vid
        assert abs(g.cosine - sims[qi, best]) < 1e-6, vid
        assert g.contaminated == (g.cosine >= DECON_COS_T), vid


def test_zero_norm_embeddings_are_out_of_contract(spark, tmp_path):
    """r6 advice: a zero-norm vector makes the fold plan (NaN, ranked
    first) and the GEMM kernel (guarded 0) silently diverge — the
    kernels must fail LOUDLY instead. Pins the check on the broadcast
    side and the executor-side batch check of cosine_candidate_pairs
    and topk_cosine."""
    import numpy as np
    import pandas as pd
    import pytest

    from node_gedcom_graph_spark.operators.dedup import (
        cosine_candidate_pairs,
        require_nonzero_norms,
    )

    with pytest.raises(ValueError, match="out of contract"):
        require_nonzero_norms(np.array([1.0, 0.0]), "unit")
    require_nonzero_norms(np.array([], dtype=float), "unit")  # empty ok
    require_nonzero_norms(np.array([0.5]), "unit")  # positive ok

    rows = [(0, [0.0] * 64), (1, [1.0] + [0.0] * 63), (2, [0.5] * 64)]
    pd.DataFrame(rows, columns=["vec_id", "embedding"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    with pytest.raises(Exception, match="zero-norm"):
        cosine_candidate_pairs(emb, threshold=0.45).collect()
    with pytest.raises(ValueError, match="zero-norm"):
        topk_cosine(emb, emb.filter(F.col("vec_id") == 0), k=1)
    with pytest.raises(Exception, match="zero-norm"):
        topk_cosine(emb, emb.filter(F.col("vec_id") > 0), k=1).collect()


# Exact top-10 of the first five vectors by DuckDB's float32 dot product.
TOPK_ORACLE = """
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(CAST(list_dot_product(embedding, embedding) AS DOUBLE)) AS nm
  FROM read_parquet('{path}')
), q AS (
  SELECT * FROM n WHERE vec_id < 5
), scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(list_dot_product(q.embedding, n.embedding) AS DOUBLE)
           / (q.nm * n.nm) AS cosine
  FROM q JOIN n ON n.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) WHERE rnk <= 10
"""


def test_topk_cosine_matches_duckdb_oracle(spark):
    """topk_cosine on the sf0.01 embeddings returns the oracle's rows,
    with cosines equal to 6 dp."""
    path = f"{SF01_DIR}/embeddings.parquet"
    emb = spark.read.parquet(path)
    df = topk_cosine(emb, emb.filter(F.col("vec_id") < 5), k=10)
    assert df.columns == ["query_id", "neighbor_id", "cosine", "rnk"]

    def norm(rows):
        return sorted((q, n, f"{round(c, 6):.6f}", r) for q, n, c, r in rows)

    want = duckdb.sql(TOPK_ORACLE.format(path=path)).fetchall()
    assert len(want) == 50
    assert norm(tuple(r) for r in df.collect()) == norm(want)


def test_topk_cosine_empty_query_panel(spark):
    """An empty query panel returns no rows and keeps the output columns."""
    emb = spark.read.parquet(f"{SF01_DIR}/embeddings.parquet")
    df = topk_cosine(emb, emb.filter(F.lit(False)), k=10)
    assert df.columns == ["query_id", "neighbor_id", "cosine", "rnk"]
    assert df.collect() == []


def test_dedup_embedding_cosine_collapse_branch_matches_bruteforce(
    spark, tmp_path
):
    """r7 dup-gate: the hash-certified probe must route a corpus WITH
    exact-dup vectors down the collapse path and still produce exactly
    the brute-force member-level pair set (the dup-free fast path is
    oracle-gated at sf0.01/sf0.1, where the fixtures have no dups)."""
    import itertools

    import numpy as np
    import pandas as pd

    from node_gedcom_graph_spark.operators import all_queries

    rng = np.random.RandomState(3)
    base = rng.randn(6, 64).astype(np.float32)
    rows = []
    vid = 0
    for g, copies in enumerate([3, 1, 2, 1, 4, 1]):  # several dup groups
        for _ in range(copies):
            rows.append((vid, [float(x) for x in base[g]]))
            vid += 1
    # The real tables store array<float>; pandas would write
    # array<double> and break the f32 fold's typing.
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
            }
        ),
        tmp_path / "embeddings.parquet",
    )

    def cos32(a, b):
        # sequential f32 fold, like dot_f32
        acc = np.float32(0.0)
        for x, y in zip(a, b):
            acc = np.float32(acc + np.float32(x) * np.float32(y))
        return float(acc)

    vecs = {r[0]: np.asarray(r[1], dtype=np.float32) for r in rows}
    expect = set()
    for i, j in itertools.combinations(sorted(vecs), 2):
        d = cos32(vecs[i], vecs[j])
        c = d / (
            np.sqrt(cos32(vecs[i], vecs[i])) * np.sqrt(cos32(vecs[j], vecs[j]))
        )
        if c >= 0.45:
            expect.add((i, j))
    got = {
        (r.id_a, r.id_b)
        for r in all_queries()["dedup_embedding_cosine"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == expect
    # within-group pairs (cosine 1.0) must be present — proves the
    # collapse branch actually ran its expansion tiers.
    assert (0, 1) in got and (0, 2) in got


def test_substring_spans_controlled(spark):
    """Hand-computed ExactSubstr spans on a controlled corpus: two docs
    share one 60-char block at different offsets; a third is unique."""
    from node_gedcom_graph_spark.operators.dedup import substring_dup_spans

    w = 40
    block = "B" * 26 + "0123456789" + "b" * 24  # 60 distinct-ish chars
    assert len(block) == 60
    import random

    rng = random.Random(7)
    uniq = lambda n: "".join(rng.choice("acegikmoqsuwy") for _ in range(n))
    pre1, post1 = uniq(30), uniq(25)
    pre2 = uniq(50)
    docs = spark.createDataFrame(
        [
            (1, pre1 + block + post1),
            (2, pre2 + block),
            (3, uniq(120)),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in substring_dup_spans(docs, w).collect()
    )
    # Every w-window fully inside the shared 60-char block is duplicated;
    # the maximal island is exactly the block: doc1 chars 31..90 (1-based
    # after a 30-char prefix), doc2 chars 51..110.
    assert got == [(1, 31, 90, 60), (2, 51, 110, 60)]


def test_substring_spans_matches_pure_python(spark):
    """Differential for dedup_substring_spans at sf0.001: replay the
    sliding-window dup detection and island merge in pure Python."""
    from node_gedcom_graph_spark.operators.dedup import (
        SUBSTR_W,
        dedup_substring_spans,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").collect()
    from collections import Counter

    counts = Counter()
    perdoc = {}
    for r in rows:
        t = r.text or ""
        grams = [t[i : i + SUBSTR_W] for i in range(len(t) - SUBSTR_W + 1)]
        perdoc[r.doc_id] = grams
        counts.update(grams)
    expect = set()
    for doc_id, grams in perdoc.items():
        dup_ps = [i + 1 for i, g in enumerate(grams) if counts[g] >= 2]
        run = []
        # union of [p, p+W-1] char intervals: positions p, q share a
        # span iff q - p <= W (overlapping or touching intervals)
        for p in dup_ps + [None]:
            if run and (p is None or p - run[-1] > SUBSTR_W):
                expect.add(
                    (doc_id, run[0], run[-1] + SUBSTR_W - 1,
                     run[-1] - run[0] + SUBSTR_W)
                )
                run = []
            if p is not None:
                run.append(p)
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_len)
        for r in dedup_substring_spans(spark, sf).collect()
    }
    assert got == expect
    assert expect, "sf0.001 word-soup corpus must contain dup windows"
    # spans are disjoint and non-adjacent within a doc, so their
    # lengths sum to the exact duplicated-char count
    from collections import defaultdict

    bydoc = defaultdict(list)
    for d, s, e, ln in got:
        assert ln == e - s + 1
        bydoc[d].append((s, e))
    for spans in bydoc.values():
        spans.sort()
        for (_, e1), (s2, _) in zip(spans, spans[1:]):
            assert s2 > e1 + 1


def test_substring_clean_matches_pure_python(spark):
    """Differential for dedup_substring_clean at sf0.001: cut every
    duplicated span from every document in pure Python and compare the
    reconstruction digests."""
    import hashlib

    from node_gedcom_graph_spark.operators.dedup import (
        SUBSTR_W,
        dedup_substring_clean,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/documents.parquet").collect()
    from collections import Counter

    counts = Counter()
    perdoc = {}
    for r in rows:
        t = r.text or ""
        grams = [t[i : i + SUBSTR_W] for i in range(len(t) - SUBSTR_W + 1)]
        perdoc[r.doc_id] = (t, grams)
        counts.update(grams)
    expect = {}
    for doc_id, (t, grams) in perdoc.items():
        dup_chars = [False] * len(t)
        for i, g in enumerate(grams):
            if counts[g] >= 2:
                for c in range(i, i + SUBSTR_W):
                    dup_chars[c] = True
        clean = "".join(ch for ch, d in zip(t, dup_chars) if not d)
        n_spans = sum(
            1
            for i, d in enumerate(dup_chars)
            if d and (i == 0 or not dup_chars[i - 1])
        )
        expect[doc_id] = (
            n_spans,
            sum(dup_chars),
            hashlib.md5(clean.encode()).hexdigest(),
            len(clean),
        )
    got = {
        r.doc_id: (r.n_spans, r.dup_chars, r.clean_md5, r.clean_chars)
        for r in dedup_substring_clean(spark, sf).collect()
    }
    assert got == expect
    assert any(v[0] > 0 for v in expect.values())


def test_semdedup_collapse_matches_bruteforce(spark, tmp_path):
    """The r7 duplicate-collapse rewrite of semdedup_cluster_prune must
    reproduce the UNBOUNDED oracle semantics on a duplicate-heavy
    controlled corpus: brute-force replay in numpy float64 (cosines in
    the fixture sit far from the 0.45 bar, so fold-order effects can't
    flip membership), duplicates present in several groups so the
    member-verdict arithmetic (b pruned iff b_id > m(g_b)) is really
    exercised."""
    import hashlib

    import numpy as np

    from node_gedcom_graph_spark.operators.similarity import (
        SEMDEDUP_COSINE_T,
        semdedup_cluster_prune,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=(8, 6)).astype(np.float32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    vid = 0
    for bi in range(8):
        # one exact-dup group of size 3, one near vector, per base dir
        for _ in range(3):
            rows.append((vid, [float(x) for x in base[bi]])); vid += 1
        near = base[bi] + 0.1 * base[(bi + 1) % 8]
        near = (near / np.linalg.norm(near)).astype(np.float32)
        rows.append((vid, [float(x) for x in near])); vid += 1
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int",
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")

    # pure-Python replay of the oracle semantics (float64 cosines)
    ids = [i for i, _ in rows]
    V = {i: np.asarray(v, dtype=np.float64) for i, v in rows}
    cents = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:16]
    cos = lambda a, b: float(V[a] @ V[b] / (np.linalg.norm(V[a]) * np.linalg.norm(V[b])))  # noqa: E731
    assign = {
        i: max(cents, key=lambda c: (cos(i, c), -c)) for i in ids
    }
    pruned = {
        b
        for b in ids
        for a in ids
        if a < b and assign[a] == assign[b] and cos(a, b) >= SEMDEDUP_COSINE_T
    }
    got = {
        r.vec_id: (r.cid, r.pruned)
        for r in semdedup_cluster_prune.__wrapped__(spark, sf).collect()
    }
    assert set(got) == set(ids)
    for i in ids:
        assert got[i] == (assign[i], int(i in pruned)), i
    # the fixture must actually exercise the dup path's arithmetic
    assert any(i in pruned for i in ids) and any(i not in pruned for i in ids)


def test_substring_spans_randomized_small_alphabet(spark):
    """Randomized differential: 2-letter-alphabet corpora force dense
    window collisions, island merges at every tolerance, doc-shorter-
    than-W edges, and empty docs; replay in pure Python at w=8."""
    import random

    from node_gedcom_graph_spark.operators.dedup import substring_dup_spans

    w = 8
    rng = random.Random(123)
    for trial in range(4):
        docs = [
            (i, "".join(rng.choice("ab") for _ in range(rng.choice([0, 3, w - 1, w, 25, 60, 120]))))
            for i in range(rng.randint(2, 7))
        ]
        from collections import Counter

        counts = Counter()
        grams = {}
        for i, t in docs:
            g = [t[j : j + w] for j in range(len(t) - w + 1)]
            grams[i] = g
            counts.update(g)
        expect = set()
        for i, g in grams.items():
            run = []
            for p in [j + 1 for j, x in enumerate(g) if counts[x] >= 2] + [None]:
                if run and (p is None or p - run[-1] > w):
                    expect.add((i, run[0], run[-1] + w - 1, run[-1] - run[0] + w))
                    run = []
                if p is not None:
                    run.append(p)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_len)
            for r in substring_dup_spans(df, w).collect()
        }
        assert got == expect, f"trial {trial}: {sorted(got) and sorted(expect)}"


# ASCII plus every code point whose lowercase is special for an ASCII
# match: İ (lowercases to i + U+0307), dotless ı, the combining dot
# itself, the Kelvin and Angstrom signs, ß and ẞ, the three sigmas
# (final-sigma context), the ﬀ ligature, a supplementary-plane capital,
# NBSP and NUL.
FOLD_ALPHABET = (
    string.ascii_letters
    + string.digits
    + string.punctuation
    + " \t\n\r\x0b\x0c"
    + "\u0130\u0131\u0307\u212a\u212b\u00df\u1e9e"
    + "\u03a3\u03c3\u03c2\ufb00\U00010400\u00a0\x00"
)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(alphabet=FOLD_ALPHABET, max_size=24), max_size=12))
def test_ascii_fold_helpers_match_icu_lower(spark, texts):
    """tokens(), normalize_text() and punct_chars() fold case without
    ICU; each equals the same expression built on Spark's lower()."""
    rows = [(i, t) for i, t in enumerate(texts + ["", None])]
    df = spark.createDataFrame(rows, "i int, text string")
    low = F.lower("text")
    got = df.select(
        "i",
        tokens(F.col("text")).alias("tok"),
        F.regexp_extract_all(low, F.lit("[a-z0-9]+"), 0).alias("tok_x"),
        normalize_text(F.col("text")).alias("norm"),
        F.trim(F.regexp_replace(low, "[^a-z0-9]+", " ")).alias("norm_x"),
        punct_chars(F.col("text")).alias("punct"),
        F.length(F.regexp_replace(low, r"[a-z0-9\s]", "")).alias("punct_x"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert (r.tok, r.norm, r.punct) == (r.tok_x, r.norm_x, r.punct_x), rows[r.i]


def test_text_helpers_and_minhash_plans_hold_no_case_mapping(spark, tmp_path):
    """The tokenizer, the normalizer and a MinHash pass plan no ICU case
    mapping: the first lower() in a JVM stalls every task of its stage
    for about 3 s while ICU builds its tables."""
    path = str(tmp_path / "docs")
    rows = [(1, BASE), (2, BASE.upper()), (3, NEAR), (4, FAR)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)
    for df in (
        minhash_lsh_pairs(docs),
        docs.select(tokens(F.col("text"))),
        docs.select(normalize_text(F.col("text"))),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for fn in ("lower(", "upper(", "initcap("):
            assert fn not in plan, plan
