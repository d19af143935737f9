"""Semantic pins for the llmprep4 surface: boilerplate removal's
all-occurrence semantics (pure-Python differential), DSIR's defining
target-affinity property, incremental-snapshot dedup vs a brute-force
membership check, and the quality classifier's exact integer dot
product."""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from node_gedcom_graph_spark.operators.llmprep4 import (
    BOILER_MIN_DOCS,
    MINHASH_INC_J,
    PARA_WORDS,
    QCLS_BUCKETS,
    QCLS_WEIGHT_MOD,
    QCLS_WEIGHT_SHIFT,
    _build_bloom,
    boilerplate_span_removal,
    decontaminate_ngram_bloom,
    dedup_incremental_snapshot,
    dedup_minhash_incremental,
    dsir_importance_weights,
    quality_classifier_logit,
)
from tests.conftest import SF_DIR


def _docs() -> list[tuple[int, str, str]]:
    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    return list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("source").to_pylist(),
            t.column("text").to_pylist(),
        )
    )


def _spans(text: str) -> list[str]:
    w = text.split(" ")
    return [
        " ".join(w[s : s + PARA_WORDS])
        for s in range(0, max(len(w), 1), PARA_WORDS)
    ]


def test_boilerplate_removes_every_occurrence(spark):
    # Pure-Python differential: a span in >= BOILER_MIN_DOCS distinct
    # docs disappears from ALL of them (unlike first-occurrence dedup).
    docs = _docs()
    span_docs: dict[str, set[int]] = defaultdict(set)
    for doc_id, _, text in docs:
        if text:
            for p in _spans(text):
                span_docs[p].add(doc_id)
    boiler = {p for p, ds in span_docs.items() if len(ds) >= BOILER_MIN_DOCS}
    expected = {}
    for doc_id, _, text in docs:
        if not text:
            continue
        spans = _spans(text)
        kept = [p for p in spans if p not in boiler]
        clean = " ".join(kept)
        expected[doc_id] = (
            len(spans),
            len(spans) - len(kept),
            hashlib.md5(clean.encode()).hexdigest(),
        )
    rows = boilerplate_span_removal(spark, SF_DIR).collect()
    assert len(rows) == len(expected)
    for r in rows:
        n_spans, n_boiler, clean_md5 = expected[r.doc_id]
        assert (r.n_spans, r.n_boiler, r.clean_md5) == (
            n_spans,
            n_boiler,
            clean_md5,
        )
    # the fixture must exercise the rule (duplicate docs share spans)
    assert any(r.n_boiler > 0 for r in rows) or not boiler


def test_dsir_prefers_target_source(spark):
    # The defining DSIR property: documents FROM the target domain
    # score a higher mean importance weight than the corpus at large
    # (their features are, by construction, likelier under the target
    # model).
    rows = dsir_importance_weights(spark, SF_DIR).collect()
    assert rows
    tgt = [r.avg_logratio for r in rows if r.source == "src0"]
    rest = [r.avg_logratio for r in rows if r.source != "src0"]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_incremental_snapshot_matches_bruteforce(spark):
    docs = _docs()
    old_fp: dict[str, int] = {}
    for doc_id, _, text in docs:
        if doc_id % 10 < 8:
            fp = hashlib.md5(text.encode()).hexdigest()
            old_fp[fp] = min(old_fp.get(fp, doc_id), doc_id)
    rows = dedup_incremental_snapshot(spark, SF_DIR).collect()
    new_ids = {d for d, _, _ in docs if d % 10 >= 8}
    assert {r.doc_id for r in rows} == new_ids
    by_id = {d: t for d, _, t in docs}
    for r in rows:
        fp = hashlib.md5(by_id[r.doc_id].encode()).hexdigest()
        if fp in old_fp:
            assert r.is_dup == 1 and r.match_old_id == old_fp[fp]
        else:
            assert r.is_dup == 0 and r.match_old_id is None


def _shingles(text: str) -> set[str]:
    toks = re.findall(r"[a-z0-9]+", text.lower())
    return {
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    } if len(toks) >= 3 else set()


def _md5_minhash_bands(sh: set[str]) -> set[tuple[int, str]]:
    slots = [
        min(
            int(hashlib.md5(f"{s}#{j}".encode()).hexdigest()[:8], 16)
            for s in sh
        )
        for j in range(16)
    ]
    return {
        (b, "_".join(str(slots[b * 4 + r]) for r in range(4)))
        for b in range(4)
    }


def test_minhash_incremental_matches_bruteforce(spark):
    # Full pure-Python replay of the pipeline: md5 minhash bands on
    # both sides, banded new-vs-old candidates, exact trigram-Jaccard
    # confirmation, per-new-doc aggregation.
    docs = _docs()
    sh = {d: _shingles(t) for d, _, t in docs}
    bands = {d: _md5_minhash_bands(s) for d, s in sh.items() if s}
    old = [d for d, _, _ in docs if d % 10 < 8]
    new = [d for d, _, _ in docs if d % 10 >= 8]
    expected = {}
    for nd in new:
        cands = [
            od
            for od in old
            if nd in bands and od in bands and bands[nd] & bands[od]
        ]
        conf = []
        for od in cands:
            i = len(sh[nd] & sh[od])
            if i / (len(sh[nd]) + len(sh[od]) - i) >= MINHASH_INC_J:
                conf.append(od)
        expected[nd] = (
            len(cands),
            len(conf),
            min(conf) if conf else None,
            1 if conf else 0,
        )
    rows = dedup_minhash_incremental(spark, SF_DIR).collect()
    assert {r.doc_id for r in rows} == set(new)
    for r in rows:
        assert (
            r.n_candidates,
            r.n_confirmed,
            r.match_old_id,
            r.is_near_dup,
        ) == expected[r.doc_id]


def test_bloom_has_no_false_negatives_and_bounded_fpp():
    import numpy as np

    rng = np.random.RandomState(7)
    members = rng.randint(-(2**62), 2**62, size=5000, dtype=np.int64)
    bits, m_bits, k = _build_bloom(members, 0.01)

    def might(h: np.ndarray) -> np.ndarray:
        h1 = h.astype(np.int64).view(np.uint64)
        h2 = (h1 * np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1)
        ok = np.ones(len(h1), dtype=bool)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            ok &= (
                bits[(pos >> np.uint64(6)).astype(np.int64)]
                >> (pos & np.uint64(63))
            ) & np.uint64(1) != 0
        return ok

    assert might(members).all()  # no false negatives, ever
    probes = rng.randint(-(2**62), 2**62, size=20000, dtype=np.int64)
    fresh = probes[~np.isin(probes, members)]
    assert might(fresh).mean() < 0.03  # ~fpp, generous 3x margin


def test_bloom_decontaminate_equals_exact_operator(spark):
    from node_gedcom_graph_spark.operators.dedup import (
        decontaminate_ngram_overlap,
    )

    exact = {
        r.doc_id: r.n_hits
        for r in decontaminate_ngram_overlap(spark, SF_DIR).collect()
    }
    bloom = {
        r.doc_id: r.n_hits
        for r in decontaminate_ngram_bloom(spark, SF_DIR).collect()
    }
    assert bloom == exact and exact  # identical, and non-vacuous


def test_matryoshka_recall_bounded_and_lossy(spark):
    from node_gedcom_graph_spark.operators.llmprep4 import (
        ann_matryoshka_trunc_recall,
    )

    rows = ann_matryoshka_trunc_recall(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.hits <= 10
        assert abs(r.recall_at_k - r.hits / 10.0) < 1e-12
    mean = sum(r.recall_at_k for r in rows) / len(rows)
    # truncation to 8/64 dims must lose SOMETHING on the synthetic
    # (unstructured) embeddings, and the eval must not be vacuously 0
    # everywhere either
    assert 0 < mean < 1
    assert any(r.hits > 0 for r in rows)
    assert any(r.hits < 10 for r in rows)


def test_split_leakage_frame_complete_and_consistent(spark):
    from node_gedcom_graph_spark.operators.dedup import dedup_ngram_jaccard
    from node_gedcom_graph_spark.operators.llmprep4 import (
        split_leakage_near_dup,
    )

    rows = split_leakage_near_dup(spark, SF_DIR).collect()
    assert len(rows) == 6  # all unordered split combos, zeros included
    assert {(r.split_a, r.split_b) for r in rows} == {
        ("test", "test"),
        ("test", "train"),
        ("test", "valid"),
        ("train", "train"),
        ("train", "valid"),
        ("valid", "valid"),
    }
    n_pairs_total = sum(r.n_pairs for r in rows)
    assert n_pairs_total == dedup_ngram_jaccard(spark, SF_DIR).count()
    for r in rows:
        assert 0 <= r.n_confirmed <= r.n_pairs


def test_curation_funnel_monotone_and_consistent(spark):
    from node_gedcom_graph_spark.operators.dedup import (
        DECON_BENCH_SOURCE,
        decontaminate_ngram_overlap,
    )
    from node_gedcom_graph_spark.operators.llmprep4 import (
        curation_funnel_report,
    )

    rows = curation_funnel_report(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.source != DECON_BENCH_SOURCE
        assert (
            r.n_candidates
            >= r.n_pass_quality
            >= r.n_pass_classifier
            >= r.n_pass_decontam
            >= r.n_kept
            >= 0
        )
        assert (r.kept_tokens > 0) == (r.n_kept > 0)
    # cross-operator consistency: the classifier stage must agree with
    # quality_classifier_logit's verdicts on the quality survivors,
    # and decontamination with decontaminate_ngram_overlap's flags.
    preds = {
        r.doc_id: r.pred
        for r in quality_classifier_logit(spark, SF_DIR).collect()
    }
    contaminated = {
        r.doc_id for r in decontaminate_ngram_overlap(spark, SF_DIR).collect()
    }
    docs = _docs()
    import re as _re

    expect_classifier = 0
    expect_decontam = 0
    for doc_id, source, text in docs:
        if source == DECON_BENCH_SOURCE or not text:
            continue
        toks = _re.findall(r"[a-z0-9]+", text.lower())
        punct = sum(
            1 for ch in text.lower() if not (ch.isalnum() or ch.isspace())
        ) / len(text)
        q = len(toks) >= 10 and punct <= 0.1
        c = q and preds.get(doc_id) == 1
        d = c and doc_id not in contaminated
        expect_classifier += int(c)
        expect_decontam += int(d)
    assert sum(r.n_pass_classifier for r in rows) == expect_classifier
    assert sum(r.n_pass_decontam for r in rows) == expect_decontam


def _bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % QCLS_BUCKETS


def test_quality_classifier_exact_integer_dot(spark):
    docs = _docs()
    rows = {r.doc_id: r for r in quality_classifier_logit(spark, SF_DIR).collect()}
    checked = 0
    for doc_id, _, text in docs[:10]:
        toks = re.findall(r"[a-z0-9]+", text.lower())
        if not toks:
            continue
        logit = sum(
            _bucket(t) % QCLS_WEIGHT_MOD - QCLS_WEIGHT_SHIFT for t in toks
        )
        r = rows[doc_id]
        assert r.n_tokens == len(toks)
        assert r.logit_sum == logit
        assert r.pred == (1 if logit / len(toks) > 0 else 0)
        checked += 1
    assert checked >= 5
    counts = Counter(r.pred for r in rows.values())
    assert set(counts) == {0, 1}  # both classes present in the fixture
