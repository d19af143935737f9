"""The two workloads: seeded inputs, the timed operations, the check of
every operation's output against the generator's ground truth, and the
traced form of each operation with a span per layer.

Every call into the system goes through the package's public functions;
the benchmark changes no package code.
"""

from __future__ import annotations

import ast
import contextlib
import glob
import io
import os
import random
import shutil
import statistics
import tempfile
from dataclasses import dataclass, replace
from typing import Callable, Iterator

import numpy as np

import gen

# Input sizes. The first import on a fresh JVM is mostly fixed cost
# (class loading, code generation, JIT) whatever the file size, so the
# pedigree is sized for one cold import per run rather than for the
# reference's 145 MB.
PEDIGREE_INDIVIDUALS = 3_000  # ~0.6 MB of GEDCOM
QUERY_TREE_INDIVIDUALS = 3_000
WARMUP_INDIVIDUALS = 300
LOOKUPS_PER_KIND = 3  # per query cycle, next to one of each traversal
CORPUS_DOCS = 4_000
EMBEDDINGS = 20_000
# The corpus and the embedding table are each written as several files, as
# such tables arrive; a single small file would be one Spark partition and
# leave all but one core idle.
CORPUS_FILES = 4
QUERY_PANEL = 200
TOP_K = 10
RECALL_FLOOR = 0.95  # below this a dedup pass counts as failed
COSINE_TOL = 1e-5


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    traced: Callable[[object], object]  # run(tracer) with a span per layer


def _quiet(fn: Callable[[], object]) -> tuple[object, str]:
    """Call ``fn`` with Python-level stdout/stderr captured; returns the
    result and the captured stderr."""
    err = io.StringIO()
    with contextlib.redirect_stdout(io.StringIO()), contextlib.redirect_stderr(err):
        res = fn()
    return res, err.getvalue()


def _write_parquet(path: str, columns: dict, parts: int = 1) -> None:
    """One parquet file at ``path``, or with ``parts`` > 1 a directory of
    that many files of consecutive rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(columns)
    if parts == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def _plan_nodes(jplan) -> Iterator[object]:
    """Every node of an executed physical plan, looking through adaptive
    and query-stage wrappers."""
    todo = [jplan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        yield node
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))


def _metric(node, name: str) -> int | None:
    m = node.metrics().get(name)
    return int(m.get().value()) if m.isDefined() else None


# ------------------------------------------------------------- import


class GedcomImport:
    """GEDCOM file -> published Neo4j CSVs through the CLI's own call
    sequence, run in-process on the benchmark's session.

    The CLI imports one file per process, so a run times exactly one
    import: a second one on the same session would be warm."""

    name = "gedcom_import"
    kinds = ("import",)
    cycle = {"import": 1}

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark, self.work, self.seed = spark, work, seed
        self.n = max(50, int(PEDIGREE_INDIVIDUALS * scale))
        self.ged = os.path.join(work, "tree.ged")
        self.dest = os.path.join(work, "published")
        self.extra: dict[str, list[float]] = {}

    def generate(self) -> None:
        self.tree = gen.pedigree(self.seed, self.n)
        self.data = self.tree.text.encode()

    def prepare(self) -> None:
        with open(self.ged, "wb") as fh:
            fh.write(self.data)
        self.expected = _expected_outputs(self.tree.truth)

    def warm_up(self) -> None:
        tiny = gen.pedigree(self.seed, min(WARMUP_INDIVIDUALS, self.n))
        path = os.path.join(self.work, "warmup.ged")
        with open(path, "w") as fh:
            fh.write(tiny.text)
        dest = os.path.join(self.work, "warmup-published")
        rc, err = _quiet(lambda: _cli(["--src", path, "--dest", dest]))
        ok = rc == 0 and _published(dest) == _expected_outputs(tiny.truth) \
            and _audits_from_stderr(err) == _expected_audits(tiny.truth)
        shutil.rmtree(dest, ignore_errors=True)
        self._clean()
        if not ok:
            raise RuntimeError("warm-up import produced wrong outputs")

    def ops(self) -> Iterator[Op]:
        yield Op("import", self._run, self._check, self._traced)

    def _run(self):
        return _quiet(lambda: _cli(["--src", self.ged, "--dest", self.dest]))

    def _check(self, res) -> bool:
        rc, err = res
        try:
            return (rc == 0 and _published(self.dest) == self.expected
                    and _audits_from_stderr(err) == _expected_audits(self.tree.truth))
        finally:
            self._clean()

    def _clean(self) -> None:
        """Drop the publish backup and any staging directory, so disk use
        and write time do not grow from one import to the next."""
        for d in glob.glob(os.path.join(self.work, "*.bak-*")) + glob.glob(
                os.path.join(self.work, "ged2neo-csvs-*")):
            shutil.rmtree(d, ignore_errors=True)

    def _traced(self, tr):
        from node_gedcom_graph_spark.gedcom.extract import extract_graph
        from node_gedcom_graph_spark.gedcom.parser import (
            assign_records, read_gedcom_lines)
        from node_gedcom_graph_spark.publish.neo4j_csv import (
            atomic_publish, export_neo4j_csvs, observed_counts)

        cached = []

        def keep(df):
            cached.append(df.persist())
            df.count()
            return df

        with tr.span("sources", "read_gedcom_lines"):
            lines = keep(read_gedcom_lines(self.spark, self.ged))
        with tr.span("parser", "assign_records"):
            recs = keep(assign_records(lines))
        with tr.span("extract", "extract_graph"):
            g = extract_graph(recs, persist=True)
            g = replace(g, nodes_long=keep(g.nodes_long), edges=keep(g.edges))
            audits = {
                "unused tags": {r[0] for r in g.unused_tags.collect()},
                "missing temple codes": {r[0] for r in g.missing_temple_codes.collect()},
                "skipped records": g.skipped_records.count(),
            }
        with tr.span("publish", "export_neo4j_csvs"):
            staging = tempfile.mkdtemp(prefix="ged2neo-csvs-", dir=self.work)
            export_neo4j_csvs(g, staging)
            observed_counts(g)
            atomic_publish(staging, self.dest)
        files = sum(len(f) for _, _, f in os.walk(self.dest))
        self.extra.setdefault("publish.files_written", []).append(files)
        g.unpersist()
        for df in cached:
            df.unpersist()
        try:
            return (_published(self.dest) == self.expected
                    and audits == _expected_audits(self.tree.truth))
        finally:
            self._clean()

    def summary(self, lat: dict[str, list[float]]) -> dict[str, tuple[float, str]]:
        med = statistics.median(lat["import"])
        return {"import_mb_per_s": (len(self.data) / 1e6 / med, "MB/s"),
                "input_mb": (len(self.data) / 1e6, "MB")}

    def layer_extras(self, layers: dict[str, float]) -> dict[str, float]:
        walls = sum(layers[f"{l}.wall_s"] for l in ("sources", "parser", "extract", "publish"))
        return {
            "extract.plan_s": layers["extract.wall_s"] - layers["extract.job_wall_s"],
            "publish.files_written": _mean(self.extra.get("publish.files_written")),
            "publish.write_amplification": layers["publish.output_bytes"] / len(self.data),
            "publish.wall_share": layers["publish.wall_s"] / walls if walls else 0.0,
        }


def _cli(argv: list[str]) -> int:
    from node_gedcom_graph_spark.__main__ import main

    return main(argv)


def _expected_outputs(truth: dict) -> dict[str, int]:
    out = {f"nodes-{t}": n for t, n in truth["nodes"].items()}
    out.update({f"relationships-{t}": n for t, n in truth["edges"].items() if n})
    return out


def _expected_audits(truth: dict) -> dict[str, object]:
    return {"unused tags": set(truth["unused_tags"]),
            "missing temple codes": set(truth["missing_temple_codes"]),
            "skipped records": truth["skipped_records"]}


def _published(dest: str) -> dict[str, int]:
    """Data rows per published CSV group (header lines excluded; the
    generator writes no value with a line break)."""
    out = {}
    for group in os.listdir(dest):
        rows = 0
        for part in glob.glob(os.path.join(dest, group, "part-*")):
            with open(part, "rb") as fh:
                rows += max(fh.read().count(b"\n") - 1, 0)
        out[group] = rows
    return out


def _audits_from_stderr(err: str) -> dict[str, object]:
    """The CLI's audit lines, e.g. ``unused tags: [('_MILT',)]``."""
    found: dict[str, object] = {"unused tags": set(), "missing temple codes": set(),
                                "skipped records": 0}
    for line in err.splitlines():
        label, _, rest = line.partition(": ")
        if label in found:
            vals = ast.literal_eval(rest)
            found[label] = len(vals) if label == "skipped records" else {v[0] for v in vals}
    return found


# ------------------------------------------------------------ queries


class GenealogyQueries:
    """A tree's edges in parquet; a seeded closed-loop mix of one-hop
    lookups for single people and whole-tree traversals over them.

    The edges are written by the generator: they are the rows
    ``extract_graph`` produces for the tree (the benchmark's tests check
    this), so the write path's speed does not reach this workload."""

    lookups = ("parents_of", "children_of", "spouses", "siblings")
    traversals = ("ancestors", "descendants", "connected_components")
    kinds = lookups + traversals
    cycle = {**{k: LOOKUPS_PER_KIND for k in lookups}, **{k: 1 for k in traversals}}

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark, self.work, self.seed = spark, work, seed
        self.n = max(50, int(QUERY_TREE_INDIVIDUALS * scale))
        self.edges_path = os.path.join(work, "edges.parquet")

    def generate(self) -> None:
        self.tree = gen.pedigree(self.seed, self.n)

    def prepare(self) -> None:
        cols = list(zip(*self.tree.edges))
        _write_parquet(self.edges_path, dict(zip(("src", "dst", "rel_type", "edge_tag"),
                                                 map(list, cols))))
        self.edges = self.spark.read.parquet(self.edges_path)

    def warm_up(self) -> None:
        _run_each_kind_once(self)

    def ops(self) -> Iterator[Op]:
        rng = random.Random(self.seed + 1)
        cycle = [k for k, n in self.cycle.items() for _ in range(n)]
        while True:
            rng.shuffle(cycle)
            for kind in cycle:
                if kind in self.lookups:
                    yield self._lookup(kind, rng.choice(self.tree.ids))
                else:
                    yield self._traversal(kind)

    def _lookup(self, kind: str, pid: str) -> Op:
        from pyspark.sql import functions as F

        from node_gedcom_graph_spark.graph import queries as q

        cols = {"parents_of": ("child",), "children_of": ("parent",),
                "spouses": ("husband", "wife"), "siblings": ("person_a", "person_b")}[kind]
        want = self.tree.truth["people"][pid][kind]

        def query(edges):
            cond = F.lit(False)
            for c in cols:
                cond = cond | (F.col(c) == pid)
            return len(getattr(q, kind)(edges).filter(cond).collect())

        def traced(tr):
            edges = self._traced_source(tr)
            with tr.span("graph", kind):
                return query(edges) == want

        return Op(kind, lambda: query(self.edges), lambda n: n == want, traced)

    def _traversal(self, kind: str) -> Op:
        from pyspark.sql import functions as F

        from node_gedcom_graph_spark.graph import queries as q

        truth = self.tree.truth
        if kind == "connected_components":
            want = (truth["component_nodes"], truth["components"])

            def query(edges):
                row = q.connected_components(edges).agg(
                    F.count(F.lit(1)), F.countDistinct("component")).first()
                return (row[0], row[1])
        else:
            want = truth["ancestor_pairs_by_depth"]

            def query(edges):
                res = getattr(q, kind)(edges, max_depth=gen.TRAVERSAL_DEPTH)
                by_depth = dict(res.groupBy("depth").count().collect())
                return [by_depth.get(d, 0) for d in range(1, gen.TRAVERSAL_DEPTH + 1)]

        def traced(tr):
            edges = self._traced_source(tr)
            with tr.span("graph", kind):
                return query(edges) == want

        return Op(kind, lambda: query(self.edges), lambda r: r == want, traced)

    def _traced_source(self, tr):
        # The graph queries scan the parquet edges inside their own jobs;
        # this span measures one scan of the same file on its own.
        with tr.span("sources", "read_parquet"):
            edges = self.spark.read.parquet(self.edges_path)
            edges.count()
        return edges

    def summary(self, lat: dict[str, list[float]]) -> dict[str, tuple[float, str]]:
        looks = sorted(x for k in self.lookups for x in lat[k])
        out = {"lookup_p50_ms": (statistics.median(looks) * 1e3, "ms"),
               "lookup_samples": (len(looks), "count")}
        tail = tail_percentile(looks)
        if tail is not None:
            pct, val = tail
            out["lookup_tail_ms"] = (val * 1e3, "ms")
            out["lookup_tail_pct"] = (pct, "percentile")
        out["traversal_s"] = (sum(statistics.median(lat[k]) for k in self.traversals), "s")
        return out

    def layer_extras(self, layers: dict[str, float]) -> dict[str, float]:
        return {}


def tail_percentile(sorted_vals: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest of a fixed ladder of percentiles that has
    at least ten samples above it; None with fewer than twenty samples."""
    n = len(sorted_vals)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p, sorted_vals[min(n - 1, int(np.ceil(n * p / 100)) - 1)]
    return None


# -------------------------------------------------------------- dedup


class CorpusDedup:
    """MinHash-LSH near-duplicate pairs over a corpus with planted
    near-duplicates, alternating with exact top-k cosine for a query
    panel over an embedding table."""

    kinds = ("minhash_lsh_pairs", "topk_cosine")
    cycle = {k: 1 for k in kinds}

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_docs = max(200, int(CORPUS_DOCS * scale))
        self.n_vec = max(500, int(EMBEDDINGS * scale))
        self.n_q = max(10, int(QUERY_PANEL * scale))
        self.paths = {k: os.path.join(work, f"{k}.parquet")
                      for k in ("docs", "emb", "queries")}
        self.extra: dict[str, list[float]] = {}
        self.recalls: list[float] = []

    def generate(self) -> None:
        self.corpus = gen.corpus(self.seed, self.n_docs)
        self.emb = gen.embeddings(self.seed, self.n_vec, self.n_q, k=TOP_K)

    def prepare(self) -> None:
        import pyarrow as pa

        c, e = self.corpus, self.emb
        self.text = dict(zip(c.doc_ids, c.texts))
        _write_parquet(self.paths["docs"], {"doc_id": pa.array(c.doc_ids, pa.int64()),
                                            "text": c.texts}, CORPUS_FILES)
        vec_type = pa.list_(pa.float32())
        _write_parquet(self.paths["emb"], {
            "vec_id": pa.array(np.arange(self.n_vec), pa.int64()),
            "embedding": pa.array(list(e.vectors), vec_type)}, CORPUS_FILES)
        _write_parquet(self.paths["queries"], {
            "vec_id": pa.array(e.query_ids, pa.int64()),
            "embedding": pa.array(list(e.vectors[e.query_ids]), vec_type)})
        unit = e.vectors.astype(np.float64)
        self.unit = unit / np.linalg.norm(unit, axis=1, keepdims=True)
        self.frames = self._read()

    def _read(self) -> dict:
        return {k: self.spark.read.parquet(p) for k, p in self.paths.items()}

    def warm_up(self) -> None:
        _run_each_kind_once(self)
        self.recalls.clear()

    def ops(self) -> Iterator[Op]:
        while True:
            yield Op("minhash_lsh_pairs", self._dedup, self._check_dedup,
                     self._traced_dedup)
            yield Op("topk_cosine", self._knn, self._check_knn, self._traced_knn)

    def _dedup(self, frames=None):
        from node_gedcom_graph_spark.operators.dedup import minhash_lsh_pairs

        df = minhash_lsh_pairs((frames or self.frames)["docs"])
        return df, df.collect()

    def _check_dedup(self, res) -> bool:
        _, rows = res
        found = {(min(a, b), max(a, b)) for a, b, _ in rows}
        recall = len(found & self.corpus.planted) / len(self.corpus.planted)
        self.recalls.append(recall)
        exact = all(
            abs(gen.shingle_jaccard(self.text[a], self.text[b]) - j) < 1e-9 and j >= 0.35
            for a, b, j in rows)
        return exact and recall >= RECALL_FLOOR

    def _knn(self, frames=None):
        from node_gedcom_graph_spark.operators.similarity import topk_cosine

        f = frames or self.frames
        df = topk_cosine(f["emb"], f["queries"], k=TOP_K)
        return df, df.collect()

    def _check_knn(self, res) -> bool:
        _, rows = res
        got: dict[int, list[tuple[int, float]]] = {}
        for qid, nid, cos, _ in rows:
            got.setdefault(qid, []).append((nid, cos))
        e = self.emb
        for i, qid in enumerate(e.query_ids.tolist()):
            hits = got.get(qid, [])
            if len(hits) != TOP_K:
                return False
            for nid, cos in hits:
                if nid == qid or abs(float(self.unit[qid] @ self.unit[nid]) - cos) > COSINE_TOL:
                    return False
            # Same neighbours as numpy's exact top-k, up to near-ties at the k-th.
            if min(c for _, c in hits) < e.topk_cos[i, -1] - COSINE_TOL:
                return False
        return True

    def _traced_sources(self, tr) -> dict:
        with tr.span("sources", "read_parquet"):
            frames = self._read()
            for df in frames.values():
                df.count()
        return frames

    def _traced_dedup(self, tr):
        frames = self._traced_sources(tr)
        with tr.span("dedup", "minhash_lsh_pairs"):
            res = self._dedup(frames)
        # Candidates are the rows of the (doc_a, doc_b) de-duplicating
        # aggregate; its final half is the one with the fewest rows.
        cand = min((_metric(node, "numOutputRows") or 0 for node in
                    _plan_nodes(res[0]._jdf.queryExecution().executedPlan())
                    if node.nodeName() == "HashAggregate"
                    and node.toString().startswith("HashAggregate(keys=[doc_a#")),
                   default=0)
        if cand:
            self.extra.setdefault("dedup.candidate_pairs", []).append(cand)
            self.extra.setdefault("dedup.candidate_precision", []).append(len(res[1]) / cand)
        return self._check_dedup(res)

    def _traced_knn(self, tr):
        frames = self._traced_sources(tr)
        with tr.span("similarity", "topk_cosine"):
            res = self._knn(frames)
        for node in _plan_nodes(res[0]._jdf.queryExecution().executedPlan()):
            if node.nodeName() == "MapInPandas":
                self.extra.setdefault("similarity.pairs_scored", []).append(
                    _metric(node, "pythonNumRowsReceived"))
        return self._check_knn(res)

    def summary(self, lat: dict[str, list[float]]) -> dict[str, tuple[float, str]]:
        return {
            "dedup_docs_per_s": (self.n_docs / statistics.median(lat["minhash_lsh_pairs"]),
                                 "docs/s"),
            "dedup_recall": (statistics.median(self.recalls), "ratio"),
            "knn_queries_per_s": (self.n_q / statistics.median(lat["topk_cosine"]),
                                  "queries/s"),
        }

    def layer_extras(self, layers: dict[str, float]) -> dict[str, float]:
        return {k: _mean(self.extra.get(k)) for k in
                ("dedup.candidate_pairs", "dedup.candidate_precision",
                 "similarity.pairs_scored")}


# ---------------------------------------------------------- read path


class ReadPath:
    """Genealogy queries and the LLM-pipeline operators on one session:
    each cycle is one query cycle, then one MinHash pass and one top-k
    batch.

    No file is written, so the write path's speed does not reach this
    workload, and a read-side change cannot hide a write regression."""

    name = "read_path"

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.parts = (GenealogyQueries(spark, work, seed, scale),
                      CorpusDedup(spark, work, seed, scale))
        self.kinds = tuple(k for p in self.parts for k in p.kinds)
        self.cycle = {k: n for p in self.parts for k, n in p.cycle.items()}

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def warm_up(self) -> None:
        for p in self.parts:
            p.warm_up()

    def ops(self) -> Iterator[Op]:
        streams = [(p.ops(), sum(p.cycle.values())) for p in self.parts]
        while True:
            for ops, n in streams:
                for _ in range(n):
                    yield next(ops)

    def summary(self, lat: dict[str, list[float]]) -> dict[str, tuple[float, str]]:
        return {k: v for p in self.parts for k, v in p.summary(lat).items()}

    def layer_extras(self, layers: dict[str, float]) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layer_extras(layers).items()}


def _run_each_kind_once(wl) -> None:
    todo = set(wl.kinds)
    for op in wl.ops():
        if op.kind not in todo:
            continue
        if not op.check(op.run()):
            raise RuntimeError(f"warm-up {op.kind} returned a wrong result")
        todo.discard(op.kind)
        if not todo:
            return


def _mean(vals) -> float:
    return float(statistics.fmean(vals)) if vals else 0.0


WORKLOADS = {w.name: w for w in (GedcomImport, ReadPath)}
