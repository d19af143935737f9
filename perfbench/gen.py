"""Seeded input generators. Each returns its input together with the ground
truth the benchmark checks the package's outputs against.

Everything here is pure Python/numpy and depends only on the seed and the
size arguments: the same arguments give the same bytes.
"""

from __future__ import annotations

import itertools
import random
from collections import deque
from dataclasses import dataclass

import numpy as np

MONTHS = ("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
          "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")
GIVEN = {
    "M": ("John", "William", "James", "George", "Charles", "Thomas", "Henry",
          "Joseph", "Samuel", "David", "Peter", "Walter", "Arthur", "Frank"),
    "F": ("Mary", "Anna", "Elizabeth", "Margaret", "Sarah", "Emma", "Alice",
          "Clara", "Ruth", "Helen", "Martha", "Edith", "Grace", "Rose"),
}
SURNAMES = ("Smith", "Jones", "Brown", "Taylor", "Wilson", "Evans", "Walker",
            "Wright", "Hughes", "Green", "Hall", "Wood", "Clarke", "Lewis",
            "Harris", "Young", "King", "Baker", "Hill", "Moore")
PLACES = ("Boston", "Leeds", "Ogden Utah", "Cardiff", "Dublin", "York",
          "Bristol", "Provo Utah", "Aberdeen", "Hamburg")
EVENT_TYPES = ("Graduation", "Military Service", "Emigration", "Census")
OCCUPATIONS = ("Farmer", "Miner", "Clerk", "Teacher", "Smith", "Weaver")
# Temple codes present in, and absent from, the package's TEMP dictionary.
TEMPLES_HIT = ("SLAKE", "LOGAN", "MANTI", "SGEOR", "PROVO", "OGDEN", "ARIZO")
TEMPLES_MISS = ("ZZQ01", "ZZQ02", "ZZQ03", "ZZQ04", "ZZQ05")
# Vendor tags with no dictionary entry: the extractor drops their subtree
# and reports them in the unused-tag audit set.
UNKNOWN_LEAF = "_MILT"
UNKNOWN_SUBTREE = "_WEIRD"
UNKNOWN_RECORD = "_EVDEF"  # unknown top-level tag: whole record skipped

GENERATIONS = 6  # deep enough for ancestors(max_depth=4) to saturate
TRAVERSAL_DEPTH = 4
# Relationship type the extractor gives each pointer tag (its dictionary's
# friendly name), as in the edges frame (src, dst, rel_type, edge_tag).
REL_TYPES = {"FAMC": "Child in Family", "FAMS": "Spouse in Family",
             "HUSB": "Husband", "WIFE": "Wife", "CHIL": "Child", "SOUR": "Source"}


@dataclass
class Pedigree:
    text: str
    truth: dict
    ids: list[str]  # individual ids, file order
    edges: list[tuple[str, str, str, str]]  # (src, dst, rel_type, edge_tag)


def _date(rng: random.Random, year: int) -> str:
    return f"{rng.randint(1, 28)} {rng.choice(MONTHS)} {year}"


def pedigree(seed: int, n_individuals: int) -> Pedigree:
    """A GEDCOM file of independent multi-generation lineages.

    Each lineage starts from a founder couple; every child marries an
    outsider (who has no parents in the file) with some probability and
    founds the next generation's family. Records cite shared sources from
    nested BIRT/DEAT/MARR events, carry EVEN/TYPE events, LDS ordinances
    with temple codes that hit and miss the dictionary, and vendor tags
    the dictionary does not know.
    """
    rng = random.Random(seed)
    n_sources = max(4, n_individuals // 200)
    sex: list[str] = []
    famc: list[int | None] = []
    fams: list[list[int]] = []
    born: list[int] = []
    fam_husb: list[int | None] = []
    fam_wife: list[int | None] = []
    fam_kids: list[list[int]] = []

    def person(s: str, year: int, parent_fam: int | None = None) -> int:
        sex.append(s)
        famc.append(parent_fam)
        fams.append([])
        born.append(year)
        if parent_fam is not None:
            fam_kids[parent_fam].append(len(sex) - 1)
        return len(sex) - 1

    def family(a: int, b: int | None) -> int:
        f = len(fam_kids)
        husb, wife = (a, b) if sex[a] == "M" else (b, a)
        fam_husb.append(husb)
        fam_wife.append(wife)
        fam_kids.append([])
        for p in (husb, wife):
            if p is not None:
                fams[p].append(f)
        return f

    while len(sex) + 2 <= n_individuals:
        year = rng.randint(1700, 1750)
        f0 = family(person("M", year), person("F", year + rng.randint(-3, 3)))
        todo = deque([(f0, 1)])
        while todo and len(sex) < n_individuals:
            f, gen = todo.popleft()
            parent_year = born[fam_husb[f] if fam_husb[f] is not None else fam_wife[f]]
            for _ in range(rng.choice((1, 2, 2, 3, 3, 4))):
                if len(sex) >= n_individuals:
                    break
                kid = person(rng.choice("MF"), parent_year + rng.randint(20, 40), f)
                if gen + 1 >= GENERATIONS or rng.random() >= 0.75:
                    continue
                if rng.random() < 0.05 or len(sex) >= n_individuals:
                    spouse = None  # single-parent family
                else:
                    spouse = person("F" if sex[kid] == "M" else "M",
                                    born[kid] + rng.randint(-5, 5))
                todo.append((family(kid, spouse), gen + 1))

    n_people, n_fams = len(sex), len(fam_kids)
    pid = [f"I{i + 1}" for i in range(n_people)]
    fid = [f"F{i + 1}" for i in range(n_fams)]
    sid = [f"S{i + 1}" for i in range(n_sources)]
    edges: list[tuple[str, str, str, str]] = []
    edge_counts = dict.fromkeys(REL_TYPES, 0)
    unused: set[str] = set()
    missing: set[str] = set()

    def edge(tag: str, src: str, dst: str) -> str:
        edge_counts[tag] += 1
        edges.append((src, dst, REL_TYPES[tag], tag))
        return f"@{dst}@"

    def temple() -> str:
        if rng.random() < 0.2:
            code = rng.choice(TEMPLES_MISS)
            missing.add(code)
            return code
        return rng.choice(TEMPLES_HIT)

    out = ["0 HEAD", "1 CHAR UTF-8", "1 GEDC", "2 VERS 5.5.1"]
    for i, s in enumerate(sid):
        out += [f"0 @{s}@ SOUR", f"1 TITL Parish register {i + 1}",
                f"1 AUTH {rng.choice(SURNAMES)} clerk"]
    for i in range(n_people):
        me = pid[i]
        out += [f"0 @{me}@ INDI",
                f"1 NAME {rng.choice(GIVEN[sex[i]])} /{rng.choice(SURNAMES)}/",
                f"1 SEX {sex[i]}", "1 BIRT", f"2 DATE {_date(rng, born[i])}",
                f"2 PLAC {rng.choice(PLACES)}"]
        if rng.random() < 0.8:
            out.append("2 SOUR " + edge("SOUR", me, rng.choice(sid)))
        if rng.random() < 0.5:
            out += ["1 DEAT", f"2 DATE {_date(rng, born[i] + rng.randint(1, 90))}"]
            if rng.random() < 0.3:
                out.append("2 SOUR " + edge("SOUR", me, rng.choice(sid)))
        if rng.random() < 0.15:
            out += ["1 EVEN", f"2 TYPE {rng.choice(EVENT_TYPES)}",
                    f"2 DATE {_date(rng, born[i] + rng.randint(15, 40))}"]
        if rng.random() < 0.3:
            out.append(f"1 OCCU {rng.choice(OCCUPATIONS)}")
        if rng.random() < 0.1:
            out += ["1 BAPL", f"2 DATE {_date(rng, born[i] + 8)}", f"2 TEMP {temple()}"]
        if rng.random() < 0.3:
            out.append(f"1 _UID {rng.getrandbits(128):032X}")
        if rng.random() < 0.05:
            unused.add(UNKNOWN_LEAF)
            out.append(f"1 {UNKNOWN_LEAF} {rng.choice(EVENT_TYPES)}")
        if rng.random() < 0.03:
            # Pointer under an unknown tag: dropped with its subtree.
            unused.add(UNKNOWN_SUBTREE)
            out += [f"1 {UNKNOWN_SUBTREE}", f"2 DATE {_date(rng, born[i] + 20)}",
                    f"2 SOUR @{rng.choice(sid)}@"]
        if rng.random() < 0.1:
            out.append("1 _PRIMARY Y")
        if famc[i] is not None:
            out.append("1 FAMC " + edge("FAMC", me, fid[famc[i]]))
        for f in fams[i]:
            out.append("1 FAMS " + edge("FAMS", me, fid[f]))
    for f in range(n_fams):
        out.append(f"0 @{fid[f]}@ FAM")
        if fam_husb[f] is not None:
            out.append("1 HUSB " + edge("HUSB", fid[f], pid[fam_husb[f]]))
        if fam_wife[f] is not None:
            out.append("1 WIFE " + edge("WIFE", fid[f], pid[fam_wife[f]]))
        for k in fam_kids[f]:
            out.append("1 CHIL " + edge("CHIL", fid[f], pid[k]))
        if rng.random() < 0.7:
            year = max(born[p] for p in (fam_husb[f], fam_wife[f]) if p is not None)
            out += ["1 MARR", f"2 DATE {_date(rng, year + rng.randint(18, 30))}",
                    f"2 PLAC {rng.choice(PLACES)}"]
            if rng.random() < 0.3:
                out.append("2 SOUR " + edge("SOUR", fid[f], rng.choice(sid)))
        if rng.random() < 0.05:
            out += ["1 SLGS", f"2 TEMP {temple()}"]
    n_skipped = 1 + n_people // 2000
    for k in range(n_skipped):
        out += [f"0 @X{k + 1}@ {UNKNOWN_RECORD}", f"1 NOTE vendor record {k + 1}"]
    out.append("0 TRLR")

    truth = {
        "nodes": {"HEAD": 1, "INDI": n_people, "FAM": n_fams, "SOUR": n_sources},
        "edges": edge_counts,
        "unused_tags": sorted(unused),
        "missing_temple_codes": sorted(missing),
        "skipped_records": n_skipped,
        "people": _person_truth(pid, famc, fams, fam_husb, fam_wife, fam_kids),
        "ancestor_pairs_by_depth": _ancestor_depths(famc, fam_husb, fam_wife),
        **_components(edges),
    }
    return Pedigree("\n".join(out) + "\n", truth, pid, edges)


def _person_truth(pid, famc, fams, fam_husb, fam_wife, fam_kids) -> dict:
    """Per person: rows that parents_of / children_of / spouses / siblings
    return when filtered to that person."""
    people = {}
    for i, me in enumerate(pid):
        f = famc[i]
        parents = 0 if f is None else sum(
            p is not None for p in (fam_husb[f], fam_wife[f]))
        siblings = 0 if f is None else len(fam_kids[f]) - 1
        children = sum(len(fam_kids[g]) for g in fams[i])
        spouses = sum(fam_husb[g] is not None and fam_wife[g] is not None
                      for g in fams[i])
        people[me] = {"parents_of": parents, "children_of": children,
                      "spouses": spouses, "siblings": siblings}
    return people


def _ancestor_depths(famc, fam_husb, fam_wife) -> list[int]:
    """Count of (person, ancestor) pairs at each depth 1..TRAVERSAL_DEPTH.
    Lineages never intermarry, so every ancestor is reached by one path."""
    counts = [0] * TRAVERSAL_DEPTH
    for i in range(len(famc)):
        frontier = [i]
        for d in range(TRAVERSAL_DEPTH):
            nxt = []
            for p in frontier:
                f = famc[p]
                if f is not None:
                    nxt += [q for q in (fam_husb[f], fam_wife[f]) if q is not None]
            if not nxt:
                break
            counts[d] += len(nxt)
            frontier = nxt
    return counts


def _components(edges: list[tuple[str, str, str, str]]) -> dict:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b, _, _ in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {"component_nodes": len(parent),
            "components": len({find(x) for x in parent})}


# ------------------------------------------------------------- corpus


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    planted: set[tuple[int, int]]  # (lower id, higher id)


def _vocabulary(size: int) -> list[str]:
    syl = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da",
           "fe", "go", "hu", "ji", "pe", "qu", "ze", "wa", "xi", "yo")
    words = []
    rng = random.Random(0)  # the vocabulary is the same for every seed
    while len(words) < size:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))
        words.append(w + str(len(words)))
    return words


def corpus(seed: int, n_docs: int, dup_share: float = 0.02,
           edits: int = 3) -> Corpus:
    """``n_docs`` documents with Zipf-distributed words, of which
    ``dup_share`` are copies of another document with ``edits`` words
    replaced. Each source document is copied at most once, so the planted
    pairs are exactly the near-duplicate pairs of the corpus."""
    rng = random.Random(seed)
    vocab = _vocabulary(5000)
    cum = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(vocab))))
    n_dups = int(n_docs * dup_share)
    n_orig = n_docs - n_dups
    texts = [rng.choices(vocab, cum_weights=cum, k=rng.randint(80, 140)) for _ in range(n_orig)]
    sources = rng.sample(range(n_orig), n_dups)
    for src in sources:
        words = list(texts[src])
        for pos in rng.sample(range(len(words)), edits):
            words[pos] = rng.choice(vocab)
        texts.append(words)
    ids = list(range(1, n_docs + 1))
    rng.shuffle(ids)
    planted = {tuple(sorted((ids[src], ids[n_orig + j]))) for j, src in enumerate(sources)}
    return Corpus(ids, [" ".join(t) for t in texts], planted)


def shingle_jaccard(a: str, b: str, k: int = 3) -> float:
    """Exact Jaccard of distinct word k-grams (the operator's definition
    for lowercase alphanumeric text)."""
    def grams(t: str) -> set[tuple[str, ...]]:
        w = t.lower().split()
        return {tuple(w[i:i + k]) for i in range(len(w) - k + 1)}
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


# --------------------------------------------------------- embeddings


@dataclass
class Embeddings:
    vectors: np.ndarray  # float32 [n, dim]; row i has vec_id i
    query_ids: np.ndarray  # int64 [q]
    topk_ids: np.ndarray  # int64 [q, k], exact neighbours, self excluded
    topk_cos: np.ndarray  # float64 [q, k]


def embeddings(seed: int, n: int, n_queries: int, dim: int = 64,
               k: int = 10, clusters: int = 32) -> Embeddings:
    """Clustered float32 vectors plus exact top-k cosine neighbours of a
    query panel drawn from the table, computed in float64 with numpy."""
    rs = np.random.default_rng(seed)
    centers = rs.normal(size=(clusters, dim))
    vecs = (centers[rs.integers(clusters, size=n)]
            + 0.7 * rs.normal(size=(n, dim))).astype(np.float32)
    qids = np.sort(rs.choice(n, size=n_queries, replace=False)).astype(np.int64)
    unit = vecs.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    sims = unit[qids] @ unit.T
    sims[np.arange(n_queries), qids] = -np.inf
    # Stable sort on (-cos, id): ties resolve to the lower id, like the operator.
    order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return Embeddings(vecs, qids, order.astype(np.int64),
                      np.take_along_axis(sims, order, axis=1))
