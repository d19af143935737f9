"""GEDCOM record-tree -> property-graph extraction, as a declarative plan.

Re-expresses the reference's recursive per-record interpreter
(``lib/csv_writer.js:123-186``) over the flat lines IR: the lines are
grouped into one array per record (one shuffle, on ``record_seq``), and
the whole record tree is walked inside that array with higher-order
functions. Semantics reproduced exactly (pinned by golden tests in
tests/test_gedcom.py):

- dictionary gate: unknown child tag -> whole subtree dropped AND tag
  accumulated in the unused-tags set (csv_writer.js:132-135); unknown
  top-level tag -> whole record skipped, NOT accumulated (:176-180).
- property emission guard: a child contributes a property iff its value
  is non-empty OR it has no children (:137).
- pointer routing: value starting with '@' is an edge, never a property
  (:138); edges anchor at the level-0 record id however deeply nested
  the pointer sits ("hoist to root", :158,181), and are emitted only if
  that record has an id (:139).
- flatten with space-joined composite keys (:164-167); on key collision
  the LAST assignment in document order wins (JS object write order).
- EVEN promotion (:159-163): a generic-event subtree's key prefix is the
  value of its (last) direct TYPE child; that scalar 'Type' property is
  deleted. DIVERGENCE: when an EVEN subtree has no TYPE child the
  reference emits the JS artifact key prefix 'undefined'; this engine
  keeps 'Event' instead (documented + tested).
- per-tag scalar transforms (:31-83): 8 vendor boolean flags -> 'True'/
  'False' (JS truthiness = non-empty), TEMP temple decode with
  miss-tracking, PLAC conditional '<name> Temple' rewrite, NAME split
  into untrimmed Given Name / Surname pieces plus the raw Name.
- node emitted iff it has >=1 property; ':LABEL' = friendly top tag
  (:182-185); records with an xref always carry a 'Gedcom Id:ID'
  property (:125-127).

Plan: what a line says on its own (friendly tag, transformed property
values, temple miss) is computed per line in whole-stage codegen before
the shuffle. What depends on the line's place in its tree is computed
per record array: each line's ancestor at every level above it, the
EVEN promotion, the key prefix, and last-wins keys. ``nodes`` is that
frame's row of each record that emits a node, its key-sorted properties
one array that publish reads with no regrouping; every output reads the
one per-record frame, so ``persist=True`` caches the only copy any of
them needs.

Scale: the shuffle moves each line once. Per-record work is about
linear in the record's lines times its own deepest level (at most 99),
so one deep record costs no other record anything. No fold copies a
growing array, and every per-line lookup is by index except an EVEN's
promoted value, a map lookup among the record's promoted EVENs. No
Python UDFs anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cache

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from node_gedcom_graph_spark.functions.dictionaries import (
    BOOLEAN_TAGS,
    GEDCOM_TAGS,
    TEMPLE_CODES,
)


@dataclass
class GedcomGraph:
    """Extraction output: the property graph + the two audit sets."""

    nodes: DataFrame  # record_seq, record_id, label, root_tag, props: one row per node
    nodes_long: DataFrame  # nodes with props inlined: ..., flat_key, value
    edges: DataFrame  # src, dst, rel_type, edge_tag
    unused_tags: DataFrame  # tag
    missing_temple_codes: DataFrame  # code
    skipped_records: DataFrame  # record_seq, tag, xref (unknown top-level)
    frame: DataFrame | None = None  # persisted per-record frame (persist=True)

    def unpersist(self) -> None:
        if self.frame is not None:
            self.frame.unpersist()

    def nodes_wide(self, root_tag: str) -> DataFrame:
        """Per-label wide table (the reference's nodes-<TAG>.csv shape):
        one row per node, one column per flat key, null where it lacks
        the key."""
        sub = self.nodes.filter(F.col("root_tag") == root_tag)
        keys = sub.select(F.explode("props.flat_key")).distinct().collect()
        ids = ["record_seq", "record_id", "label"]
        return sub.select(*ids, F.map_from_entries("props").alias("m")).select(
            *ids, *[F.try_element_at("m", F.lit(k)).alias(k) for k, in sorted(keys)]
        )


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal, for building one ``F.expr``
    instead of many ``F.lit`` py4j round trips."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _lookup_map(d: dict[str, str]) -> Column:
    """Literal map expression for a static lookup dict, built as ONE
    ``F.expr("map('k','v', ...)")``: 2·len(d) ``F.lit`` calls would each
    be a py4j round trip (~0.45 s for the two GEDCOM dictionaries)."""
    return F.expr(
        "map("
        + ", ".join(f"{sql_string(k)}, {sql_string(v)}" for k, v in d.items())
        + ")"
    )


def _let(name: str, value: str, body: str) -> str:
    """SQL for ``body`` with ``value`` computed once per row and bound to
    the lambda variable ``name``.

    Catalyst inlines a column that the next projection references only
    once, even into a lambda, where it is then recomputed for every
    element: a per-record array looked up per line would cost the square
    of the record's length. A lambda variable is never inlined, so
    ``value`` is bound as the finish argument of an ``aggregate`` over
    an empty array."""
    return f"aggregate(array(), {value}, (acc, _) -> acc, {name} -> {body})"


def _line() -> Column:
    """One line as the struct the record array holds: its IR fields plus
    everything that depends on the line alone, over the line's ``fr``
    (friendly tag) and ``temple`` (decoded temple code) columns. ``own``
    is the line's property entries as (key suffix, value); whether they
    are emitted, and under which prefix, is decided per record. No
    lambda here: one would take this whole projection out of whole-stage
    codegen."""
    tag, value = F.col("tag"), F.col("value")
    friendly, temple_hit = F.col("fr"), F.col("temple")

    name_pieces = F.split(value, "/")
    has_slash = value.contains("/")
    given_piece = name_pieces.getItem(0)
    surname_piece = F.when(F.size(name_pieces) >= 2, name_pieces.getItem(1))

    # Pieces are NOT trimmed (JS keeps raw split output, e.g. Given Name
    # 'John ' from 'John /Smith/').
    _entry = lambda k, v: F.struct(k.alias("k"), v.alias("v"))  # noqa: E731
    own = F.when(
        tag == "NAME",
        F.array(
            _entry(
                F.lit("Given Name"),
                F.when(~has_slash, value).when(given_piece.rlike(r"[^\s]"), given_piece),
            ),
            _entry(
                F.lit("Surname"),
                F.when(has_slash & surname_piece.rlike(r"[^\s]"), surname_piece),
            ),
            _entry(friendly, value),
        ),
    ).otherwise(
        F.array(
            _entry(
                friendly,
                F.when(
                    tag.isin(*BOOLEAN_TAGS),
                    F.when(F.length(value) > 0, F.lit("True")).otherwise(F.lit("False")),
                )
                .when(tag == "TEMP", F.coalesce(temple_hit, value))
                .when(
                    tag == "PLAC",
                    F.when(
                        temple_hit.isNotNull(), F.concat(temple_hit, F.lit(" Temple"))
                    ).otherwise(value),
                )
                .otherwise(value),
            )
        )
    )
    return F.struct(
        "line_no",
        "level",
        "xref",
        "tag",
        "value",
        "fr",
        own.alias("own"),
        ((tag == "TEMP") & temple_hit.isNull()).alias("miss"),
    )


# The per-record expression, in SQL over ``ls``: the record's lines
# sorted by line_no. Inside ``transform(ls, (l, i) -> ...)``, ``l`` is a
# line and ``i`` its 0-based index; ``get`` is null out of bounds.

# anc[L][i]: index of the last line at level L at or before line i (null
# before the first), for L from 0 to the record's deepest level minus
# one. In a well-formed record that is line i's ancestor at level L. Each
# level is a fill-forward: its lines' indices, each repeated up to the
# next one.
_ANCESTORS = """transform(
  transform(
    sequence(0, greatest(array_max(ls.level) - 1, 0)),
    lvl -> filter(sequence(0, size(ls) - 1), j -> get(ls, j).level = lvl)),
  c -> concat(
    array_repeat(CAST(NULL AS INT), coalesce(get(c, 0), size(ls))),
    flatten(transform(
      c, (x, k) -> array_repeat(x, coalesce(get(c, k + 1), size(ls)) - x)))))"""

_PARENT = "get(get(anc, l.level - 1), i)"
_HAS_CHILDREN = "coalesce(get(ls, i + 1).level > l.level, false)"
_TYPE_OF_EVEN = f"(l.tag = 'TYPE' AND get(ls, {_PARENT}).tag <=> 'EVEN')"

# seg[i]: the key segment line i gives its descendants: its friendly tag,
# or for an EVEN with children the value of its last direct TYPE child
# (max line_no = JS last-write-wins). Unknown tags give null.
_SEGMENTS = _let(
    "typed",
    f"""sort_array(filter(
      transform(ls, (l, i) -> IF({_TYPE_OF_EVEN}, struct({_PARENT} AS p, i, l.value AS v), NULL)),
      t -> t IS NOT NULL))""",
    _let(
        "promo",
        """map_from_entries(transform(
          filter(typed, (t, k) -> NOT get(typed, k + 1).p <=> t.p),
          t -> struct(t.p, t.v)))""",
        f"""transform(ls, (l, i) -> coalesce(
          IF(l.tag = 'EVEN' AND {_HAS_CHILDREN}, element_at(promo, i), NULL), l.fr))""",
    ),
)

# What line i emits: its ``props`` entries, at most one ``edge``, an
# ``unused`` tag and a ``missing`` temple code (null when none). ``pre``
# holds the segments of its ancestors at levels 1..level-1; every one of
# them must be a known tag, else the reference's `continue` drops the
# whole subtree.
_FLAGS = f"""struct(
  forall(pre, s -> s IS NOT NULL) AS chain_known,
  {_HAS_CHILDREN} AS has_children,
  startswith(l.value, '@') AS pointer,
  {_TYPE_OF_EVEN} AS type_of_even)"""
_KNOWN = "(l.level >= 1 AND l.fr IS NOT NULL AND f.chain_known)"
_GUARD = "(l.value != '' OR NOT f.has_children)"
_PROP = f"({_KNOWN} AND {_GUARD} AND NOT f.pointer AND NOT f.type_of_even)"


def _key(*suffix: str) -> str:
    return f"concat_ws(' ', concat(pre, array({', '.join(suffix)})))"


# 'Gedcom Id:ID' comes from any xref-carrying line: the record root
# (empty prefix) and — rare but faithful — nested xref'd subtree roots,
# whose id lands under their promoted composite key.
_EMIT = _let(
    "pre",
    "transform(slice(anc, 2, greatest(l.level - 1, 0)), a -> get(seg, get(a, i)))",
    _let(
        "f",
        _FLAGS,
        f"""struct(
      concat(
        IF({_PROP},
           transform(filter(l.own, o -> o.v IS NOT NULL),
                     o -> struct({_key("o.k")} AS flat_key, o.v AS value)),
           array()),
        IF(l.xref IS NOT NULL AND (l.level = 0 OR ({_KNOWN} AND f.has_children)),
           array(struct(
             IF(l.level = 0, 'Gedcom Id:ID', {_key("get(seg, i)", "'Gedcom Id:ID'")})
               AS flat_key,
             l.xref AS value)),
           array())) AS props,
      IF({_KNOWN} AND {_GUARD} AND f.pointer AND get(ls, 0).xref IS NOT NULL,
         struct(get(ls, 0).xref AS src, translate(l.value, '@', '') AS dst,
                l.fr AS rel_type, l.tag AS edge_tag),
         NULL) AS edge,
      IF(l.level >= 1 AND l.fr IS NULL AND f.chain_known, l.tag, NULL) AS unused,
      IF({_PROP} AND l.miss, l.value, NULL) AS missing)""",
    ),
)

# The record's outputs from its lines' ``e``; props keep the last entry
# of each key in document order, as the JS object's last write.
_RECORD = _let(
    "anc",
    _ANCESTORS,
    _let(
        "seg",
        _SEGMENTS,
        _let(
            "e",
            f"transform(ls, (l, i) -> {_EMIT})",
            _let(
                "r",
                """sort_array(transform(
                  flatten(e.props), (p, pos) -> struct(p.flat_key AS k, pos, p.value AS v)))""",
                """struct(
                  transform(filter(r, (x, k) -> NOT get(r, k + 1).k <=> x.k),
                            x -> struct(x.k AS flat_key, x.v AS value)) AS props,
                  filter(e.edge, x -> x IS NOT NULL) AS edges,
                  filter(e.unused, x -> x IS NOT NULL) AS unused,
                  filter(e.missing, x -> x IS NOT NULL) AS missing)""",
            ),
        ),
    ),
)


@cache
def _plan() -> tuple[Column, Column, Column, Column]:
    """The line lookups, the per-line struct and the per-record output
    expression, built once: they are unresolved and reference column
    names only, so every extraction in this JVM reuses them."""
    tag_fr = F.element_at(_lookup_map(GEDCOM_TAGS), F.col("tag"))
    temple = F.element_at(_lookup_map(TEMPLE_CODES), F.col("value"))
    return tag_fr, temple, _line(), F.expr(_RECORD)


def extract_graph(lines: DataFrame, persist: bool = False) -> GedcomGraph:
    """Run the full extraction over a lines IR that already carries
    ``record_seq`` (see parser: the scan numbers records).

    ``persist``: cache the per-record frame (MEMORY_AND_DISK) that every
    output reads. Set this when materializing more than one output
    in the same job — the standard multi-sink fan-out pattern — so the
    scan, parse and extraction run once instead of once per sink. Call
    ``.unpersist()`` on the result when done.
    """
    tag_fr, temple, line, record = _plan()
    root = F.get("ls", 0)
    frame = (
        lines.select("*", tag_fr.alias("fr"), temple.alias("temple"))
        .select("record_seq", line.alias("l"))
        .groupBy("record_seq")
        .agg(F.sort_array(F.collect_list("l")).alias("ls"))
        .select(
            "record_seq",
            root.xref.alias("record_id"),
            root.fr.alias("label"),
            root.tag.alias("root_tag"),
            # Records with an unknown top-level tag are skipped whole
            # (csv_writer.js:176-180): they emit nothing.
            F.when(root.fr.isNotNull(), record).alias("out"),
        )
    )
    if persist:
        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)

    # A node is a record with >= 1 property (csv_writer.js:182-185).
    nodes = frame.filter(F.size("out.props") > 0).select(
        "record_seq", "record_id", "label", "root_tag", F.col("out.props").alias("props")
    )
    nodes_long = nodes.select(
        "record_seq", "record_id", "label", "root_tag", F.inline("props")
    )
    edges = frame.select(F.inline("out.edges"))
    unused_tags = frame.select(F.explode("out.unused").alias("tag")).distinct()
    missing_temple_codes = frame.select(
        F.explode("out.missing").alias("code")
    ).distinct()
    # The reference's `skip` event (csv_writer.js:176-180, consumed at
    # index.js:85-87).
    skipped_records = frame.filter(F.col("label").isNull()).select(
        "record_seq", F.col("root_tag").alias("tag"), F.col("record_id").alias("xref")
    )

    return GedcomGraph(
        nodes,
        nodes_long,
        edges,
        unused_tags,
        missing_temple_codes,
        skipped_records,
        frame=frame if persist else None,
    )
