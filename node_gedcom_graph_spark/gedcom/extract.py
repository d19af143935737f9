"""GEDCOM record-tree -> property-graph extraction, as a declarative plan.

Re-expresses the reference's recursive per-record interpreter
(/root/reference/lib/csv_writer.js:123-186) as window functions + one
join over the flat lines IR. Semantics reproduced exactly (pinned by
golden tests in tests/test_gedcom.py):

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

Scale: everything is per-record windows (parallel across records after a
shuffle on record_seq) plus one equi-join for EVEN promotion (its build
side — TYPE-children-of-EVEN — is tiny in real data; AQE broadcasts it).
No Python UDFs anywhere; the whole plan is codegen'd.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache
from types import SimpleNamespace

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from node_gedcom_graph_spark.functions.dictionaries import (
    BOOLEAN_TAGS,
    GEDCOM_TAGS,
    TEMPLE_CODES,
)


@dataclass
class GedcomGraph:
    """Extraction output: the property graph + the two audit sets."""

    nodes_long: DataFrame  # record_seq, record_id, label, root_tag, flat_key, value
    edges: DataFrame  # src, dst, rel_type, edge_tag
    unused_tags: DataFrame  # tag
    missing_temple_codes: DataFrame  # code
    skipped_records: DataFrame  # record_seq, tag, xref (unknown top-level)
    frame: DataFrame | None = None  # persisted enriched frame (persist=True)

    def unpersist(self) -> None:
        if self.frame is not None:
            self.frame.unpersist()

    def nodes_wide(self, root_tag: str) -> DataFrame:
        """Per-label wide table (the reference's nodes-<TAG>.csv shape):
        one row per record, one column per flat key."""
        sub = self.nodes_long.filter(F.col("root_tag") == root_tag)
        keys = [r[0] for r in sub.select("flat_key").distinct().collect()]
        return (
            sub.groupBy("record_seq", "record_id", "label")
            .pivot("flat_key", sorted(keys))
            .agg(F.first("value"))
        )


_MAP_EXPR_CACHE: dict[int, Column] = {}


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal, for building one ``F.expr``
    instead of many ``F.lit`` py4j round trips."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _lookup_map(d: dict[str, str]) -> Column:
    """Literal map expression for a static lookup dict.

    Built as ONE ``F.expr("map('k','v', ...)")`` instead of 2·len(d)
    ``F.lit`` calls: each lit is a py4j round trip, and the two GEDCOM
    dictionaries (155 tags + 201 temples) cost ~0.45 s of pure driver
    chatter per extract_graph call that way — measured 40% of the whole
    plan-construction time. Memoized on dict identity (both dicts are
    module-level constants; an unresolved literal Column is
    session-independent within the JVM)."""
    cached = _MAP_EXPR_CACHE.get(id(d))
    if cached is not None:
        return cached

    col = F.expr(
        "map("
        + ", ".join(f"{sql_string(k)}, {sql_string(v)}" for k, v in d.items())
        + ")"
    )
    _MAP_EXPR_CACHE[id(d)] = col
    return col


@lru_cache(maxsize=8)
def _exprs(max_depth: int) -> SimpleNamespace:
    """Every extraction expression for one nesting depth, built once.

    All of these are UNRESOLVED column expressions referencing column
    NAMES only — immutable, DataFrame-independent, and reusable across
    sessions in the same JVM. Building them fresh costs ~5k py4j round
    trips (~0.7 s of pure driver chatter, measured ~40% of pipeline
    wall at bench scale); the cache makes repeated extractions (driver
    gate sweeps, bench iterations, per-file jobs over an inbox) pay it
    once. Python-side only — the executed plan is identical.
    """
    n = SimpleNamespace()
    n.tags_map = _lookup_map(GEDCOM_TAGS)
    temples_map = _lookup_map(TEMPLE_CODES)

    w_rec = W.partitionBy("record_seq").orderBy("line_no")
    w_cur = w_rec.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy("record_seq").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )

    n.friendly = F.element_at(n.tags_map, F.col("tag"))

    # ALL pass-1 window expressions in ONE select: Catalyst's
    # CollapseWindow rule only merges ADJACENT Window nodes, so the
    # withColumn-per-column spelling (each inserting a Project for its
    # _w0 input) planned one Window exec PER COLUMN — 12 full passes
    # over every sorted record partition. One select plans exactly one
    # Window exec per distinct frame spec (w_all, w_rec, w_cur): 3
    # passes regardless of max_depth. Measured 2x on the 50k-record
    # bench.
    #
    # The per-level carried value is a STRUCT so that a line whose
    # friendly is NULL (unknown tag) still overwrites the level slot — a
    # bare last(friendly, ignorenulls) would skip it and resolve to an
    # earlier KNOWN sibling at the same level, wrongly keeping the
    # unknown subtree alive (caught by the property-based oracle test).
    n.pass1 = [
        F.max(F.when(F.col("level") == 0, F.col("tag"))).over(w_all).alias("root_tag"),
        F.max(F.when(F.col("level") == 0, F.col("xref"))).over(w_all).alias("root_id"),
        F.lead("level").over(w_rec).alias("_next_level"),
        *[
            F.last(
                F.when(
                    F.col("level") == lvl,
                    F.struct(
                        F.col("line_no").alias("ln"),
                        F.col("tag").alias("tg"),
                        F.col("friendly").alias("fr"),
                    ),
                ),
                ignorenulls=True,
            )
            .over(w_cur)
            .alias(f"_lv{lvl}")
            for lvl in range(0, max_depth + 1)
        ],
    ]
    n.label = F.element_at(n.tags_map, F.col("root_tag"))
    n.has_children = F.col("_next_level").isNotNull() & (
        F.col("_next_level") > F.col("level")
    )

    lvl_idx = F.col("level")  # 1-based array positions below
    ln_arr = F.array(*[F.col(f"_lv{l}.ln") for l in range(0, max_depth + 1)])
    tg_arr = F.array(*[F.col(f"_lv{l}.tg") for l in range(0, max_depth + 1)])
    fr_arr = F.array(*[F.col(f"_lv{l}.fr") for l in range(0, max_depth + 1)])
    # parent = last line one level up (levels are contiguous in wellformed
    # GEDCOM; the parser trusts the producer, as the reference does).
    n.base_cols = [
        F.when(lvl_idx >= 1, F.element_at(ln_arr, lvl_idx)).alias("parent_line"),
        F.when(lvl_idx >= 1, F.element_at(tg_arr, lvl_idx)).alias("parent_tag"),
        # ancestors at levels 1..level-1 must all be known tags, else
        # the reference's `continue` drops the whole subtree.
        F.when(lvl_idx <= 1, F.lit(True))
        .otherwise(
            F.forall(F.slice(fr_arr, 2, lvl_idx - 1), lambda x: x.isNotNull())
        )
        .alias("chain_known"),
    ]
    n.lv_drop = [f"_lv{l}" for l in range(0, max_depth + 1)]

    # EVEN Type promotion inputs (the join itself is per-call).
    n.type_of_even = (F.col("tag") == "TYPE") & (F.col("parent_tag") == "EVEN")
    n.even_line_key = F.col("parent_line").alias("_even_line")
    n.promoted_agg = F.max_by("value", "line_no").alias("_promoted")

    # Key segment this line contributes when it is an ANCESTOR prefix.
    # (A valued EVEN line's own scalar property still uses 'Event' —
    # promotion applies only to the merged-subtree prefix.)
    n.segment = F.when(
        (F.col("tag") == "EVEN")
        & F.col("has_children")
        & F.col("_promoted").isNotNull(),
        F.col("_promoted"),
    ).otherwise(F.col("friendly"))

    # Second window pass: last-seen promoted segment per level — again
    # one select so the per-level columns collapse into ONE Window exec.
    n.pass2 = [
        F.last(F.when(F.col("level") == lvl, F.col("segment")), ignorenulls=True)
        .over(w_cur)
        .alias(f"_sg{lvl}")
        for lvl in range(1, max_depth + 1)
    ]
    sg_arr = F.array(*[F.col(f"_sg{l}") for l in range(1, max_depth + 1)])
    # prefix = promoted segments of ancestors at levels 1..level-1
    n.prefix = F.slice(sg_arr, 1, F.greatest(lvl_idx - 1, F.lit(0)))
    n.post_drop = [
        *[f"_sg{l}" for l in range(1, max_depth + 1)],
        "_promoted",
        "parent_line",
    ]

    is_pointer = F.col("value").startswith("@")
    guard = (F.col("value") != "") | ~F.col("has_children")
    known = F.col("friendly").isNotNull() & F.col("chain_known")
    child_level = F.col("level") >= 1

    # ---------------- edges (hoist-to-root, id-required) ----------------
    n.edge_filter = (
        child_level & known & guard & is_pointer & F.col("root_id").isNotNull()
    )
    n.edge_cols = [
        F.col("root_id").alias("src"),
        F.translate(F.col("value"), "@", "").alias("dst"),
        F.col("friendly").alias("rel_type"),
        F.col("tag").alias("edge_tag"),
    ]

    # ---------------- properties (long form) ----------------------------
    # One pass over the enriched frame: each line contributes 0..4
    # complete (flat_key, value) entries — its scalar properties AND its
    # 'Gedcom Id:ID' entry — via a single conditional-concat array +
    # explode. (Previously props and id_props were two branches joined
    # by unionByName, which made Spark evaluate the whole window stack
    # twice per action — 2x the scan+shuffle at any scale.)
    n.qualifies_prop = (
        child_level & known & guard & ~is_pointer & ~n.type_of_even
    )
    # 'Gedcom Id:ID' from any xref-carrying line: the record root (empty
    # prefix) and — rare but faithful — nested xref'd subtree roots,
    # whose id lands under their promoted composite key.
    n.qualifies_id = F.col("xref").isNotNull() & (
        (F.col("level") == 0) | (child_level & known & F.col("has_children"))
    )

    flat_key = lambda suffix: F.concat_ws(  # noqa: E731
        " ", F.concat(F.col("prefix"), F.array(suffix))
    )
    bool_enc = F.when(F.length("value") > 0, F.lit("True")).otherwise(F.lit("False"))
    temple_hit = F.element_at(temples_map, F.col("value"))

    name_pieces = F.split(F.col("value"), "/")
    has_slash = F.col("value").contains("/")
    given_piece = name_pieces.getItem(0)
    surname_piece = F.when(F.size(name_pieces) >= 2, name_pieces.getItem(1))

    # Scalar-property entries; nulls are filtered after the explode.
    # Pieces are NOT trimmed (JS keeps raw split output, e.g. Given Name
    # 'John ' from 'John /Smith/'). Keys are completed (prefix-joined)
    # before the explode so every entry is self-contained.
    _entry = lambda k, v: F.struct(k.alias("k"), v.alias("v"))  # noqa: E731
    prop_entries = F.when(
        F.col("tag") == "NAME",
        F.array(
            _entry(
                flat_key(F.lit("Given Name")),
                F.when(~has_slash, F.col("value")).when(
                    given_piece.rlike(r"[^\s]"), given_piece
                ),
            ),
            _entry(
                flat_key(F.lit("Surname")),
                F.when(has_slash & surname_piece.rlike(r"[^\s]"), surname_piece),
            ),
            _entry(flat_key(F.col("friendly")), F.col("value")),
        ),
    ).otherwise(
        F.array(
            _entry(
                flat_key(F.col("friendly")),
                F.when(F.col("tag").isin(*BOOLEAN_TAGS), bool_enc)
                .when(F.col("tag") == "TEMP", F.coalesce(temple_hit, F.col("value")))
                .when(
                    F.col("tag") == "PLAC",
                    F.when(
                        temple_hit.isNotNull(),
                        F.concat(temple_hit, F.lit(" Temple")),
                    ).otherwise(F.col("value")),
                )
                .otherwise(F.col("value")),
            )
        )
    )
    id_entry = _entry(
        F.when(F.col("level") == 0, F.lit("Gedcom Id:ID")).otherwise(
            F.concat_ws(
                " ",
                F.concat(
                    F.col("prefix"),
                    F.array(F.col("segment"), F.lit("Gedcom Id:ID")),
                ),
            )
        ),
        F.col("xref"),
    )
    _empty = F.array().cast("array<struct<k:string,v:string>>")
    n.entries = F.concat(
        F.when(n.qualifies_prop, prop_entries).otherwise(_empty),
        F.when(n.qualifies_id, F.array(id_entry)).otherwise(_empty),
    )
    n.nodes_cols = [
        "record_seq",
        F.col("root_id").alias("record_id"),
        "label",
        "root_tag",
        F.col("_e.k").alias("flat_key"),
        F.col("_e.v").alias("value"),
        "line_no",
    ]

    # ---------------- audit distinct-sets (reference op 17) -------------
    n.unused_filter = child_level & F.col("friendly").isNull() & F.col("chain_known")
    n.missing_temple_filter = (
        n.qualifies_prop & (F.col("tag") == "TEMP") & temple_hit.isNull()
    )
    return n


def extract_graph(
    lines: DataFrame, max_depth: int | None = None, persist: bool = False
) -> GedcomGraph:
    """Run the full extraction over a lines IR that already carries
    ``record_seq`` (see parser: the scan numbers records).

    ``max_depth``: deepest level present; discovered with a cheap scalar
    aggregate when not supplied (GEDCOM nesting is shallow — spec max 99,
    practice <10 — so the per-level window columns stay small).

    ``persist``: cache the enriched per-line frame (MEMORY_AND_DISK).
    Set this when materializing more than one of the four outputs in the
    same job — the standard multi-sink fan-out pattern — so the
    scan+window pass runs once instead of once per sink. Call
    ``.unpersist()`` on the result when done.
    """
    if max_depth is None:
        max_depth = lines.agg(F.max("level")).collect()[0][0] or 0
    max_depth = max(int(max_depth), 1)

    x = _exprs(max_depth)

    df = lines.withColumn("friendly", x.friendly)
    df = df.select("*", *x.pass1)
    df = df.withColumn("label", x.label)
    # Skip whole records with unknown top-level tags (csv_writer.js:176-180).
    df = df.filter(F.col("label").isNotNull())
    df = df.withColumn("has_children", x.has_children).drop("_next_level")
    base = df.select("*", *x.base_cols).drop(*x.lv_drop)
    if persist:
        from pyspark import StorageLevel

        # Persist BEFORE the EVEN-promotion self-join: both join inputs
        # below derive from this frame, so an unpersisted lineage would
        # run the whole pass-1 window stack twice per action (the two
        # branches are separate plan subtrees — exchange reuse does not
        # apply). The downstream join + single pass-2 window exec are
        # cheap to recompute per sink against the cached frame.
        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    df = base

    # EVEN Type promotion: value of the LAST direct TYPE child of each
    # EVEN line (max_by line_no = JS last-write-wins).
    type_vals = (
        df.filter(x.type_of_even)
        .groupBy(x.even_line_key)
        .agg(x.promoted_agg)
    )
    # Name-based join condition: line_no exists only on the left and
    # _even_line only on the right, so F.col is unambiguous — and unlike
    # df["..."] it doesn't force an eager analyzer pass mid-construction.
    df = df.join(
        type_vals, F.col("line_no") == F.col("_even_line"), "left"
    ).drop("_even_line")
    df = df.withColumn("segment", x.segment)
    df = df.select("*", *x.pass2)
    df = df.withColumn("prefix", x.prefix)
    df = df.drop(*x.post_drop)

    edges = df.filter(x.edge_filter).select(*x.edge_cols)

    # Last assignment wins on key collisions (JS object write order ==
    # document order == line_no order).
    nodes_long = (
        df.filter(x.qualifies_prop | x.qualifies_id)
        .withColumn("_e", F.explode(x.entries))
        .filter(F.col("_e.v").isNotNull())
        .select(*x.nodes_cols)
        .groupBy("record_seq", "record_id", "label", "root_tag", "flat_key")
        .agg(F.max_by("value", "line_no").alias("value"))
    )

    unused_tags = df.filter(x.unused_filter).select("tag").distinct()
    missing_temple_codes = (
        df.filter(x.missing_temple_filter)
        .select(F.col("value").alias("code"))
        .distinct()
    )
    # The reference's `skip` event (csv_writer.js:176-180, consumed at
    # index.js:85-87): whole records whose top-level tag has no
    # dictionary entry. Computed from the raw lines — no window pass.
    skipped_records = (
        lines.filter(F.col("level") == 0)
        .withColumn("_fr", F.element_at(x.tags_map, F.col("tag")))
        .filter(F.col("_fr").isNull())
        .select("record_seq", "tag", "xref")
    )

    return GedcomGraph(
        nodes_long,
        edges,
        unused_tags,
        missing_temple_codes,
        skipped_records,
        frame=base if persist else None,
    )
