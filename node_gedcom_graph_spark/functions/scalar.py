"""Scalar column functions — the reference's per-tag transform registry
re-expressed as native Spark column expressions (no Python UDFs).

The reference binds a dict of imperative per-value transforms
(/root/reference/lib/csv_writer.js:34-83); each becomes a pure
``Column -> Column`` function here, so Catalyst folds them into
whole-stage codegen. Dictionary-valued transforms (temple decode) take a
literal map; at scale prefer the broadcast-join form in
``operators/relational.py`` which keeps the dictionary out of the plan
string.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from node_gedcom_graph_spark.functions.dictionaries import TEMPLE_CODES


def boolean_encode(value: Column) -> Column:
    """Truthy-string -> 'True' / 'False' (reference lib/csv_writer.js:31-33).

    JS truthiness on a string value is "non-empty"; NULL is falsy too.
    """
    return F.when(
        value.isNotNull() & (F.length(value) > 0), F.lit("True")
    ).otherwise(F.lit("False"))


def _temple_map() -> Column:
    items: list[Column] = []
    for code, name in TEMPLE_CODES.items():
        items.append(F.lit(code))
        items.append(F.lit(name))
    return F.create_map(*items)


def temple_decode(code: Column) -> Column:
    """TEMP code -> temple name; unknown codes pass through unchanged
    (reference lib/csv_writer.js:57-65). Misses are a first-class query
    (see operators.relational / gedcom extraction), not a side effect.
    """
    return F.coalesce(F.element_at(_temple_map(), code), code)


def place_decode(place: Column) -> Column:
    """PLAC value that is a temple code -> '<Temple Name> Temple'; anything
    else passes through (reference lib/csv_writer.js:48-56).
    """
    name = F.element_at(_temple_map(), place)
    return F.when(name.isNotNull(), F.concat(name, F.lit(" Temple"))).otherwise(place)


# --- NAME split (reference lib/csv_writer.js:66-82) -----------------------
# GEDCOM personal names are "Given /Surname/ suffix". The reference splits
# on '/' and keeps the RAW pieces (no trimming — 'John /Smith/' yields
# Given Name 'John '): a slash-less value is the Given Name verbatim;
# with a slash, piece[0] is Given Name iff it contains a non-space char
# and piece[1] is Surname iff present and non-blank; suffix after the
# 2nd slash is dropped from the split fields; the full raw value is kept.
# These helpers are pinned equal to the authoritative extraction path
# (gedcom/extract.py NAME entries) by tests/test_gedcom.py.


def given_name(name: Column) -> Column:
    piece = F.split(name, "/").getItem(0)
    return F.when(~name.contains("/"), name).when(piece.rlike(r"[^\s]"), piece)


def surname(name: Column) -> Column:
    parts = F.split(name, "/")
    piece = F.when(F.size(parts) >= 2, parts.getItem(1))
    return F.when(name.contains("/") & piece.rlike(r"[^\s]"), piece)


# --- text helpers shared by the dedup / text-analysis operators -----------

# Case fold for expressions that keep only ASCII alphanumerics. Spark's
# lower() uses ICU case mappings by default, and the first lower() a JVM
# evaluates initializes CollationAwareUTF8String, which builds a
# title-case table through ICU for every code point: 2-3 s on a fresh
# driver (C1 JIT, 4 vCPU), while every other task of the stage waits on
# the class-init monitor. That stall sat inside the first MinHash pass
# of a session. The fold is exact for its callers, which keep only
# [a-z0-9] or count what remains after [a-z0-9\s] is removed. Over every
# code point (Unicode 14 tables), only A-Z, U+0130 (lowercase i + U+0307)
# and U+212A (Kelvin sign, lowercase k) have a full lowercase that holds
# an ASCII letter or digit; U+0130 is the one code point whose lowercase
# is longer than itself; every other code point lowercases to one code
# point outside [a-z0-9\s]. Setting spark.sql.icu.caseMappings.enabled
# to false instead would change every user's lower()/upper() engine-wide
# and send non-ASCII text through the JVM's default locale.
_FOLD_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ\u212a"
_FOLD_TO = "abcdefghijklmnopqrstuvwxyzk"


def ascii_fold(text: Column) -> Column:
    """``lower(text)`` as far as ``[a-z0-9\\s]`` can tell, without ICU."""
    dotted_i = F.replace(text, F.lit("\u0130"), F.lit("i\u0307"))
    return F.translate(dotted_i, _FOLD_FROM, _FOLD_TO)


def punct_chars(text: Column) -> Column:
    """Characters of ``text`` that are neither alphanumeric (case-folded
    to ASCII) nor whitespace; the numerator of the punctuation ratio."""
    return F.length(F.regexp_replace(ascii_fold(text), r"[a-z0-9\s]", ""))


def normalize_text(text: Column) -> Column:
    """Lowercase, strip non-alphanumerics to spaces, collapse whitespace.

    Canonical form for near-dup fingerprinting; kept to regex constructs
    whose semantics agree between Java regex (Spark) and RE2 (DuckDB
    oracle): character classes and simple quantifiers only.
    """
    stripped = F.regexp_replace(ascii_fold(text), "[^a-z0-9]+", " ")
    return F.trim(stripped)


def tokens(text: Column) -> Column:
    """Alphanumeric tokens (lowercased) as array<string>."""
    return F.regexp_extract_all(ascii_fold(text), F.lit("[a-z0-9]+"), 0)


def md5_bucket(col: Column, n_buckets: int) -> Column:
    """First-16-bits-of-md5 bucket assignment — THE shared
    engine-agnostic hash idiom (DuckDB mirror:
    ``CAST(('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 4)) AS INTEGER)
    % n``). Used by the shard writer, the upsert table, the negative
    miner, and dataset_shard_assign; one definition so bucket
    membership can never silently diverge between them."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10)
        .cast("int")
        % n_buckets
    ).cast("int")
