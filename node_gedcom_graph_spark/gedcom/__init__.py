"""GEDCOM frontend: line parse -> record assembly -> property-graph
extraction (the reference pipeline's data plane, Spark-first)."""

from node_gedcom_graph_spark.gedcom.extract import GedcomGraph, extract_graph  # noqa: F401
from node_gedcom_graph_spark.gedcom.parser import (  # noqa: F401
    lines_from_string,
    read_gedcom_lines,
)
from node_gedcom_graph_spark.gedcom import queries  # noqa: F401
