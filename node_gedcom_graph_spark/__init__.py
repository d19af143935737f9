"""node_gedcom_graph_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
``jimbobhickville/node-gedcom-graph`` (a Node.js GEDCOM -> Neo4j bulk-CSV
ETL pipeline; see SURVEY.md) as an idiomatic Spark DataFrame engine:

- ``sources``    — table loaders (parquet/csv/json) and the GEDCOM frontend
                   (line parser -> record assembly -> nodes/edges extraction).
- ``functions``  — scalar column functions mirroring the reference's
                   per-tag transforms (boolean encode, temple decode, name
                   split) plus the tag/temple dictionaries as broadcastable
                   lookup tables.
- ``operators``  — the relational operator surface (filters, joins, aggs,
                   windows, pivots, set ops) and the large-scale
                   training-data-pipeline operators (dedup, similarity
                   search, text analysis, multimodal plumbing).
- ``graph``      — property-graph queries over the extracted nodes/edges
                   (parents, spouses, ancestors BFS, connected components).
- ``publish``    — Neo4j bulk-import CSV export with staging-dir atomic
                   swap semantics (reference ops 18, 20-23).

Everything is DataFrame/SQL-first: Catalyst plans it, Tungsten runs it.
Python UDFs appear only where column expressions genuinely cannot express
the semantics (per-record tree walks, vectorized embedding kernels), and
then always as Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"

from node_gedcom_graph_spark.session import get_spark  # noqa: F401
