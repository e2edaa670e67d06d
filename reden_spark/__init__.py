"""reden_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the query/data-processing capabilities of the reference NEL tool
(cvbrandoe/REDEN, a single-threaded Java dataflow: scan -> normalize -> lookup-join ->
graph-fuse -> prune -> centrality -> argmax -> annotate -> evaluate) as an idiomatic
Spark DataFrame pipeline over transcript tables:

    transcripts -> mentions -> candidates -> links -> canonical triples -> metrics

Design notes (scale-first):
  * All stages are declarative DataFrame ops; Catalyst handles pushdown/pruning/AQE.
  * The dictionary probe is a broadcast hash join (replaces the reference's Lucene
    index, DicoProcessingNEL.java:192-339).
  * Graph fusion / pruning / centrality run per conversation in one
    `applyInPandas` task (operators/grouped.py), as REDEN disambiguates one
    paragraph's graph in memory; a conversation's graph is bounded by its entity
    set, not its turn count.
  * Canonicalization = iterative min-label connected components over the sameAs
    edge DataFrame.
"""

__version__ = "0.1.0"
