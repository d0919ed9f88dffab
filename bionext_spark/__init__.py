"""bionext_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the *capabilities* of ieeta-pt/BioNExt
(tagger → linker → extractor biomedical relation pipeline, see
/root/reference) re-expressed as a columnar, distributed Spark DataFrame
pipeline over tables of multi-turn conversation transcripts:

    transcripts(conv_id, turn_idx, role, text, tool, ts)
        → conversations (assembled docs + turn offset maps)
        → mentions      (BIO span tagging; windowed batched inference)
        → links         (lexicon cascade + embedding similarity + vote)
        → pairs         (type-masked candidate self-join)
        → triples       (relation + novelty classification, aggregated)
        → edges/vertices (canonicalized graph via connected components)

Design notes
------------
* DataFrame/SQL first: every relational step (joins, re-numbering, pair
  generation, logit aggregation) is expressed with built-in pyspark.sql
  functions so Catalyst handles pushdown, broadcast selection and AQE.
  Python only runs inside vectorized Arrow kernels
  (tokenize/window/decode/encode/vote/classify) — never per row; the
  majority vote is a grouped pandas kernel over conv_id hash buckets.
* Model adapters are pluggable; the default "stub" adapters are pure
  deterministic functions (bionext_spark.kernels) shared verbatim with the
  pure-Python oracle (bionext_spark.oracle) so engine output is
  exactly-comparable in tests.
* Every stage boundary is a checkpointed table (bionext_spark.sources
  .catalog) with per-partition lineage + metrics manifests; stages resume
  idempotently by snapshot.
"""

__version__ = "0.1.0"
