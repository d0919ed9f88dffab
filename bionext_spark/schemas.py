"""Explicit StructType schemas for every table in the pipeline.

The reference carries implicit dict shapes (BioC JSON, see SURVEY.md §1);
here every stage boundary has a declared columnar schema so scans prune
columns and writers validate shape.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input — exact shape from BASELINE.json:input_hint.
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Assembled conversation document: turns joined in turn_idx order with a
# single space separator (reference concatenates title + ' ' + abstract,
# src/data.py:34); turn_offsets[i] = char offset of turn i in doc_text.
CONVERSATIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("doc_text", T.StringType(), False),
        T.StructField("n_turns", T.IntegerType(), False),
        T.StructField("turn_offsets", T.ArrayType(T.IntegerType()), False),
        T.StructField("turn_lengths", T.ArrayType(T.IntegerType()), False),
    ]
)

# Tokenized sliding windows (tagger input) — one row per window.
WINDOWS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("sequence_id", T.IntegerType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
        T.StructField("token_starts", T.ArrayType(T.IntegerType()), False),
        T.StructField("token_ends", T.ArrayType(T.IntegerType()), False),
        # Number of left/right context tokens in this window (stripped at
        # reassembly; the last window may carry extra left overlap).
        T.StructField("n_left", T.IntegerType(), False),
        T.StructField("n_right", T.IntegerType(), False),
    ]
)

# Tagged windows: BIO tag id per token (13-tag scheme).
TAGGED_WINDOWS = T.StructType(
    WINDOWS.fields + [T.StructField("bio_tags", T.ArrayType(T.IntegerType()), False)]
)

# Mention spans (tagger output ≈ reference annotations with identifier '-').
MENTIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("mention_id", T.IntegerType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
    ]
)

# Linked mentions; linked_id '-' means unlinked (dropped by the cleaner).
LINKS = T.StructType(
    MENTIONS.fields
    + [
        T.StructField("linked_id", T.StringType(), True),
        T.StructField("method", T.StringType(), True),
    ]
)

# Final relation triples.
TRIPLES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("novel", T.BooleanType(), False),
    ]
)

# Graph materialization.
VERTICES = T.StructType(
    [
        T.StructField("vertex_id", T.StringType(), False),
        T.StructField("canonical_id", T.StringType(), False),
        T.StructField("label", T.StringType(), True),
        T.StructField("n_mentions", T.LongType(), True),
    ]
)
EDGES = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("novel", T.BooleanType(), False),
        T.StructField("n_conversations", T.LongType(), False),
    ]
)

# Lexicons (FIXTURES.md §2).
LEXICON_CONCEPTS = T.StructType(
    [
        T.StructField("kb", T.StringType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("class", T.StringType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ]
)
LEXICON_GENES = T.StructType(
    [
        T.StructField("tax_id", T.StringType(), False),
        T.StructField("alias", T.StringType(), False),
        T.StructField("gene_id", T.StringType(), False),
    ]
)
# Train-memory lookup table as the linker actually consumes it: text_key
# carries the reference's mixed normalization (raw for taxonomy, lowered
# otherwise), tax_id keys the per-taxon gene memory (NULL = tax-independent
# hop), rank preserves first-in-file tie-break order.
TRAIN_DIRECT = T.StructType(
    [
        T.StructField("label", T.StringType(), False),
        T.StructField("text_key", T.StringType(), False),
        T.StructField("linked_id", T.StringType(), False),
        T.StructField("tax_id", T.StringType(), True),
        T.StructField("rank", T.IntegerType(), False),
    ]
)
