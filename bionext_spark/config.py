"""Pipeline configuration.

Numeric defaults mirror the reference's published configuration
(see BASELINE.md): 512-token model windows with 64-token side contexts
(reference src/data.py:129-130), 0.9 cosine threshold for embedding links
(reference src/linker/chemicals.py:32), 9 relation classes with class 8 =
Negative_Class (reference src/extractor/__init__.py:110-115).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Entity label set — reference src/tagger/hf_training.py:102-108.
ENTITY_LABELS: tuple[str, ...] = (
    "GeneOrGeneProduct",
    "DiseaseOrPhenotypicFeature",
    "ChemicalEntity",
    "OrganismTaxon",
    "SequenceVariant",
    "CellLine",
)
# BIO tag ids: 0 = O, then (B, I) per label in ENTITY_LABELS order → 13 tags.
N_BIO_TAGS = 1 + 2 * len(ENTITY_LABELS)

# Relation classes — reference src/extractor/__init__.py:110-115.
RELATION_LABELS: tuple[str, ...] = (
    "Association",
    "Positive_Correlation",
    "Negative_Correlation",
    "Cotreatment",
    "Bind",
    "Comparison",
    "Conversion",
    "Drug_Interaction",
    "Negative_Class",
)
NEGATIVE_CLASS = 8
NOVEL_LABELS: tuple[str, ...] = ("No", "Novel")

# Type-compatible entity pairs for candidate generation — symmetric closure
# of the mask at reference src/extractor/data.py:40-61.
VALID_TYPE_PAIRS: frozenset[tuple[str, str]] = frozenset(
    tuple(sorted(p))
    for p in [
        ("GeneOrGeneProduct", "GeneOrGeneProduct"),
        ("ChemicalEntity", "DiseaseOrPhenotypicFeature"),
        ("DiseaseOrPhenotypicFeature", "GeneOrGeneProduct"),
        ("ChemicalEntity", "GeneOrGeneProduct"),
        ("DiseaseOrPhenotypicFeature", "SequenceVariant"),
        ("ChemicalEntity", "ChemicalEntity"),
        ("ChemicalEntity", "SequenceVariant"),
        ("SequenceVariant", "SequenceVariant"),
    ]
)

# Manual identifier merge-corrections applied after majority vote —
# reference src/linker/taxonomy.py:60-62, 89-91.
TAXONOMY_ID_CORRECTIONS: dict[str, str] = {"3052230": "11103"}

# Default organism when a gene mention has no organism anchor in its
# conversation — reference src/linker/genes.py:114-116.
DEFAULT_TAX_ID = "9606"


@dataclass(frozen=True)
class PipelineConfig:
    # Windowing (reference src/data.py:129-130: 512 max, 64-token contexts).
    max_seq_len: int = 512
    context_size: int = 64
    # Embedding linker (reference src/linker/chemicals.py:32).
    embedding_dim: int = 16
    similarity_threshold: float = 0.9
    # Candidate-pair generation: the reference has no cap at inference;
    # at 10^12-turn scale an O(n^2) blow-up on entity-rich conversations
    # must be bounded: each conversation keeps at most this many pairs,
    # the first ones in (type, id) order.
    max_pairs_per_conversation: int = 10_000
    # Entity pre-cap applied BEFORE the pair self-join so pairs past the cap
    # are never generated: the O(n²) intermediate is bounded at m(m-1)/2
    # rows per conversation (512 → ≤130,816) instead of materializing n²
    # rows and dropping them with a window. For conversations with ≤ this
    # many distinct entities the emitted pair set is byte-identical to the
    # uncapped prefix semantics.
    max_entities_per_conversation: int = 512
    # Skew handling: conversations are salted into this many sub-keys for
    # shuffle-heavy stages when their turn count exceeds the skew threshold.
    salt_buckets: int = 8
    skew_turns_threshold: int = 128
    # Tagger fusion: conversations with at most this many turns take the
    # fused single-kernel tagger (one Arrow hop per doc); longer ones take
    # the window-parallel path so one giant conversation never pins a task.
    # <= 0 disables fusion entirely (always window-parallel).
    fused_tagger_max_turns: int = 10_000
    # Arrow batch size for UDF kernels (reference batches 8/128 on GPU;
    # CPU stubs take larger batches).
    kernel_batch_size: int = 1024
    # K5 few-shot retrieval (reference seq_variant.py:240-268: top-50
    # train examples with embedding score > 0.6 build the LLM prompt).
    fewshot_k: int = 50
    fewshot_threshold: float = 0.6

    @property
    def center_size(self) -> int:
        # Usable (non-context) tokens per window: reference uses
        # 512 - 2 - 2*64 = 382 center tokens plus CLS/SEP; our tokenizer
        # has no special tokens so the center stride is max - 2*context.
        return self.max_seq_len - 2 * self.context_size


DEFAULT_CONFIG = PipelineConfig()
