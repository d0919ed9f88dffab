"""End-to-end KG construction pipeline with checkpointed stage tables.

The reference's ``for module in pipeline: input_file = module.run(...)``
fold (main.py:115-116) becomes a chain of DataFrame stage functions, each
committed to a snapshotted table via StageCatalog so any stage resumes
idempotently. Launch on a cluster with spark-submit --py-files
(see scripts/submit.sh); locally via ``run(spark, transcripts_path, ...)``.
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from bionext_spark import synth
from bionext_spark.adapters import (
    StubEncoder,
    StubLexiconTagger,
)
from bionext_spark.config import DEFAULT_CONFIG, PipelineConfig
from bionext_spark.operators.assemble import assemble_conversations
from bionext_spark.operators.canonicalize import materialize_graph
from bionext_spark.operators.extraction import (
    aggregate_triples,
    classify_pair_spans,
    estimate_pair_weights,
)
from bionext_spark.operators.linking import run_cleaner, run_linker
from bionext_spark.operators.pairs import generate_pairs, pair_spans
from bionext_spark.operators.tagging import run_tagger
from bionext_spark.sources import fixtures
from bionext_spark.sources.catalog import Manifest, StageCatalog


@dataclass
class PipelineResult:
    triples: DataFrame
    manifests: dict[str, Manifest]

    def metrics(self) -> dict:
        return {
            name: {"rows": m.row_count, "snapshot": m.snapshot_id, "partitions": len(m.partition_counts)}
            for name, m in self.manifests.items()
        }


def _fingerprint(cfg: PipelineConfig) -> str:
    return json.dumps(dataclasses.asdict(cfg), sort_keys=True)


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    input_snapshot: str = "input",
    litvar=None,
    llm=None,
) -> PipelineResult:
    """transcripts → triples + graph, all stages checkpointed."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(cfg.kernel_batch_size))
    cat = StageCatalog(spark, checkpoint_dir)
    fp = _fingerprint(cfg)
    manifests: dict[str, Manifest] = {}

    tagger = StubLexiconTagger(synth.tag_lexicon_entries())
    encoder = StubEncoder(cfg.embedding_dim)

    seg = cfg.skew_turns_threshold if cfg.salt_buckets > 0 else 0
    convs, m = cat.run_stage(
        "conversations",
        lambda: assemble_conversations(transcripts, segment_size=seg),
        [input_snapshot],
        fp,
    )
    manifests["conversations"] = m

    mentions, m = cat.run_stage(
        "mentions", lambda: run_tagger(convs, tagger, cfg), [m.snapshot_id], fp
    )
    manifests["mentions"] = m

    def _link() -> DataFrame:
        return run_linker(
            spark,
            mentions,
            encoder=encoder,
            cfg=cfg,
            gene_symbols=fixtures.gene_symbols_df(spark),
            litvar=litvar,
            llm=llm,
            side=fixtures.linker_side_data(spark),
        )

    links, m = cat.run_stage("links", _link, [m.snapshot_id], fp)
    manifests["links"] = m

    cleaned, m = cat.run_stage("clean_links", lambda: run_cleaner(links), [m.snapshot_id], fp)
    manifests["clean_links"] = m

    # pairs stage table stores the span lists, not the marked text: the
    # marked text is ~|pairs|×|doc| bytes and is produced transiently
    # inside the fused classifier kernel instead.
    pairs, m = cat.run_stage(
        "pairs",
        lambda: pair_spans(generate_pairs(cleaned, cfg), cleaned),
        [manifests["clean_links"].snapshot_id, manifests["conversations"].snapshot_id],
        fp,
    )
    manifests["pairs"] = m

    triples, m = cat.run_stage(
        "triples",
        # weight-aware classify bucketing: the estimate reads only the
        # durable clean_links/conversations stage tables, never the pairs
        # subtree (extraction.estimate_pair_weights)
        lambda: aggregate_triples(
            classify_pair_spans(
                pairs, convs, None, cfg,
                pair_weights=estimate_pair_weights(cleaned, convs, cfg),
            )
        ),
        [m.snapshot_id, manifests["conversations"].snapshot_id],
        fp,
    )
    manifests["triples"] = m

    def _graph_vertices() -> DataFrame:
        v, e = materialize_graph(cleaned, triples)
        # stash edges for the paired stage below (deterministic given inputs)
        _graph_vertices.edges = e  # type: ignore[attr-defined]
        return v

    vertices, m_v = cat.run_stage(
        "vertices",
        _graph_vertices,
        [manifests["clean_links"].snapshot_id, manifests["triples"].snapshot_id],
        fp,
    )
    manifests["vertices"] = m_v
    # lazy fallback: materialize_graph runs the eager connected-components
    # loop, so it must only be invoked when the vertices stage was resumed
    # from a committed snapshot (a getattr default argument would evaluate
    # it eagerly and run CC twice on every fresh run)
    edges, m_e = cat.run_stage(
        "edges",
        lambda: _graph_vertices.edges  # type: ignore[attr-defined]
        if hasattr(_graph_vertices, "edges")
        else materialize_graph(cleaned, triples)[1],
        [manifests["clean_links"].snapshot_id, manifests["triples"].snapshot_id],
        fp,
    )
    manifests["edges"] = m_e

    return PipelineResult(triples=triples, manifests=manifests)

