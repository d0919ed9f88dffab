"""Stage 2 tests: linker cascades, majority vote, cleaner vs oracle."""

from __future__ import annotations

import pytest

from bionext_spark import kernels as K
from bionext_spark import oracle, synth
from bionext_spark.adapters import StubEncoder, StubLexiconTagger
from bionext_spark.operators.assemble import assemble_conversations
from bionext_spark.operators.linking import run_cleaner, run_linker
from bionext_spark.operators.tagging import run_tagger
from bionext_spark.sources import fixtures


@pytest.fixture(scope="module")
def oracle_out(transcripts_rows):
    lex = oracle.Lexicons(
        synth.lexicon_concepts_rows(),
        [{**r, "rank": i} for i, r in enumerate(synth.lexicon_genes_rows())],
        synth.train_direct_rows(),
        synth.lexicon_variants_rows(),
    )
    return oracle.run_pipeline(
        transcripts_rows, lex, K.build_tag_lexicon(synth.tag_lexicon_entries())
    )


@pytest.fixture(scope="module")
def spark_links(spark, transcripts):
    convs = assemble_conversations(transcripts)
    mentions = run_tagger(convs, StubLexiconTagger(synth.tag_lexicon_entries()))
    links = run_linker(
        spark,
        mentions,
        fixtures.train_direct_df(spark),
        fixtures.lexicon_concepts_df(spark),
        fixtures.lexicon_genes_df(spark),
        fixtures.lexicon_variants_df(spark),
        StubEncoder(),
    )
    return links


LINK_KEY = ("conv_id", "mention_id", "label", "start", "end", "text", "turn_idx", "linked_id", "method")


def _norm(rows):
    return sorted(tuple(r[k] for k in LINK_KEY) for r in rows)


def test_linker_matches_oracle(spark_links, oracle_out):
    got = _norm(r.asDict() for r in spark_links.collect())
    exp = _norm(oracle_out["links"])
    assert len(exp) > 50
    # The oracle must exercise every cascade hop for the test to mean much.
    methods = {r["method"] for r in oracle_out["links"] if r["method"]}
    assert {"train", "kb", "embedding", "rsid"} <= methods
    assert got == exp


def test_linker_covers_unlinked_and_default_taxon(oracle_out):
    links = oracle_out["links"]
    assert any(r["linked_id"] == "-" for r in links)  # cleaner has work
    # merged-id correction fired somewhere
    assert any(r["linked_id"] == "11103" for r in links)
    assert not any(r["linked_id"] == "3052230" for r in links)


def test_cleaner_matches_oracle(spark_links, oracle_out):
    got = _norm(r.asDict() for r in run_cleaner(spark_links).collect())
    exp = _norm(oracle_out["clean_links"])
    assert got == exp
    # renumbering: ids dense from 0 per conversation
    per_conv: dict[str, list[int]] = {}
    for row in exp:
        per_conv.setdefault(row[0], []).append(row[1])
    for ids in per_conv.values():
        assert sorted(ids) == list(range(len(ids)))
