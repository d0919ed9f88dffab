"""Stage 3b — relation classification + aggregation → triples
(SURVEY.md W3, K3, P3, J7, A2, F13).

  pair spans × docs --cogroup applyInPandas--> chunk predictions
      (W6 marker insertion + W3 chunking + K3 kernel, one classifier
      batch per conv_id bucket)
  predictions --relational--> triples:
    P3  filter per-chunk argmax != Negative_Class (extractor/__init__.py:80)
    J7  comma-composite explode × explode (extractor/__init__.py:88-94)
    A2  groupBy(conv, e1, e2): elementwise sum of softmax(relation logits)
        + raw novel logits, then argmax (extractor/__init__.py:85-108) —
        expressed as 9+2 plain F.sum aggregates (map-side partial agg,
        whole-stage codegen; no UDAF needed)
    final argmax != Negative_Class filter (extractor/__init__.py:128)
    F13 id→label maps; deterministic output order (subj, obj).
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bionext_spark import kernels as K
from bionext_spark.adapters import RelationAdapter, StubRelationClassifier
from bionext_spark.config import (
    DEFAULT_CONFIG,
    NEGATIVE_CLASS,
    RELATION_LABELS,
    PipelineConfig,
)

_PRED_SCHEMA = (
    "conv_id string, e1_id string, e2_id string, "
    "rel_softmax array<double>, novel_raw array<double>, pred_class int"
)


def estimate_pair_weights(
    clean_links: DataFrame,
    conversations: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Tiny (conv_id, _w) table estimating each conversation's classify
    weight: capped pair count (C(min(m, max_entities), 2) with the same
    caps generate_pairs applies) × estimated chunk count (doc chars per
    max_seq_len token window). Reads one map-side-combinable groupBy over
    the (checkpointed) cleaner output plus a length projection of the
    (checkpointed) conversations — never the pairs subtree, so feeding it
    to classify_pair_spans adds no recompute of pair generation."""
    ents = clean_links.groupBy("conv_id").agg(
        F.least(
            F.countDistinct("label", "linked_id"),
            F.lit(cfg.max_entities_per_conversation),
        ).alias("_m")
    )
    lens = conversations.select("conv_id", F.length("doc_text").alias("_len"))
    pairs_est = F.least(
        F.col("_m") * (F.col("_m") - 1) / 2, F.lit(cfg.max_pairs_per_conversation)
    )
    chunks_est = F.greatest(
        F.ceil(F.col("_len") / F.lit(cfg.max_seq_len * 4)), F.lit(1)
    )
    return ents.join(lens, "conv_id").select(
        "conv_id", (pairs_est * chunks_est).alias("_w")
    )


def classify_pair_spans(
    spans: DataFrame,  # pairs.pair_spans output: pair cols + spans1/spans2
    conversations: DataFrame,
    classifier: RelationAdapter | None = None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    pair_weights: DataFrame | None = None,
) -> DataFrame:
    """Fused J6(W6)+W3+K3: marker insertion, chunking and classification in
    one cogrouped kernel. Each conversation's doc text ships to Python
    exactly ONCE (cogroup on conv_id) instead of once per pair — on
    entity-rich conversations the per-pair marked_text materialization is
    ~|pairs| × |doc| bytes and dominated the stage otherwise. The
    aggregated triples equal oracle.run_pipeline's (tested).

    ``pair_weights`` (optional, from estimate_pair_weights): when given,
    the heaviest (conv_id, salt) units are assigned to buckets explicitly
    — serpentine over the weight-sorted ranks, so each scheduling wave
    carries one heavy unit per bucket — instead of by conv_id hash.
    Hash assignment packs replicate-heavy conversations into colliding
    buckets (measured: 0.01–16.3 s task spread, stage utilization 0.80 at
    the 4N bench point); the weight-sorted spread removes that
    deterministic tail. The light mass keeps hash assignment, which is
    balanced in expectation — at cluster scale only the top units matter,
    and extracting them is a distributed TakeOrdered over one tiny row
    per conversation."""
    classifier = classifier or StubRelationClassifier()
    max_len = cfg.max_seq_len

    def empty_frame() -> pd.DataFrame:
        # object dtype so Arrow maps empty columns onto the array<double>
        # fields (a float64 ndarray would fail list<double> conversion)
        return pd.DataFrame(
            {k: pd.Series(dtype=object) for k in (
                "conv_id", "e1_id", "e2_id", "rel_softmax", "novel_raw", "pred_class")}
        )

    def per_bucket(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        """One call per conv_id hash bucket (NOT per conversation: tiny
        per-conv frames made the Arrow round-trip overhead the measured
        bottleneck — the extract stage scaled only ~1.8× from N to 4N).
        Per-conversation semantics live in the inner groupby; each doc
        still ships to Python exactly once."""
        out: dict[str, list] = {k: [] for k in (
            "conv_id", "e1_id", "e2_id", "rel_softmax", "novel_raw", "pred_class")}
        if left.empty or right.empty:
            return empty_frame()
        docs = dict(zip(right["conv_id"], right["doc_text"]))
        convs_out, e1s, e2s, t1s, t2s, chunks = [], [], [], [], [], []
        for conv, g in left.groupby("conv_id", sort=False):
            doc = docs.get(conv)
            if doc is None:
                continue
            # tokenize the doc ONCE per conversation; each pair splices its
            # marker tokens in token space (K.marked_tokens_from_doc) —
            # re-tokenizing the marked string per pair was ~40% of this
            # kernel's python time. Falls back to the string path when a
            # span boundary doesn't align with token boundaries (exactness
            # precondition; never happens for tagger-produced spans).
            # a doc that literally contains marker text tokenizes
            # differently under the marker-aware regex → string path only
            fast_ok = not any(m in doc for m in ("[s1]", "[s2]", "[e1]", "[e2]"))
            t_starts, t_ends, t_toks = K.tokenize(doc) if fast_ok else ([], [], [])
            span_cache: dict = {}  # (start,end)→token range, shared by the conv's pairs
            for e1_id, e2_id, t1, t2, spans1, spans2 in zip(
                g["e1_id"], g["e2_id"], g["e1_type"], g["e2_type"],
                g["spans1"], g["spans2"],
            ):
                s1 = [(s["start"], s["end"]) for s in (spans1 if spans1 is not None else [])]
                s2 = [(s["start"], s["end"]) for s in (spans2 if spans2 is not None else [])]
                toks = (
                    K.marked_tokens_from_doc(t_starts, t_ends, t_toks, s1, s2, span_cache)
                    if fast_ok
                    else None
                )
                if toks is not None:
                    pair_chunks = K.chunk_tokens(toks, max_len, e1_id != e2_id)
                else:
                    marked = K.insert_markers(doc, s1, s2)
                    pair_chunks = K.chunk_marked_text(marked, max_len, e1_id != e2_id)
                for ch in pair_chunks:
                    convs_out.append(conv)
                    e1s.append(e1_id)
                    e2s.append(e2_id)
                    t1s.append(t1)
                    t2s.append(t2)
                    chunks.append(ch)
        if e1s:
            for conv, e1, e2, (rel, nov) in zip(
                convs_out, e1s, e2s, classifier.classify_batch(e1s, e2s, chunks, t1s, t2s)
            ):
                out["conv_id"].append(conv)
                out["e1_id"].append(e1)
                out["e2_id"].append(e2)
                out["rel_softmax"].append(K.softmax(rel))
                out["novel_raw"].append(list(nov))
                out["pred_class"].append(K.argmax_first(rel))
        if not out["conv_id"]:
            return empty_frame()
        return pd.DataFrame(out, columns=list(out.keys()))

    n_buckets = spans.sparkSession.sparkContext.defaultParallelism * 8
    # Explicit repartition on _b: the hash partitioning satisfies the
    # cogroup's required distribution, so the kernel stage runs with
    # n_buckets TASKS (one bucket each) instead of spark.sql.shuffle
    # .partitions tasks owning ~8 buckets each. per_bucket fires once per
    # bucket either way (identical python work); the difference is task
    # GRANULARITY: with one wave of coarse tasks, per-conversation pair
    # skew put a 2.4× spread on task durations (measured 15.5–38.1s at 16
    # cores, stage utilization 0.66) and the max task IS the stage wall;
    # one-bucket tasks let the scheduler greedy-pack the heavy ones first.
    # A user-specified repartition count is exempt from AQE coalescing, so
    # the granularity survives planning.
    #
    # Skew salting: a conversation's classify weight is |pairs| × |chunks|
    # (chunks grow with doc length), so HEAVY conversations — n_turns >
    # cfg.skew_turns_threshold, the same threshold that salts assembly —
    # get their PAIRS spread over cfg.salt_buckets sub-buckets by pair
    # hash, with only their doc row replicated to those buckets (normal
    # conversations pay nothing). Without this, one heavy conversation
    # (or several replicate-clones hashing into one bucket) set the stage
    # tail: measured p50 2.9s vs max 18.2s across the 128 bucket tasks.
    k = cfg.salt_buckets
    salted = k > 1 and "n_turns" in conversations.columns
    if salted:
        thr = cfg.skew_turns_threshold
        heavy = conversations.filter(F.col("n_turns") > thr).select(
            "conv_id", F.lit(True).alias("_heavy")
        )
        left = spans.join(F.broadcast(heavy), "conv_id", "left").withColumn(
            "_salt",
            F.when(
                F.col("_heavy").isNotNull(),
                F.pmod(F.xxhash64("e1_id", "e2_id"), F.lit(k)).cast("int"),
            ).otherwise(F.lit(0)),
        ).drop("_heavy")
        right = conversations.select(
            "conv_id",
            "doc_text",
            F.explode(
                F.when(
                    F.col("n_turns") > thr, F.sequence(F.lit(0), F.lit(k - 1))
                ).otherwise(F.array(F.lit(0)))
            ).alias("_salt"),
        )
    else:
        left = spans.withColumn("_salt", F.lit(0))
        right = conversations.select("conv_id", "doc_text", F.lit(0).alias("_salt"))
    hash_b = F.pmod(F.xxhash64("conv_id", "_salt"), F.lit(n_buckets))
    # repartition(n, "_b") HASH-partitions the bucket id — raw ids 0..n-1
    # collide (measured at n=64: only 41 distinct partitions, one task
    # carrying 4 buckets → the 9.5s max task vs 2.2s median that set the
    # classify stage tail). Remap each id to a representative long whose
    # Murmur3 partition IS that id, so bucket→task is a bijection and the
    # serpentine weight balance survives the exchange.
    # cast to long: _murmur3_long models Murmur3 over LongType — an int
    # literal array would be hashed 4-bytes-wide and land elsewhere
    rep_arr = F.array(*[F.lit(r) for r in _bucket_reps(n_buckets)]).cast("array<long>")
    to_rep = lambda c: F.element_at(rep_arr, c.cast("int") + 1)  # noqa: E731
    explicit = None
    if pair_weights is not None:
        if salted:
            u = pair_weights.join(
                conversations.select("conv_id", "n_turns"), "conv_id"
            ).withColumn(
                "_salts",
                F.when(
                    F.col("n_turns") > cfg.skew_turns_threshold,
                    F.sequence(F.lit(0), F.lit(k - 1)),
                ).otherwise(F.array(F.lit(0))),
            ).select(
                "conv_id",
                F.explode("_salts").alias("_salt"),
                (F.col("_w") / F.size("_salts")).alias("_w"),
            )
        else:
            u = pair_weights.select("conv_id", F.lit(0).alias("_salt"), "_w")
        explicit = _explicit_bucket_assignment(u, n_buckets)
    if explicit is not None:
        bucket = lambda df: df.join(  # noqa: E731
            F.broadcast(explicit), ["conv_id", "_salt"], "left"
        ).withColumn("_b", to_rep(F.coalesce("_bx", hash_b))).drop("_salt", "_bx")
    else:
        bucket = lambda df: df.withColumn(  # noqa: E731
            "_b", to_rep(hash_b)
        ).drop("_salt")
    return (
        bucket(left).repartition(n_buckets, "_b").groupBy("_b")
        .cogroup(bucket(right).repartition(n_buckets, "_b").groupBy("_b"))
        .applyInPandas(lambda left, right: per_bucket(left, right), _PRED_SCHEMA)
    )


def _murmur3_long(x: int, seed: int = 42) -> int:
    """Spark-exact Murmur3_x86_32.hashLong (the hash behind
    HashPartitioning / F.hash for a single LongType column): the low and
    the high 32-bit word mixed in order, finalized with total length 8.
    Returned as a signed int32, matching Spark's IntegerType result."""
    mask = 0xFFFFFFFF
    c1, c2 = 0xCC9E2D51, 0x1B873593

    def mixk1(k: int) -> int:
        k = (k * c1) & mask
        k = ((k << 15) | (k >> 17)) & mask
        return (k * c2) & mask

    def mixh1(h: int, k: int) -> int:
        h ^= k
        h = ((h << 13) | (h >> 19)) & mask
        return (h * 5 + 0xE6546B64) & mask

    h1 = mixh1(seed & mask, mixk1(x & mask))
    h1 = mixh1(h1, mixk1((x >> 32) & mask))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & mask
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & mask
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


@lru_cache(maxsize=None)
def _bucket_reps(n_buckets: int) -> tuple[int, ...]:
    """reps[p] = the smallest nonnegative long whose HashPartitioning
    target (pmod(murmur3(x), n)) is p — so mapping bucket id p → reps[p]
    before ``repartition(n, "_b")`` makes bucket→partition a bijection.
    Pure driver-side arithmetic (no Spark job); O(n·ln n) probes."""
    reps: dict[int, int] = {}
    x = 0
    while len(reps) < n_buckets:
        p = _murmur3_long(x) % n_buckets
        if p not in reps:
            reps[p] = x
        x += 1
    return tuple(reps[p] for p in range(n_buckets))


def _explicit_bucket_assignment(units: DataFrame, n_buckets: int) -> DataFrame:
    """(conv_id, _salt, _w) → (conv_id, _salt, _bx) for the 4·n_buckets
    heaviest units: serpentine over the weight-sorted rank (wave 0 fills
    buckets 0..n-1 heaviest-first, wave 1 refills n-1..0) so per-bucket
    weight sums stay balanced — plain round-robin stacks each wave's
    heaviest unit into bucket 0. TakeOrderedAndProject extracts the top
    units distributedly; the row_number window then runs over ≤4n rows."""
    from pyspark.sql.window import Window

    order = [F.desc("_w"), "conv_id", "_salt"]
    top = units.orderBy(*order).limit(4 * n_buckets)
    r = F.row_number().over(Window.orderBy(*order)) - 1
    top = top.withColumn("_r", r)
    wave = (F.col("_r") / n_buckets).cast("int")
    pos = F.col("_r") % n_buckets
    return top.select(
        "conv_id",
        "_salt",
        F.when(wave % 2 == 0, pos)
        .otherwise(n_buckets - 1 - pos)
        .cast("long")
        .alias("_bx"),
    )


def aggregate_triples(predictions: DataFrame) -> DataFrame:
    """P3 + J7 + A2 + F13 — chunk predictions → TRIPLES."""
    n_rel = len(RELATION_LABELS)
    kept = predictions.filter(F.col("pred_class") != NEGATIVE_CLASS)
    exploded = kept.select(
        "conv_id",
        F.explode(F.split("e1_id", ",")).alias("subj"),
        F.col("e2_id"),
        "rel_softmax",
        "novel_raw",
    ).select(
        "conv_id",
        "subj",
        F.explode(F.split("e2_id", ",")).alias("obj"),
        "rel_softmax",
        "novel_raw",
    )
    agg = exploded.groupBy("conv_id", "subj", "obj").agg(
        F.array(*[F.sum(F.col("rel_softmax")[i]) for i in range(n_rel)]).alias("rel_sum"),
        F.array(*[F.sum(F.col("novel_raw")[i]) for i in range(2)]).alias("nov_sum"),
    )
    labels = F.array(*[F.lit(x) for x in RELATION_LABELS])
    agg = agg.withColumn(
        "label_idx", (F.expr("array_position(rel_sum, array_max(rel_sum))") - 1).cast("int")
    ).withColumn("novel_idx", (F.expr("array_position(nov_sum, array_max(nov_sum))") - 1).cast("int"))
    return (
        agg.filter(F.col("label_idx") != NEGATIVE_CLASS)
        .select(
            "conv_id",
            "subj",
            labels[F.col("label_idx")].alias("pred"),
            "obj",
            (F.col("novel_idx") == 1).alias("novel"),
        )
        # deterministic order within each output file without a full-data
        # range shuffle (a global orderBy on every run was a pure scale tax;
        # global ordering only ever matters at a sink, where the writer can
        # ask for it explicitly)
        .sortWithinPartitions("conv_id", "subj", "obj")
    )

