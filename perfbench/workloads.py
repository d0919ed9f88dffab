"""The benchmark's workloads: inputs, the timed operation, output checks
and the per-layer report of a traced operation.

Every workload is a closed loop with one client: the next operation
starts when the previous one has returned.

* ``kg_catalog`` — ``pipeline.run`` into a fresh parquet ``StageCatalog``;
  traced runs add one resume with the stages after ``clean_links`` removed.
* ``driver_queries`` — one pass over the 18 headline driver queries, each
  result collected.
* ``kg_batch`` — ``flagship.run_kg_pipeline`` over a generated events
  table, triples collected.
* ``kg_long_conversation`` — ``kg_catalog`` plus one conversation longer
  than ``fused_tagger_max_turns``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import math
import os
import re
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import datagen
import tracing

HEADLINE = [
    "q1_pricing_summary", "q3_top_revenue_orders", "j1_broadcast_lookup", "j4_nearest_event",
    "j5_pair_selfjoin", "a1_majority_vote", "a2_softmax_argmax", "a3_interval_merge",
    "w1_ordered_reassembly", "sessionize", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "ann_topk_cosine", "ann_lsh_bucket", "ann_ivf_probe", "text_stats", "text_fingerprint",
]
ENTRY_QUERIES = HEADLINE[:10]  # registered in entry_queries.RELATIONAL
KG_LAYERS = ["assemble", "tagging", "linking", "clean", "pairs_extraction", "canonicalize",
             "catalog"]
KG_LAYER_COUNTERS = ["wall_s", "task_core_s", "shuffle_write_bytes", "spill_bytes",
                     "max_task_s", "median_task_s"]
PY_LAYERS = ["tagging", "linking", "pairs_extraction"]
PY_COUNTERS = ["python_s", "arrow_sent_bytes", "arrow_received_bytes"]
STAGE_LAYER = {
    "conversations": "assemble", "mentions": "tagging", "links": "linking",
    "clean_links": "clean", "pairs": "pairs_extraction", "triples": "pairs_extraction",
    "vertices": "canonicalize", "edges": "canonicalize",
}
STAGES = list(STAGE_LAYER)
TRIPLE_COLS = ["conv_id", "subj", "pred", "obj", "novel"]
LATE_STAGES = ["pairs", "triples", "vertices", "edges"]  # removed before the resume


def _unit(name: str) -> str:
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("ratio") or name.endswith("coverage"):
        return "ratio"
    return "count"


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, with its unit, in report order."""
    names = [f"{layer}.{c}" for layer in KG_LAYERS for c in KG_LAYER_COUNTERS]
    names += [f"{layer}.{c}" for layer in PY_LAYERS for c in PY_COUNTERS]
    names += ["tagging.mentions_out", "clean.links_out", "clean.linked_ratio",
              "pairs_extraction.triples_out", "canonicalize.spark_jobs",
              "catalog.bytes_written", "catalog.read_s", "kg.spark_jobs",
              "trace_overhead_s", "trace_coverage"]
    names += [f"{'entry' if q in ENTRY_QUERIES else 'corpus'}_queries.{q}_s" for q in HEADLINE]
    return [(n, _unit(n)) for n in names]


@dataclass
class Op:
    name: str
    t_start: float = 0.0
    t_job_end: float = 0.0
    job_s: float = 0.0
    resume_s: float | None = None
    calls: int = 0
    traced: bool = False
    error: BaseException | None = None
    stage: str | None = None
    result: object = None
    extra: dict = field(default_factory=dict)


def java_error_class(text: str) -> str | None:
    """The root Java error in a Py4J error text or a log: the last
    ``Caused by`` class in its stack trace, else the first Java error
    class named."""
    causes = re.findall(r"Caused by: ([\w.$]+(?:Error|Exception))", text)
    if causes:
        return causes[-1]
    m = re.search(r"\b((?:java|org\.apache\.spark)\.[\w.$]+(?:Error|Exception))", text)
    return m.group(1) if m else None


def stage_from_traceback(tb) -> str | None:
    """``module.function`` of the innermost program frame."""
    where = None
    while tb is not None:
        code = tb.tb_frame.f_code
        if f"{os.sep}bionext_spark{os.sep}" in code.co_filename:
            mod = code.co_filename.split(f"{os.sep}bionext_spark{os.sep}")[-1][:-3]
            where = f"{mod.replace(os.sep, '.')}.{code.co_name}"
        tb = tb.tb_next
    return where


def first_uncommitted(catalog_root: str) -> str | None:
    """The first pipeline stage with no committed snapshot under a
    ``StageCatalog`` root."""
    for stage in STAGES:
        if not glob.glob(os.path.join(catalog_root, stage, "*", "_manifest.json")):
            return stage
    return None


def _du(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def _norm_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _oracle_lexicons():
    from bionext_spark import kernels, oracle, synth

    lex = oracle.Lexicons(
        synth.lexicon_concepts_rows(),
        [{**r, "rank": i} for i, r in enumerate(synth.lexicon_genes_rows())],
        synth.train_direct_rows(),
        synth.lexicon_variants_rows(),
    )
    return lex, kernels.build_tag_lexicon(synth.tag_lexicon_entries())


def oracle_triples(rows: list[dict]) -> list[tuple]:
    from bionext_spark import oracle

    lex, tag_lex = _oracle_lexicons()
    out = oracle.run_pipeline(rows, lex, tag_lex)["triples"]
    return sorted(tuple(t[c] for c in TRIPLE_COLS) for t in out)


@contextlib.contextmanager
def timed(op: Op, spark):
    """Time the block as ``op``'s timed call: wall-clock window, CPU
    seconds of this process tree (driver, JVM, Python workers), the same
    CPU time scaled to the reference host speed by a ``SpeedProbe``
    running through the window, and the Spark jobs it ran (counted
    through a job group, which adds no job)."""
    sc = spark.sparkContext
    group = f"perfbench-{op.name}"
    sc.setJobGroup(group, op.name)
    probe = tracing.SpeedProbe(spark)
    cpu0 = tracing.tree_cpu_seconds(os.getpid())
    op.t_start = time.time()
    try:
        with probe:
            yield
    finally:
        op.t_job_end = time.time()
        op.job_s = op.t_job_end - op.t_start
        # the probe runs in this process: its own CPU time is not the program's
        op.extra["cpu_s"] = tracing.tree_cpu_seconds(os.getpid()) - cpu0 - probe.cpu_s
        op.extra["ref_cpu_s"] = probe.scale(op.extra["cpu_s"])
        op.extra["probe_burst_s"] = (statistics.median(probe.bursts) if probe.bursts
                                     else None)
        sc.setLocalProperty("spark.jobGroup.id", None)
    op.extra["spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))


def _triple_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*TRIPLE_COLS).collect())


def _counters_for(spans_by_layer: dict[str, list[int]], tracer, attributed) -> dict:
    out = {}
    for layer, idxs in spans_by_layer.items():
        tasks = [t for i in idxs for t in attributed.get(i, {}).get("tasks", [])]
        out[layer] = tracing.layer_counters(sum(tracer.self_time(i) for i in idxs), tasks)
    return out


class Workload:
    kg = False
    turns = 0

    def __init__(self, spark, run_dir: str) -> None:
        self.spark, self.run_dir = spark, run_dir

    @classmethod
    def prepare(cls, run_dir: str, seed: int, size: str) -> None:
        """Write the inputs for ``seed`` under ``run_dir`` (runs before the
        measured process starts)."""

    def setup(self) -> None:
        """Build what the workload needs before timing (part of ``setup_s``)."""

    def persistent_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def per_query(self, ops: list[Op]) -> dict[str, list[float]]:
        return {}

    def layer_report(self, counters: dict) -> dict:
        """Flatten per-layer counters into the named per-layer metrics;
        layers this workload never enters read 0."""
        out = {name: 0 for name, _ in per_layer_names()}
        for layer, c in counters.items():
            for key in KG_LAYER_COUNTERS + (PY_COUNTERS if layer in PY_LAYERS else []):
                out[f"{layer}.{key}"] = c[key]
        return out


# --------------------------------------------------------------------------
# Catalog-backed pipeline
# --------------------------------------------------------------------------


class KgCatalog(Workload):
    """``pipeline.run`` over ordinary conversations (plus, traced, a resume)."""

    kg = True
    conversations = {"full": 100, "tiny": 12}
    long_turns = 40

    @classmethod
    def prepare(cls, run_dir: str, seed: int, size: str) -> None:
        datagen.write_transcripts(os.path.join(run_dir, "input", "transcripts.parquet"), seed,
                                  cls.conversations[size], cls.long_turns)

    def __init__(self, spark, run_dir: str) -> None:
        super().__init__(spark, run_dir)
        self.input = os.path.join(run_dir, "input", "transcripts.parquet")
        self.transcripts = spark.read.parquet(self.input)
        self.turns = datagen.row_count(self.input)

    def setup(self) -> None:
        from bionext_spark.sources import fixtures

        fixtures.linker_side_data(self.spark)

    def _traced(self, tracer):
        """Context manager: spans around every ``StageCatalog.run_stage``."""
        from bionext_spark.sources.catalog import StageCatalog

        def factory(original):
            @functools.wraps(original)
            def run_stage(cat, stage, fn, inputs, config_fingerprint=""):
                t0 = time.perf_counter()
                resumed = cat.is_committed(
                    stage, cat.snapshot_id(stage, inputs, config_fingerprint))
                tracer.charge(time.perf_counter() - t0)
                with tracer.span(f"stage:{stage}", stage=stage, resumed=resumed):
                    return original(cat, stage, fn, inputs, config_fingerprint)
            return run_stage

        return tracing.patched(StageCatalog, "run_stage", factory)

    def run_op(self, i: int, tracer) -> Op:
        from contextlib import nullcontext

        from bionext_spark import pipeline

        root = os.path.join(self.run_dir, "catalog", f"op{i}")
        op = Op(name=f"pipeline.run#{i}")
        with self._traced(tracer) if tracer else nullcontext():
            try:
                with timed(op, self.spark):
                    res = pipeline.run(self.spark, self.transcripts, root)
                op.calls += 1
                op.extra["manifests"] = res.manifests
                op.extra["bytes_written"] = _du(root)
                op.result = _triple_rows(res.triples)
                # Traced runs add one resume (a quarter of a run's time);
                # untraced runs skip it to keep each run short.
                if tracer:
                    for stage in LATE_STAGES:
                        shutil.rmtree(os.path.join(root, stage), ignore_errors=True)
                    t0 = time.time()
                    res = pipeline.run(self.spark, self.transcripts, root)
                    op.calls += 1
                    op.resume_s = time.time() - t0
                    op.extra["resume"] = (t0, t0 + op.resume_s, _triple_rows(res.triples))
            except Exception as exc:  # recorded as a failed operation
                op.error, op.stage = exc, first_uncommitted(root)
        return op

    def check(self, ops: list[Op]) -> dict[str, bool]:
        rows = datagen.read_rows(self.input)
        expected = oracle_triples(rows)
        out = {}
        for op in ops:
            out[f"{op.name}:run"] = op.result == expected
            if "resume" in op.extra:
                out[f"{op.name}:resume"] = op.extra["resume"][2] == expected
        return out

    def per_layer(self, tracer, jobs, tasks, op: Op) -> dict:
        t0, t1 = op.t_start, op.t_job_end
        r0, r1, _ = op.extra["resume"]
        run_roots = {i for i, s in enumerate(tracer.spans) if s.parent is None and t0 <= s.start < t1}
        res_roots = {i for i, s in enumerate(tracer.spans) if s.parent is None and r0 <= s.start < r1}
        attributed = tracing.attribute(tracer, run_roots | res_roots, jobs, tasks)
        by_layer: dict[str, list[int]] = {layer: [] for layer in KG_LAYERS}
        for i in run_roots:
            by_layer[STAGE_LAYER[tracer.spans[i].attrs["stage"]]].append(i)
        resumed = [i for i in res_roots if tracer.spans[i].attrs["resumed"]]
        by_layer["catalog"] = resumed
        out = self.layer_report(_counters_for(by_layer, tracer, attributed))
        m = op.extra["manifests"]
        out["tagging.mentions_out"] = m["mentions"].row_count
        out["clean.links_out"] = m["clean_links"].row_count
        out["clean.linked_ratio"] = (m["clean_links"].row_count / m["mentions"].row_count
                                     if m["mentions"].row_count else 0.0)
        out["pairs_extraction.triples_out"] = m["triples"].row_count
        out["canonicalize.spark_jobs"] = sum(attributed.get(i, {}).get("jobs", 0)
                                             for i in by_layer["canonicalize"])
        out["catalog.bytes_written"] = op.extra["bytes_written"]
        out["catalog.read_s"] = sum(tracer.spans[i].duration for i in resumed)
        return out


class KgLongConversation(KgCatalog):
    """A few hundred ordinary conversations plus one conversation of
    12,000 turns: more than ``fused_tagger_max_turns`` (10,000), so it
    takes the salted assembly and the window-parallel tagger."""

    conversations = {"full": 300, "tiny": 12}
    long_turns = 12_000


# --------------------------------------------------------------------------
# Flagship (localCheckpoint) pipeline
# --------------------------------------------------------------------------


class KgBatch(Workload):
    """``flagship.run_kg_pipeline`` over an events table shaped like the
    sf0.1 testdata table (1,500 users, 100k events)."""

    kg = True
    shape = {"full": (1500, 100_000), "tiny": (30, 2000)}
    CHECKPOINT_LAYERS = ["assemble", "tagging", "clean"]

    @classmethod
    def prepare(cls, run_dir: str, seed: int, size: str) -> None:
        users, events = cls.shape[size]
        datagen.write_events(os.path.join(run_dir, "input", "events"), seed, users, events)

    def __init__(self, spark, run_dir: str) -> None:
        super().__init__(spark, run_dir)
        self.sf_dir = os.path.join(run_dir, "input", "events")
        self.turns = datagen.row_count(os.path.join(self.sf_dir, "events.parquet"))

    def setup(self) -> None:
        from bionext_spark.sources import fixtures

        fixtures.linker_side_data(self.spark)

    def _traced(self, tracer, checkpoints: list):
        """Spans around each ``localCheckpoint`` issued by
        ``run_kg_pipeline`` and around its ``run_linker`` call.
        ``run_linker`` returns a mostly lazy plan: the ``clean`` checkpoint
        runs it, so most linker work is attributed to ``clean`` here."""
        from bionext_spark import flagship

        df_cls = type(self.spark.range(1))

        def cp_factory(original):
            @functools.wraps(original)
            def local_checkpoint(df, *a, **kw):
                if sys._getframe(1).f_code is not flagship.run_kg_pipeline.__code__:
                    return original(df, *a, **kw)
                name = self.CHECKPOINT_LAYERS[min(len(checkpoints), 2)]
                with tracer.span(name):
                    out = original(df, *a, **kw)
                checkpoints.append(out)
                return out
            return local_checkpoint

        def linker_factory(original):
            @functools.wraps(original)
            def run_linker(*a, **kw):
                with tracer.span("linking"):
                    return original(*a, **kw)
            return run_linker

        stack = contextlib.ExitStack()
        stack.enter_context(tracing.patched(df_cls, "localCheckpoint", cp_factory))
        stack.enter_context(tracing.patched(flagship, "run_linker", linker_factory))
        return stack

    def run_op(self, i: int, tracer) -> Op:
        from contextlib import nullcontext

        from bionext_spark.flagship import run_kg_pipeline

        op = Op(name=f"run_kg_pipeline#{i}", calls=1)
        checkpoints: list = []
        try:
            with timed(op, self.spark), self._traced(tracer, checkpoints) if tracer else nullcontext():
                triples = run_kg_pipeline(self.spark, self.sf_dir)
                with tracer.span("pairs_extraction") if tracer else nullcontext():
                    # the collected triples are the sink and the checked output
                    op.result = _triple_rows(triples)
            if tracer and len(checkpoints) == 3:
                # untimed counts read back from the checkpointed blocks: no
                # plan re-runs
                op.extra["mentions"], op.extra["cleaned"] = (cp.count() for cp in checkpoints[1:])
        except Exception as exc:  # recorded as a failed operation
            op.error = exc
            op.stage = tracer.current if tracer else None
        return op

    def check(self, ops: list[Op]) -> dict[str, bool]:
        """Each call's triples must hash equal to the oracle's triples over
        the same events."""
        import hashlib

        def digest(rows) -> str:
            return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()

        rows = datagen.derive_transcript_rows(os.path.join(self.sf_dir, "events.parquet"))
        expected = digest(oracle_triples(rows))
        return {op.name: digest(op.result) == expected for op in ops}

    def per_layer(self, tracer, jobs, tasks, op: Op) -> dict:
        roots = {i for i, s in enumerate(tracer.spans)
                 if s.parent is None and op.t_start <= s.start < op.t_job_end}
        attributed = tracing.attribute(tracer, roots, jobs, tasks)
        by_layer: dict[str, list[int]] = {}
        for i in roots:
            by_layer.setdefault(tracer.spans[i].name, []).append(i)
        out = self.layer_report(_counters_for(by_layer, tracer, attributed))
        if "mentions" in op.extra:
            mentions, cleaned = op.extra["mentions"], op.extra["cleaned"]
            out["tagging.mentions_out"] = mentions
            out["clean.links_out"] = cleaned
            out["clean.linked_ratio"] = cleaned / mentions if mentions else 0.0
        return out


# --------------------------------------------------------------------------
# Driver queries
# --------------------------------------------------------------------------


class DriverQueries(Workload):
    """The 18 headline queries over generated driver tables."""

    sf = {"full": 0.05, "tiny": 0.001}

    @classmethod
    def prepare(cls, run_dir: str, seed: int, size: str) -> None:
        datagen.write_tables(os.path.join(run_dir, "input", "tables"), seed, cls.sf[size])

    def __init__(self, spark, run_dir: str) -> None:
        from bionext_spark.corpus_queries import CORPUS
        from bionext_spark.entry_queries import RELATIONAL

        super().__init__(spark, run_dir)
        self.sf_dir = os.path.join(run_dir, "input", "tables")
        registry = {**RELATIONAL, **CORPUS}
        self.queries = {q: registry[q] for q in HEADLINE}

    def run_op(self, i: int, tracer) -> Op:
        """One pass over the headline queries; each result is collected
        (the sink, and the output the check compares)."""
        from contextlib import nullcontext

        op = Op(name=f"headline_pass#{i}", calls=1, extra={"per_query": {}}, result={})
        try:
            with timed(op, self.spark):
                for q, (fn, _sql) in self.queries.items():
                    op.stage = q
                    layer = "entry_queries" if q in ENTRY_QUERIES else "corpus_queries"
                    t0 = time.time()
                    with tracer.span(f"{layer}.{q}") if tracer else nullcontext():
                        df = fn(self.spark, self.sf_dir)
                        op.result[q] = (df.columns, [tuple(r) for r in df.collect()])
                    op.extra["per_query"][q] = time.time() - t0
        except Exception as exc:  # recorded as a failed operation
            op.error = exc
        return op

    def check(self, ops: list[Op]) -> dict[str, bool]:
        """Every collected result against the query's DuckDB oracle SQL."""
        import duckdb

        con = duckdb.connect()
        for name in datagen.TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, name + '.parquet')}'")
        out = {}
        for q, (_fn, sql) in self.queries.items():
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            expected = _norm_rows(dcols, res.fetchall())
            for op in ops:
                cols, rows = op.result[q]
                out[f"{op.name}:{q}"] = (sorted(cols) == sorted(dcols)
                                         and _norm_rows(cols, rows) == expected)
        con.close()
        return out

    def per_query(self, ops: list[Op]) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for op in ops:
            for q, s in op.extra["per_query"].items():
                out.setdefault(q, []).append(s)
        return out

    def per_layer(self, tracer, jobs, tasks, op: Op) -> dict:
        out = self.layer_report({})
        for i, s in enumerate(tracer.spans):
            if op.t_start <= s.start < op.t_job_end:
                out[f"{s.name}_s"] = s.duration
        return out


WORKLOADS = {
    "kg_catalog": KgCatalog,
    "kg_long_conversation": KgLongConversation,
    "kg_batch": KgBatch,
    "driver_queries": DriverQueries,
}
