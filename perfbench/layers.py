"""Per-layer probes for the traced run. Each one times calls into a
module's public functions from outside."""
from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from workloads import layer, noop

REPS = 3


def _median_s(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def source_scan_s(spark, tracer, source) -> float:
    """A scan-only pass over the workload's input: the floor under a
    pass that reads it."""
    def scan():
        with layer(spark, tracer, "probe/source", "source.scan"):
            noop(source(spark))
    return _median_s(scan)


def vectorized_probe(spark, tracer, source) -> dict:
    """`pipeline.transcript_triples` over the workload's input: driver
    plan-build time (build + physical planning), Exchange nodes in the
    executed plan, and one warm noop pass tagged `probe/vectorized`
    whose executor CPU the event log reports."""
    from jsonld_js_spark.pipeline import transcript_triples

    def plan():
        df = transcript_triples(source(spark))
        return df._jdf.queryExecution().executedPlan().toString()

    plan_s = _median_s(plan)
    exchanges = plan().count("Exchange ")
    noop(transcript_triples(source(spark)))  # warm its generated code
    with layer(spark, tracer, "probe/vectorized",
               "vectorized.transcript_triples"):
        noop(transcript_triples(source(spark)))
    return {"plan_s": plan_s, "exchanges": exchanges}


def kernel_path_probe(spark, tracer, source) -> int:
    """`pipeline.kernel_transcript_triples` over the workload's input,
    tagged `probe/kernel_path`; returns its output rows. Its rows are
    counted by an aggregate, which runs the Python kernel in full
    (mapInPandas output cannot be pruned)."""
    from jsonld_js_spark.pipeline import kernel_transcript_triples
    with layer(spark, tracer, "probe/kernel_path",
               "kernel_path.kernel_transcript_triples"):
        out = kernel_transcript_triples(source(spark))
        return out.agg(F.count(F.lit(1))).collect()[0][0]


# ---------------------------------------------------------------------------
# kernel sample: one 500-turn conversation plus 60 ten-turn ones
SAMPLE_SHAPE = [500] + [10] * 60


def _sample_docs() -> list[dict]:
    """Fixed conversation documents, built like the kernel path builds
    them (`kernel_path.build_conversation_doc`, context pre-processed
    and removed)."""
    from jsonld_js_spark.pipeline.kernel_path import build_conversation_doc
    from jsonld_js_spark.vocab import ENT_NS
    docs = []
    for c, n_turns in enumerate(SAMPLE_SHAPE):
        turns = []
        for t in range(n_turns):
            ents = sorted({(c * 7 + t * 3 + j * 11) % 40
                           for j in range(1 + t % 3)})
            tool = f"tool-{(c + t) % 7}" if t % 3 == 2 else None
            turns.append({
                "turn_idx": t,
                "role": ("user", "assistant", "tool")[t % 3],
                "text": f"Turn {t}: " + " ".join(
                    f"[[Entity{e}]]" for e in ents),
                "tool": tool,
                "ts_lex": f"2026-01-01T{c % 24:02d}:{t // 60 % 60:02d}:"
                          f"{t % 60:02d}Z",
                "mention_iris": [f"{ENT_NS}Entity{e}" for e in ents],
            })
        doc = build_conversation_doc(f"conv-{c:06d}", turns)
        del doc["@context"]
        docs.append(doc)
    return docs


def kernel_sample() -> dict:
    """Single-core timings of `kernel.expand`, the node map
    (`kernel.nodemap.create_merged_node_map`) and `kernel.to_rdf` on
    expanded input (node map plus quad emission), medians of REPS."""
    from jsonld_js_spark import kernel
    from jsonld_js_spark.kernel.context import initial_context, \
        process_context
    from jsonld_js_spark.kernel.nodemap import create_merged_node_map
    from jsonld_js_spark.vocab import TRANSCRIPT_CONTEXT
    opts = {"processingMode": "json-ld-1.1", "base": None}
    ctx = process_context(initial_context(opts), TRANSCRIPT_CONTEXT, opts)
    exp_opts = {"activeCtx": ctx, "skipCopy": True,
                "processingMode": "json-ld-1.1"}
    rdf_opts = {"skipExpansion": True}
    t_exp, t_nm, t_rdf, n_quads = [], [], [], 0
    for _ in range(REPS):
        docs = _sample_docs()
        t0 = time.perf_counter()
        expanded = [kernel.expand(d, exp_opts) for d in docs]
        t1 = time.perf_counter()
        for e in expanded:
            create_merged_node_map(e)
        t2 = time.perf_counter()
        n_quads = sum(len(kernel.to_rdf(e, rdf_opts)) for e in expanded)
        t3 = time.perf_counter()
        t_exp.append(t1 - t0)
        t_nm.append(t2 - t1)
        t_rdf.append(t3 - t2)
    expand_s, to_rdf_s = statistics.median(t_exp), statistics.median(t_rdf)
    return {"expand_s": expand_s, "nodemap_s": statistics.median(t_nm),
            "to_rdf_s": to_rdf_s, "quads": n_quads,
            "quads_per_s": n_quads / (expand_s + to_rdf_s)}


# ---------------------------------------------------------------------------
# UDF perf profiler (the kernel path probe). The profiler keys
# functions by file basename; a phase is its outermost matching call.
PHASES = {
    "arrow_in": ("serializers.py", "arrow_to_pandas"),
    "doc_build": ("kernel_path.py", "build_conversation_doc"),
    "expand": ("api.py", "expand"),
    "nodemap": ("nodemap.py", "create_node_map"),
    "to_rdf": ("rdf.py", "to_rdf"),
}
EMIT = ("kernel_path.py", "_emit_conversations")


def udf_profile(spark) -> dict:
    """Python time summed over workers, each phase's cumulative share
    of it (`to_rdf` includes the node map), and the calls of the
    kernel path's per-batch function (Arrow batches plus one
    carried tail per partition), from the perf profiler."""
    results = spark._profiler_collector._perf_profile_results
    total, cum, calls = 0.0, dict.fromkeys(PHASES, 0.0), 0
    for st in results.values():
        total += st.total_tt
        outer = dict.fromkeys(PHASES, 0.0)
        for (path, _line, fn), (_cc, nc, _tt, ct, _callers) in \
                st.stats.items():
            for phase, key in PHASES.items():
                if (path, fn) == key:
                    outer[phase] = max(outer[phase], ct)
            if (path, fn) == EMIT:
                calls += nc
        for phase, ct in outer.items():
            cum[phase] += ct
    return {"python_s": total,
            "share": {k: (v / total if total else 0.0)
                      for k, v in cum.items()},
            "batches": calls}
