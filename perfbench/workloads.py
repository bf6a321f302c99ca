"""The benchmark's workloads. Each one is a closed loop with one client
(the benchmark process) running full passes back to back.

A workload provides:
- `prepare(spark)`: materialize its inputs (part of every set-up);
- `source(spark)`: its input as a DataFrame (for the layer probes);
- `run_pass(spark, tracer, pass_no, sink)`: one full pass, every result
  materialized through `sink`; returns the wall times of its parts;
- `checked_pass(spark)`: the run's first (cold) pass, untimed, whose
  results are kept for `check`;
- `probe(spark, tracer)`: probes of the kg_api layer (traced runs);
- `check(spark)`: compare the kept results with an independent result,
  returning a list of mismatches (empty when correct);
- `triples_per_pass()`: the triples one pass builds or reads (known
  after `check`).
"""
from __future__ import annotations

import os
import time
from contextlib import contextmanager, nullcontext

from jsonld_js_spark.pipeline import TRIPLE_COLUMNS
from pyspark.sql import functions as F

import gen


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def signature(df) -> tuple[int, int]:
    """(count, order-independent hash) of a triple table: the sum of
    each row's xxhash64, summed as decimal so it cannot overflow."""
    row = (df.select(F.xxhash64(*TRIPLE_COLUMNS).alias("h"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("h").cast("decimal(38,0)")).alias("s"))
           .collect()[0])
    return int(row["n"]), int(row["s"] or 0)


@contextmanager
def layer(spark, tracer, group: str, name: str):
    """Span around one call into a layer; in traced runs the call's
    Spark jobs are tagged with job group `group` so event-log stage
    metrics attribute to it."""
    if tracer is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    try:
        with tracer.span(name):
            yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def kg_query(spark, tracer, q: str, sf_dir: str, group: str,
             sink=noop) -> float:
    """One registry query `kg_api.q_kg_{q}`: cache clear, call, sink.
    Returns its wall time; the span carries the job-group prefix of its
    Spark jobs."""
    from jsonld_js_spark import kg_api
    t0 = time.perf_counter()
    with (tracer.span(f"query.{q}") if tracer else nullcontext()) as sp:
        if sp is not None:
            sp["group"] = group
        spark.catalog.clearCache()
        with layer(spark, tracer, group + "/call", f"kg_api.q_kg_{q}"):
            df = getattr(kg_api, f"q_kg_{q}")(spark, sf_dir)
        with layer(spark, tracer, group + "/sink", "sink.noop"):
            sink(df)
    return time.perf_counter() - t0


KG_QUERIES = ("components",)                     # kg_graph's timed pass
KG_ALL = ("pagerank", "components", "degree_stats")  # all: traced probes


class BuildKernel:
    """`pipeline.kernel_transcript_triples` over a seeded parquet table
    that set-up writes: the general JSON-LD path (conv_id repartition,
    Arrow mapInPandas, pure-Python kernel)."""

    name = "build_kernel"
    N_CONV = 2000
    KG_PROBE_CONV = 20  # the registry generator's smallest size

    def __init__(self, seed: int, out_dir: str):
        self.seed = seed
        self.out_dir = out_dir
        self.path = os.path.join(out_dir, "transcripts.parquet")
        self.kept = None   # signature of the checked pass

    def prepare(self, spark) -> None:
        gen.write_parquet(spark, self.seed, self.N_CONV, self.path)

    def source(self, spark):
        return spark.read.parquet(self.path)

    @staticmethod
    def build(df):
        from jsonld_js_spark.pipeline import kernel_transcript_triples
        return kernel_transcript_triples(df)

    def run_pass(self, spark, tracer, pass_no: int, sink=noop) -> dict:
        """One pass; its span and job group cover the whole kernel path
        (the build is lazy, so it all runs inside the sink)."""
        with layer(spark, tracer, f"pass{pass_no}/kernel_path",
                   "kernel_path.kernel_transcript_triples"):
            sink(self.build(self.source(spark)))
        return {}

    def checked_pass(self, spark) -> None:
        self.kept = signature(self.build(self.source(spark)))

    def probe(self, spark, tracer) -> None:
        """The kg_api layer, which this workload bypasses: each registry
        query once, at the registry generator's smallest size."""
        sf_dir = os.path.join(self.out_dir,
                              f"sf{self.KG_PROBE_CONV / 100000:g}")
        for q in KG_ALL:
            kg_query(spark, tracer, q, sf_dir, f"probe/kg_api.{q}")

    def triples_per_pass(self) -> int:
        return self.kept[0]

    def check(self, spark) -> list[str]:
        """The vectorized ≡ kernel invariant (equal triple sets, by
        count and order-independent hash), and the count the generator
        derives."""
        from jsonld_js_spark.pipeline import transcript_triples
        ref = signature(transcript_triples(self.source(spark)))
        expected = gen.expected_triples(spark, self.seed, self.N_CONV)
        bad = []
        if self.kept != ref:
            bad.append(f"kernel triple set {self.kept} != vectorized {ref}")
        if ref[0] != expected:
            bad.append(f"{ref[0]} triples != generator-derived count "
                       f"{expected}")
        return bad


class KgGraph:
    """The registry's `q_kg_components` over the seedless registry
    generator; the seed only picks the size (the `sf` of `sf_dir`),
    1000-1004 conversations. Caches are cleared before each query.
    Traced runs also run `q_kg_pagerank` and `q_kg_degree_stats` once
    each, as probes whose results are checked too."""

    name = "kg_graph"
    BASE_CONV = 1000

    def __init__(self, seed: int, out_dir: str):
        self.n_conv = self.BASE_CONV + seed % 5
        self.sf_dir = os.path.join(out_dir, f"sf{self.n_conv / 100000:g}")
        self.kept: dict[str, tuple] = {}
        self.n_triples = None

    def prepare(self, spark) -> None:
        """Nothing to write: every query rebuilds its triples from the
        registry generator."""

    def source(self, spark):
        from jsonld_js_spark.transcripts import transcripts_df
        return transcripts_df(spark, n_conv=self.n_conv)

    def run_pass(self, spark, tracer, pass_no: int, sink=noop) -> dict:
        """One pass over KG_QUERIES; returns each query's wall time."""
        return {q: kg_query(spark, tracer, q, self.sf_dir,
                            f"pass{pass_no}/kg_api.{q}", sink)
                for q in KG_QUERIES}

    def _keep(self, q: str):
        def sink(df):
            self.kept[q] = (df.columns, [tuple(r) for r in df.collect()])
        return sink

    def probe(self, spark, tracer) -> None:
        """The registry queries outside the timed pass, once each."""
        for q in KG_ALL:
            if q not in KG_QUERIES:
                kg_query(spark, tracer, q, self.sf_dir, f"probe/kg_api.{q}",
                         self._keep(q))

    def triples_per_pass(self) -> int:
        """Each query rebuilds the KG's triples."""
        return len(KG_QUERIES) * self.n_triples

    def checked_pass(self, spark) -> None:
        for q in KG_QUERIES:
            kg_query(spark, None, q, self.sf_dir, "", self._keep(q))
        spark.catalog.clearCache()

    def check(self, spark) -> list[str]:
        """Compare against the registry's DuckDB oracles over the same
        triple set, materialized once in DuckDB (the oracle SQL takes
        the triple source as a parameter)."""
        import duckdb
        from jsonld_js_spark import kg_api
        from jsonld_js_spark.oracles import _triples_select
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE kg_triples AS "
                        + _triples_select(self.n_conv))
            self.n_triples = con.execute(
                "SELECT count(*) FROM kg_triples").fetchone()[0]
            bad = []
            for q in self.kept:
                sql = getattr(kg_api, f"oracle_kg_{q}")(
                    "SELECT * FROM kg_triples")
                res = con.execute(sql)
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                cols, rows = self.kept[q]
                if sorted(cols) != sorted(ocols):
                    bad.append(f"{q}: columns {cols} != oracle {ocols}")
                    continue
                if _norm(cols, rows) != _norm(ocols, orows):
                    bad.append(f"{q}: {len(rows)} rows differ from the "
                               f"oracle's {len(orows)}")
            return bad
        finally:
            con.close()


def _norm(cols, rows) -> list:
    """Rows with columns in name order, sorted: an order-insensitive
    comparison key (query results tie on their ORDER BY keys)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(str(r[i]) for i in idx) for r in rows))


WORKLOADS = {w.name: w for w in (BuildKernel, KgGraph)}
