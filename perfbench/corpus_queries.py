"""corpus_queries: registered queries over seed-generated corpus tables.

Each query is built with ``queries.QUERIES[q](spark, dir)`` and executed
into the noop sink. The extraction kernel is never called. The warm-up pass
collects every query's rows instead, and those rows are hashed against the
query's DuckDB oracle the way tools/check_oracles.py does it.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import nullcontext

import duckdb

from ocr_cezam_spark import queries

from perfbench import inputs
from perfbench.spans import job_counts, job_group

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))
from check_oracles import table_hash  # noqa: E402

# family -> (operator module, registered query) pairs
FAMILIES = {
    "dedup": (("dedup", "containment_pairs"),),
    "curation": (("sampling", "dsir_select"),),
    "vector": (("simsearch", "semantic_dedup"),),
}
QUERY_LAYERS = [f"{m}.{q}" for fam in FAMILIES.values() for m, q in fam]
WARM_PASSES = 1


class CorpusQueries:
    name = "corpus_queries"
    overhead_metric = "queries.trace_overhead_frac"

    def __init__(self, seed: int, work: str, size: dict):
        self.seed, self.work, self.size = seed, work, size
        self.info: dict = {}
        self.warm_rows: dict[str, tuple] = {}
        self._passes = 0

    def generate(self, out_dir: str) -> None:
        self.dir = out_dir
        self.info = inputs.write_corpus_tables(
            self.seed, self.size["docs"], self.size["vecs"], out_dir)
        self.info["docs"] = self.info["n_docs"] + self.info["n_vecs"]

    def warm_up(self, spark) -> None:
        """A cold pass that keeps each query's rows (or its error) for
        verify, then untimed noop passes until the JVM has compiled the
        planning paths the passes share."""
        for layer in QUERY_LAYERS:
            q = layer.split(".")[1]
            try:
                df = queries.QUERIES[q](spark, self.dir)
                self.warm_rows[q] = (df.columns,
                                     [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 - counted in verify
                self.warm_rows[q] = e
        for _ in range(WARM_PASSES):
            self.run_pass(spark)

    def verify(self) -> tuple[int, list[str]]:
        """Hash the warm-up rows of each query against its DuckDB oracle."""
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.dir}/{t}.parquet')")
        errors = []
        for q, got in self.warm_rows.items():
            if isinstance(got, Exception):
                errors.append(f"{q}: {type(got).__name__}: {got}"[:300])
                continue
            try:
                rel = con.sql(queries.ORACLES[q])
                want = table_hash(list(rel.columns), rel.fetchall())
            except duckdb.Error as e:
                errors.append(f"{q}: oracle: {e}"[:300])
                continue
            have = table_hash(*got)
            if have != want or sorted(got[0]) != sorted(rel.columns):
                errors.append(f"{q}: spark {have} != oracle {want}")
        con.close()
        return len(self.warm_rows), errors

    def run_pass(self, spark, tracer=None) -> list[dict]:
        """Every query once: build, then write to the noop sink."""
        self._passes += 1
        recs = []
        if tracer is not None:
            tracer.patch(type(spark.range(0)), "localCheckpoint",
                         "spark.localCheckpoint")
        try:
            for layer in QUERY_LAYERS:
                recs.append(self._run_query(spark, layer, tracer))
        finally:
            if tracer is not None:
                tracer.restore()
        return recs

    def _run_query(self, spark, layer: str, tracer) -> dict:
        q = layer.split(".")[1]
        rec = {"name": layer, "traced": tracer is not None, "error": None,
               "metrics": {}}
        g = f"{self.name}-{self._passes}-{q}"
        if tracer is not None:
            span, group = tracer.span, lambda n: job_group(spark, n)
        else:
            span = group = lambda n: nullcontext()
        try:
            with span("query." + q) as root:
                with group(g + "-build"), span("build"):
                    t0 = time.perf_counter()
                    df = queries.QUERIES[q](spark, self.dir)
                    t1 = time.perf_counter()
                with group(g + "-exec"), span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            rec["error"] = f"{q}: {type(e).__name__}: {e}"[:300]
            return rec
        rec["seconds"] = t2 - t0
        m = rec["metrics"]
        m[f"{layer}.build_s"] = t1 - t0
        m[f"{layer}.exec_s"] = t2 - t1
        if tracer is not None:
            jb, tb = job_counts(spark, g + "-build")
            je, te = job_counts(spark, g + "-exec")
            m[f"{layer}.jobs_at_build"] = jb
            m[f"{layer}.spark_jobs"] = jb + je
            m[f"{layer}.tasks"] = tb + te
            m["queries.span_coverage"] = tracer.coverage(root)
        return rec

    def probes(self, spark, untraced: list[dict]) -> dict:
        """Per family: the sum over its queries of the median untraced
        seconds."""
        out = {}
        for fam, members in FAMILIES.items():
            out[f"queries.{fam}_s"] = sum(
                statistics.median(r["seconds"] for r in untraced
                                  if r["name"] == f"{m}.{q}")
                for m, q in members)
        return out
