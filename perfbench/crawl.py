"""crawl_increment: one crawl increment through ``job.run_job``.

The job's input holds urls that earlier runs already committed plus a
seeded batch of new pages and PDFs (30% of the pages on three hot hosts, so
salting engages). Each operation copies the committed prefix fresh and runs
the job over the whole input: the committed-table read and resume anti-join,
hot-host detection on the remaining work, the kernel over the new documents
and the nine appends.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

from ocr_cezam_spark import job, kernel
from ocr_cezam_spark.operators import extract as X
from ocr_cezam_spark.sources import catalog

from perfbench import inputs
from perfbench.spans import Tracer, duration, job_counts, job_group

TABLES = ("fields", "cells", "statuses", "codes", "links", "headings",
          "digests", "metrics", "extracted")
CHECK_SAMPLE = 64  # urls whose text is compared with kernel.extract per op
KERNEL_PHASES = ("decode_html", "extract_links", "head_metadata", "pdf_text")
WARM_SMALL_JOBS = 2
WARM_SIZE = {"n_committed": 400, "n_html": 40, "n_pdf": 4, "pool": 10}


def table_files(prefix: str) -> dict[int, int]:
    """Sizes of the data files under an output prefix, keyed by inode
    (Spark's .crc and _SUCCESS files excluded)."""
    out = {}
    for root, _, files in os.walk(prefix):
        for f in files:
            if not f.startswith((".", "_")):
                st = os.stat(os.path.join(root, f))
                out[st.st_ino] = st.st_size
    return out


def check_extracted(prefix: str, urls: list[str],
                    sample: list[dict]) -> list[str]:
    """Every input url committed exactly once, and each sampled row's
    committed text byte-for-byte what kernel.extract gives for its payload."""
    ext = pq.read_table(os.path.join(prefix, "extracted"),
                        columns=["url", "text"])
    got = ext.column("url").to_pylist()
    errors = []
    if len(got) != len(urls) or set(got) != set(urls):
        errors.append(f"extracted holds {len(got)} rows / {len(set(got))} "
                      f"urls for {len(urls)} input urls")
    text_of = dict(zip(got, ext.column("text").to_pylist()))
    for r in sample:
        want = kernel.extract(r["url"], r["html"], r["lang"])["text"]
        if text_of.get(r["url"]) != want:
            errors.append(f"text mismatch for {r['url']}")
    return errors


def max_over_median_docs(prefix: str) -> float:
    """Skew of the kernel stage, from the job's own per-partition table."""
    n = pq.read_table(os.path.join(prefix, "metrics"),
                      columns=["n_docs"]).column("n_docs").to_pylist()
    return max(n) / statistics.median(n)


def kernel_probe(sample: list[dict]) -> dict:
    """Single-thread, in-process kernel pass: once plain for the per-core
    rate, once with the kernel's public phase functions under spans; the
    rest is extract minus those phases (parse, scoring, tables, fields)."""
    t0 = time.perf_counter()
    results = [kernel.extract(r["url"], r["html"], r["lang"]) for r in sample]
    plain = time.perf_counter() - t0

    tracer = Tracer("kernel-probe")
    tracer.patch(kernel, "extract", "kernel.extract")
    for p in KERNEL_PHASES:
        tracer.patch(kernel, p, f"kernel.{p}")
    try:
        for r in sample:
            kernel.extract(r["url"], r["html"], r["lang"])
    finally:
        tracer.restore()

    def spent(name):
        return duration([s for s in tracer.spans if s["name"] == name])

    n = len(sample)
    out = {"kernel.docs_per_s_core": n / plain,
           "kernel.error_docs": sum(r["error"] is not None for r in results)}
    for p in KERNEL_PHASES:
        out[f"kernel.{p}_us"] = spent(f"kernel.{p}") / n * 1e6
    out["kernel.rest_us"] = (spent("kernel.extract") - sum(
        spent(f"kernel.{p}") for p in KERNEL_PHASES)) / n * 1e6
    return out


class CrawlIncrement:
    name = "crawl_increment"
    overhead_metric = "job.trace_overhead_frac"

    def __init__(self, seed: int, work: str, size: dict):
        self.seed, self.work, self.size = seed, work, size
        self.info: dict = {}
        self._ops = 0

    # -- set-up ------------------------------------------------------------
    def generate(self, out_dir: str) -> None:
        s = self.size
        self.state = inputs.increment_input(
            self.seed, s["committed"], s["html"], s["pdf"], s["pool"], out_dir)
        self.info = self.state["info"]
        urls = self.state["urls"]
        picks = random.Random(self.seed).sample(
            range(len(urls)), min(CHECK_SAMPLE, len(urls)))
        self.sample = [self.state["row"](i) for i in sorted(picks)]

    def warm_up(self, spark) -> None:
        """Cold jobs over a small increment of the same shape, then one
        over the run's input. The JVM compiles the per-job planning paths
        by call count, so small jobs warm those cheaply; the last job warms
        the paths that scale with the data."""
        d = os.path.join(self.work, "warm")
        os.makedirs(d)
        small = inputs.increment_input(self.seed + 1, **WARM_SIZE, out_dir=d)
        for state in [small] * WARM_SMALL_JOBS + [self.state]:
            job.run_job(spark, spark.read.parquet(state["input"]),
                        self._fresh_prefix(state["committed"]))

    def verify(self) -> tuple[int, list[str]]:
        """Outputs are checked after every operation, in run_pass."""
        return 0, []

    # -- the measured operation -------------------------------------------
    def _fresh_prefix(self, committed: str) -> str:
        """Copy of the committed prefix (hard links: parquet files are
        immutable and the job only adds new ones)."""
        self._ops += 1
        prefix = os.path.join(self.work, "out", f"op{self._ops}")
        os.makedirs(os.path.dirname(prefix), exist_ok=True)
        shutil.copytree(committed, prefix, copy_function=os.link)
        return prefix

    def run_pass(self, spark, tracer=None) -> list[dict]:
        """One ``job.run_job`` call, timed; checked and sized afterwards.
        With a tracer the call runs under spans and its own job group."""
        prefix = self._fresh_prefix(self.state["committed"])
        before = set(table_files(prefix))
        docs = spark.read.parquet(self.state["input"])
        rec = {"name": "run_job", "traced": tracer is not None,
               "error": None, "metrics": {}}
        group = f"{self.name}-op{self._ops}"
        if tracer is not None:
            self.patch(tracer, type(docs))
        try:
            with job_group(spark, group) if tracer else nullcontext():
                t0 = time.perf_counter()
                result = job.run_job(spark, docs, prefix)
                rec["seconds"] = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            return [rec]
        finally:
            if tracer is not None:
                tracer.restore()
        try:
            errors = check_extracted(prefix, self.state["urls"], self.sample)
        except OSError as e:  # e.g. no extracted table was written
            errors = [f"{type(e).__name__}: {e}"]
        if errors:
            rec["error"] = "; ".join(errors[:3])
            return [rec]
        written = sum(v for k, v in table_files(prefix).items()
                      if k not in before)
        m = rec["metrics"]
        m["catalog.rows_written"] = sum(result[t] for t in TABLES)
        m["catalog.bytes_written"] = written
        m["catalog.out_bytes_per_in_byte"] = (
            written / self.info["new_payload_bytes"])
        m["skew.max_over_median_docs"] = max_over_median_docs(prefix)
        if tracer is not None:
            root = [s for s in tracer.spans if s["name"] == "job.run_job"][-1]
            m.update(self.span_metrics(tracer, root))
            m["job.spark_jobs"], m["job.tasks"] = job_counts(spark, group)
        shutil.rmtree(prefix)
        return [rec]

    # -- tracing -----------------------------------------------------------
    def patch(self, tracer, df_class) -> None:
        tracer.patch(job, "run_job", "job.run_job")
        tracer.patch(catalog, "read", "catalog.read")
        tracer.patch(catalog, "resume_filter", "catalog.resume_filter")
        tracer.patch(catalog, "append", "catalog.append")
        tracer.patch(job, "detect_hot_hosts", "skew.detect_hot_hosts",
                     count_result=True)
        tracer.patch(job, "salted_repartition", "skew.salted_repartition")
        tracer.patch(X, "run_extract", "extract.run_extract")
        tracer.patch(df_class, "localCheckpoint", "spark.localCheckpoint")

    def span_metrics(self, tracer, root: dict) -> dict:
        hot = tracer.descendants(root, "skew.detect_hot_hosts")
        return {
            "job.run_job_s": root["end"] - root["start"],
            "job.materialize_s": duration(
                tracer.descendants(root, "spark.localCheckpoint")),
            "job.span_coverage": tracer.coverage(root),
            "catalog.resume_filter_s": duration(
                tracer.descendants(root, "catalog.resume_filter")),
            "catalog.append_s": duration(
                tracer.descendants(root, "catalog.append")),
            "skew.detect_hot_hosts_s": duration(hot),
            "skew.hot_hosts": sum(s["n"] for s in hot),
        }

    def probes(self, spark, untraced: list[dict]) -> dict:
        """Kernel pass over a fixed sample of the new documents, and the
        noop-sink run_extract over all of them."""
        new = self.state["new_rows"]
        k = min(self.size["kernel_sample"], len(new))
        out = kernel_probe([new[i * len(new) // k] for i in range(k)])
        path = os.path.join(self.work, "new.parquet")
        inputs.write_crawl(new, path)
        cores = spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        X.run_extract(spark.read.parquet(path), num_partitions=cores * 2) \
            .write.format("noop").mode("overwrite").save()
        run_extract_s = time.perf_counter() - t0
        out["extract.run_extract_s"] = run_extract_s
        out["extract.kernel_share"] = (
            len(new) / out["kernel.docs_per_s_core"] / cores / run_extract_s)
        return out
