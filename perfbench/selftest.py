"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

1. Runs every workload at toy size, untraced and traced, and checks that
   the result line names every metric of BENCHMARK.json with its unit and
   reports the run as correct.
2. Runs the crawl job once in-process and checks that the correctness
   check passes on its output and fails once one extracted text is altered;
   likewise that the query check fails once one result value is altered.
3. Runs the benchmark in a directory holding only BENCHMARK.json and the
   benchmark's files, where it must fail without printing a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")
failures: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(cwd: str, workload: str, trace: int):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result_lines(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(ROOT, w["name"], trace)
            tag = f"{w['name']} --trace {trace}"
            expect(p.returncode == 0, f"{tag}: exit 0")
            if p.returncode:
                print(p.stderr[-2000:])
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{tag}: result keys")
            expect(res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1, f"{tag}: correct run")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{tag}: every {key} metric with its unit")
            expect(all(isinstance(v["value"], float)
                       for v in res["metrics"].values()),
                   f"{tag}: numeric values")
    expect(not os.path.exists(os.path.join(ROOT, ".perfbench_work")),
           "scratch directory removed after the runs")


def check_detects_corruption() -> None:
    sys.path.insert(0, ROOT)
    from perfbench import run as bench

    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    bench.hermetic_env(work)
    from ocr_cezam_spark import job
    from ocr_cezam_spark.session import get_spark
    from perfbench.corpus_queries import CorpusQueries
    from perfbench.crawl import CrawlIncrement, check_extracted

    spark = get_spark(app="perfbench-selftest")
    jvm = spark.sparkContext._gateway.proc
    try:
        wl = CrawlIncrement(3, work, bench.SIZES["toy"]["crawl_increment"])
        os.makedirs(os.path.join(work, "in"))
        wl.generate(os.path.join(work, "in"))
        prefix = wl._fresh_prefix(wl.state["committed"])
        job.run_job(spark, spark.read.parquet(wl.state["input"]), prefix)
        urls = wl.state["urls"]
        rows = [wl.state["row"](i) for i in range(len(urls))]
        expect(check_extracted(prefix, urls, rows) == [],
               "crawl check passes on the job's output")
        ext_dir = os.path.join(prefix, "extracted")
        path, t = next(
            (p, t) for p in sorted(os.path.join(ext_dir, f)
                                   for f in os.listdir(ext_dir)
                                   if f.endswith(".zstd.parquet"))
            if (t := pq.read_table(p)).num_rows)  # a file the job wrote
        texts = t.column("text").to_pylist()
        texts[0] = texts[0] + " "
        pq.write_table(t.set_column(t.schema.get_field_index("text"), "text",
                                    pa.array(texts, pa.string())), path)
        errs = check_extracted(prefix, urls, rows)
        expect(any("text mismatch" in e for e in errs),
               "crawl check fails after one extracted text is altered")

        cq = CorpusQueries(3, work, bench.SIZES["toy"]["corpus_queries"])
        os.makedirs(os.path.join(work, "q"))
        cq.generate(os.path.join(work, "q"))
        cq.warm_up(spark)
        n, errs = cq.verify()
        expect(n > 0 and errs == [], "query check passes on Spark's rows")
        qrows = next(r for _, r in cq.warm_rows.values() if r)
        qrows[0] = tuple("altered" for _ in qrows[0])
        expect(len(cq.verify()[1]) == 1,
               "query check fails after one result row is altered")
    finally:
        spark.stop()
        jvm.stdin.close()
        jvm.wait(timeout=60)
        os.chdir(ROOT)
        shutil.rmtree(os.path.dirname(work), ignore_errors=True)


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bare, "crawl_increment", 0)
    expect(p.returncode != 0 and '"metrics"' not in p.stdout,
           "fails without a result where the engine is absent")
    shutil.rmtree(os.path.dirname(bare))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_result_lines(spec)
    check_bare_directory()
    check_detects_corruption()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
