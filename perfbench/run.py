"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_increment --seed 1 --seconds 15 --trace 0

Runs one workload (or ``all`` of them in turn) at ``local[nproc]`` from the
root of a checkout and prints one JSON result object as the last line of
stdout: end-to-end metrics with ``--trace 0``, per-layer metrics from a
traced run with ``--trace 1``. Provenance and extra figures are printed on
the line before it. Inputs, job outputs, Spark scratch space and the span
file live under ``.perfbench_work/`` in the checkout and are removed at
exit. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
MIN_PASSES = 3

SIZES = {
    "full": {
        "crawl_increment": {"committed": 40_000, "html": 6000, "pdf": 600,
                            "pool": 200, "kernel_sample": 2000},
        "corpus_queries": {"docs": 2000, "vecs": 1000},
    },
    "toy": {
        "crawl_increment": {"committed": 200, "html": 40, "pdf": 4,
                            "pool": 10, "kernel_sample": 20},
        "corpus_queries": {"docs": 100, "vecs": 60},
    },
}
WORKLOADS = tuple(SIZES["full"])


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def hermetic_env(work: str) -> None:
    """Point every scratch location Spark and Python use at ``work``."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # JVM temp files, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.chdir(work)  # spark-warehouse / derby files land here


def provenance(spark, seed: int, info: dict) -> dict:
    def git_sha() -> str:
        try:
            out = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                capture_output=True, text=True, timeout=10).stdout.split()
        except OSError:
            return "unknown"
        # a checkout that is not itself a repository has no sha
        return out[1] if len(out) == 2 and out[0] == ROOT else "unknown"

    import pyarrow
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "git_sha": git_sha(),
        "seed": seed,
        "inputs": info,
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
    }


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def pass_seconds(recs: list[dict]) -> float:
    """Seconds of one pass: the sum over the pass's operations (one run_job
    call, or each query) of that operation's median seconds."""
    by_name: dict[str, list[float]] = {}
    for r in recs:
        by_name.setdefault(r["name"], []).append(r["seconds"])
    return sum(statistics.median(v) for v in by_name.values())


def run_workload(name: str, spark, t_session: float, args, work: str,
                 spec: dict) -> tuple[dict, dict]:
    from perfbench.corpus_queries import CorpusQueries
    from perfbench.crawl import CrawlIncrement
    from perfbench.spans import Tracer

    cls = {"crawl_increment": CrawlIncrement,
           "corpus_queries": CorpusQueries}[name]
    wdir = os.path.join(work, name)
    os.makedirs(wdir)
    wl = cls(args.seed, wdir, SIZES[args.size][name])

    # Set-up: input generation is repeated and its median taken; the session
    # (started once per process, JVM launch included) and the warm-up are
    # paid once.
    gen = []
    for rep in range(SETUP_REPS):
        d = os.path.join(wdir, f"in{rep}")
        os.makedirs(d)
        t0 = time.perf_counter()
        wl.generate(d)
        gen.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up(spark)
    t_warm = time.perf_counter() - t0
    attempted, errors = wl.verify()

    tracer = Tracer(f"{name}-{args.seed}-{os.getpid()}") if args.trace else None
    recs: list[dict] = []
    n_pass = 0
    t_end = time.perf_counter() + args.seconds
    # With tracing, passes alternate untraced / traced so the overhead of
    # the spans shows; end-to-end figures only ever use untraced passes.
    # A median needs a few passes even when the window is short.
    while time.perf_counter() < t_end or n_pass < MIN_PASSES + args.trace:
        traced = args.trace and n_pass % 2 == 1
        recs += wl.run_pass(spark, tracer if traced else None)
        n_pass += 1

    attempted += len(recs)
    errors += [r["error"] for r in recs if r["error"]]
    ok = [r for r in recs if not r["error"]]
    untraced = [r for r in ok if not r["traced"]]
    traced_recs = [r for r in ok if r["traced"]]

    values: dict[str, float] = {}
    try:
        if args.trace:
            values["session.get_spark_s"] = t_session
            values["session.peak_rss_mb"] = peak_rss_mb(spark)
            values["corpus.generate_s"] = statistics.median(gen)
            for k in {k for r in traced_recs for k in r["metrics"]}:
                values[k] = statistics.median(
                    r["metrics"][k] for r in traced_recs if k in r["metrics"])
            values[wl.overhead_metric] = (
                pass_seconds(traced_recs) / pass_seconds(untraced) - 1)
            values.update(wl.probes(spark, untraced))
            tracer.dump(os.path.join(work, f"spans-{name}.jsonl"))
            wanted = spec["per_layer"]
        else:
            values["setup_s"] = t_session + statistics.median(gen) + t_warm
            values["docs_per_s"] = wl.info["docs"] / pass_seconds(untraced)
            wanted = spec["end_to_end"]
    except (ValueError, ZeroDivisionError) as e:  # no successful pass
        errors.append(f"metrics: {type(e).__name__}: {e}")
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    # A layer this workload does not load reads 0.
    metrics = {m["name"]: {"value": float(values.get(m["name"]) or 0.0),
                           "unit": m["unit"]} for m in wanted}
    result = {"correct": not errors, "attempted": attempted,
              "failed": len(errors), "metrics": metrics}
    extra = {
        "workload": name,
        "provenance": provenance(spark, args.seed, wl.info),
        "ops_failed_frac": len(errors) / attempted,
        "errors": errors[:10],
        "op_seconds": [round(r["seconds"], 4) for r in untraced],
        "setup": {"session_s": t_session, "generate_s": gen,
                  "warm_up_s": t_warm},
        "peak_rss_mb": peak_rss_mb(spark),
    }
    return result, extra


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full",
                    help="input sizes; 'toy' is for the self-test")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import ocr_cezam_spark.job
    except ImportError as e:
        print(f"perfbench: engine not importable: {e}", file=sys.stderr)
        return 2
    if not ocr_cezam_spark.job.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: the engine is not part of {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    hermetic_env(work)
    spark = None
    try:
        from ocr_cezam_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app="perfbench")
        t_session = time.perf_counter() - t0
        names = WORKLOADS if args.workload == "all" else (args.workload,)
        results = []
        for name in names:
            result, extra = run_workload(name, spark, t_session, args, work,
                                         spec)
            results.append((name, result))
            print(json.dumps(extra), flush=True)
            if len(names) > 1:
                print(json.dumps({"workload": name, **result}), flush=True)
        if len(names) > 1:
            result = {
                "correct": all(r["correct"] for _, r in results),
                "attempted": sum(r["attempted"] for _, r in results),
                "failed": sum(r["failed"] for _, r in results),
                "metrics": {f"{n}.{k}": v for n, r in results
                            for k, v in r["metrics"].items()},
            }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            jvm.wait(timeout=60)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
