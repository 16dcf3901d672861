"""Per-query isolation bench (guide section 1.4) — NOT the driver's bench.

Times individual registry queries with the noop sink (median of N cold
reps, cache cleared between reps — the same methodology as bench.py) and
optionally dumps .explain("formatted") to plans/r08/<name>_<tag>.txt.

Usage:
    python bench_extra.py q1 q2 ...            # time listed queries
    python bench_extra.py --reps 3 q1 q2
    python bench_extra.py --plan before q1 q2  # also dump formatted plans
    python bench_extra.py --plan-only after q1 # dump plans, skip timing

Runs at local[SPARK_GRAFT_CPUS] (default: os.cpu_count()) over
SPARK_GRAFT_SF_DIR, and prints nproc, SPARK_GRAFT_CPUS and the master
string before and with its results.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    plan_tag = None
    plan_only = False
    extra: dict[str, str] = {}
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif a == "--conf":
            k, _, v = args[i + 1].partition("=")
            extra[k] = v
            i += 2
        elif a == "--plan":
            plan_tag = args[i + 1]
            i += 2
        elif a == "--plan-only":
            plan_tag = args[i + 1]
            plan_only = True
            i += 2
        else:
            names.append(a)
            i += 1

    from ocr_cezam_spark import queries as Q
    from ocr_cezam_spark.plans.audit import formatted_plan
    from ocr_cezam_spark.session import get_spark

    master = f"local[{CPUS}]"
    env = {"nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": CPUS,
           "master": master}
    print(json.dumps(env), flush=True)
    spark = get_spark(app="bench_extra", master=master,
                      shuffle_partitions=CPUS, extra=extra)
    # warm JVM + python workers like bench.py
    spark.range(0, 1_000_000, 1, CPUS).selectExpr("sum(id) AS s") \
        .write.mode("overwrite").format("noop").save()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
        .groupBy("l_returnflag").count() \
        .write.mode("overwrite").format("noop").save()

    plan_dir = os.path.join(REPO, "plans", "r08")
    os.makedirs(plan_dir, exist_ok=True)

    out: dict[str, float] = {}
    for name in names:
        fn = Q.QUERIES[name]
        if plan_tag is not None:
            spark.catalog.clearCache()
            df = fn(spark, SF_DIR)
            with open(os.path.join(plan_dir, f"{name}_{plan_tag}.txt"),
                      "w") as f:
                f.write(formatted_plan(df))
        if plan_only:
            continue
        samples = []
        for _ in range(reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            samples.append(time.time() - t0)
        out[name] = round(statistics.median(samples), 3)
        print(f"{name}: {out[name]}  (samples: "
              f"{[round(s, 3) for s in samples]})", flush=True)
    if out:
        print(json.dumps({"queries": out, "sf_dir": SF_DIR, "reps": reps,
                          **env}))
    spark.stop()


if __name__ == "__main__":
    main()
