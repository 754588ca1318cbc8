"""Per-query noise-immune evidence: Spark JOB ledger + plan Exchange
census, the stable optimization signals on an oversubscribed host
(wall clocks vary 2-5x here; job/exchange counts are deterministic).

For each named query this prints
  - n_jobs and, per job, (job_id, #stages, #tasks, description/callsite)
    from the live AppStatusStore (works with spark.ui.enabled=false);
  - Exchange / BroadcastExchange / SortMergeJoin / BroadcastHashJoin /
    ShuffledHashJoin node counts and the Python-boundary nodes
    (BatchEvalPython / ArrowEvalPython / MapInPandas / MapInArrow /
    FlatMapGroupsInPandas[WithState] / FlatMapCoGroupsInPandas) in the
    pre-execution formatted plan;
  - min-of-N isolated walls (build_s / action_s split like
    profile_query.py);
  - generated classes compiled per rep (the delta of Spark's
    CodegenMetrics compilation count): after the first rep, a non-zero
    count means the codegen cache did not hold the query's classes.

Usage: python tools/job_ledger.py q1,q2,... [reps]

Same session shape as bench.py (local[$SPARK_GRAFT_CPUS], sf0.001
warmup, noop sink) so numbers line up with BENCH artifacts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLAN_NODES = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "FlatMapCoGroupsInPandas",
)


def _plan_census(df) -> dict[str, int]:
    txt = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # "Exchange" alone must not double-count BroadcastExchange lines
    lines = txt.splitlines()
    counts = {n: 0 for n in PLAN_NODES}
    for ln in lines:
        s = ln.strip().lstrip("+-:* ")
        for n in PLAN_NODES:
            if s.startswith(n + " ") or s == n or s.startswith(n + "("):
                if n == "Exchange" and s.startswith("BroadcastExchange"):
                    continue
                counts[n] += 1
                break
    return counts


def _compiles(spark) -> int:
    """Generated classes compiled by this JVM so far (cache misses)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _jobs_since(spark, first_job_id: int) -> list[dict]:
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.jobId() >= first_job_id:
            desc = j.description()
            out.append(
                {
                    "job": j.jobId(),
                    "stages": j.stageIds().size(),
                    "tasks": j.numTasks(),
                    "name": (desc.get() if desc.isDefined() else j.name())[:140],
                }
            )
    return sorted(out, key=lambda r: r["job"])


def main() -> None:
    names = [q for q in sys.argv[1].split(",") if q]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from hudi_spark_utilities_plus_spark.queries import QUERIES
    from hudi_spark_utilities_plus_spark.session import build_spark_session

    spark = build_spark_session(
        app_name="job_ledger",
        master=f"local[{cpus}]",
        conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in names:
        try:
            QUERIES[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    spark.catalog.clearCache()

    results = {}
    for name in names:
        fn = QUERIES[name]
        best = None
        ledger = None
        census = None
        compiles = []
        for rep in range(reps):
            jl = sc._jsc.sc().statusStore().jobsList(None)
            next_job = (
                max(jl.apply(i).jobId() for i in range(jl.size())) + 1
                if jl.size()
                else 0
            )
            sc.setJobDescription(f"ledger:{name}")
            c0 = _compiles(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            if census is None:
                census = _plan_census(df)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            compiles.append(_compiles(spark) - c0)
            sc.setJobDescription(None)
            jobs = _jobs_since(spark, next_job)
            rec = {
                "build_s": round(t1 - t0, 3),
                "action_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "n_jobs": len(jobs),
            }
            if best is None or rec["total_s"] < best["total_s"]:
                best = rec
            if ledger is None or len(jobs) != ledger["n_jobs"]:
                ledger = {"n_jobs": len(jobs), "jobs": jobs}
            spark.catalog.clearCache()
            import gc

            gc.collect()
            sc._jvm.System.gc()
        results[name] = {
            "best": best,
            "plan": census,
            "compiles": compiles,
            "n_jobs": ledger["n_jobs"],
            "jobs": ledger["jobs"],
        }
        print(name, json.dumps(results[name]["best"]), "plan",
              json.dumps(census), "compiles", compiles, flush=True)
        for j in ledger["jobs"]:
            print(f"   job {j['job']:>4} stages={j['stages']} "
                  f"tasks={j['tasks']:>4} {j['name']}", flush=True)
    print("LEDGER " + json.dumps(results))


if __name__ == "__main__":
    main()
