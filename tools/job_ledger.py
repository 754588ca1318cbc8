"""Per-query noise-immune evidence: Spark JOB ledger + plan Exchange
census, the stable optimization signals on an oversubscribed host
(wall clocks vary 2-5x here; job/exchange counts are deterministic).

For each named query this prints
  - n_jobs, split into build_jobs (started while the query function
    built its DataFrame: schema inference, partition probes, eager
    collects and count gates) and action_jobs (started by the noop
    write), and, per job, (job_id, phase, #stages, #tasks,
    description/callsite) from the live AppStatusStore (works with
    spark.ui.enabled=false);
  - Exchange / BroadcastExchange / SortMergeJoin / BroadcastHashJoin /
    ShuffledHashJoin node counts and the Python-boundary nodes
    (BatchEvalPython / ArrowEvalPython / MapInPandas / MapInArrow /
    FlatMapGroupsInPandas[WithState] / FlatMapCoGroupsInPandas) in the
    pre-execution formatted plan;
  - min-of-N isolated walls, split into build_s (the query function
    building its DataFrame) and action_s (the noop write);
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


def _next_job_id(spark) -> int:
    """Id the next submitted job will get, once the listener bus has
    delivered every job start to the status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    jl = sc.statusStore().jobsList(None)
    return 1 + max((jl.apply(i).jobId() for i in range(jl.size())), default=-1)


def _jobs_since(spark, first_job_id: int, action_job_id: int) -> list[dict]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    seq = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.jobId() >= first_job_id:
            desc = j.description()
            out.append(
                {
                    "job": j.jobId(),
                    "phase": "build" if j.jobId() < action_job_id else "action",
                    "stages": j.stageIds().size(),
                    "tasks": j.numTasks(),
                    "name": (desc.get() if desc.isDefined() else j.name())[:140],
                }
            )
    return sorted(out, key=lambda r: r["job"])


def _phase_counts(jobs: list[dict]) -> dict[str, int]:
    build = sum(1 for j in jobs if j["phase"] == "build")
    return {"n_jobs": len(jobs), "build_jobs": build, "action_jobs": len(jobs) - build}


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
    warmup_failed: dict[str, str] = {}
    for name in names:
        try:
            QUERIES[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # noqa: BLE001
            warmup_failed[name] = f"{type(exc).__name__}: {exc}"[:500]
    spark.catalog.clearCache()

    results = {}
    for name in names:
        fn = QUERIES[name]
        best = None
        ledger = None
        census = None
        compiles = []
        for rep in range(reps):
            next_job = _next_job_id(spark)
            sc.setJobDescription(f"ledger:{name}")
            c0 = _compiles(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            # untimed: the job-id mark and the plan census
            action_job = _next_job_id(spark)
            if census is None:
                census = _plan_census(df)
            t1a = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            compiles.append(_compiles(spark) - c0)
            sc.setJobDescription(None)
            jobs = _jobs_since(spark, next_job, action_job)
            rec = {
                "build_s": round(t1 - t0, 3),
                "action_s": round(t2 - t1a, 3),
                "total_s": round(t1 - t0 + t2 - t1a, 3),
                **_phase_counts(jobs),
            }
            if best is None or rec["total_s"] < best["total_s"]:
                best = rec
            if ledger is None or len(jobs) != ledger["n_jobs"]:
                ledger = {**_phase_counts(jobs), "jobs": jobs}
            spark.catalog.clearCache()
            import gc

            gc.collect()
            sc._jvm.System.gc()
        results[name] = {
            "best": best,
            "plan": census,
            "compiles": compiles,
            **ledger,
        }
        print(name, json.dumps(results[name]["best"]), "plan",
              json.dumps(census), "compiles", compiles, flush=True)
        for j in ledger["jobs"]:
            print(f"   job {j['job']:>4} {j['phase']:<6} stages={j['stages']} "
                  f"tasks={j['tasks']:>4} {j['name']}", flush=True)
    if warmup_failed:
        results["warmup_failed"] = warmup_failed
    print("LEDGER " + json.dumps(results))


if __name__ == "__main__":
    main()
