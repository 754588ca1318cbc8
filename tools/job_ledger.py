"""Per-query Spark job ledger and plan census, with isolated walls.

For each named query and each rep this measures
  - build_s (the query function building its DataFrame) and action_s
    (the noop write);
  - build_jobs (jobs started while the query function built its
    DataFrame: schema inference, partition probes, eager collects and
    count gates) and action_jobs (jobs started by the noop write), both
    counted by perfbench's ``SparkCounters``;
  - generated classes compiled (the delta of Spark's CodegenMetrics
    compilation count): after the first rep, a non-zero count means the
    codegen cache did not hold the query's classes.
The plan census is perfbench's ``plan_census`` (exchanges and
Python-boundary nodes) plus the SortMergeJoin / BroadcastHashJoin /
ShuffledHashJoin nodes of the pre-execution formatted plan.

Job counts can differ between reps, since AQE re-plans at run time
(ann_topk_ivf_index runs 10 or 12 action jobs at sf0.01), so each
query's record reports the fastest rep's walls and counts as ``best``,
lists every rep as [build_s, action_s, build_jobs, action_jobs,
compiles], and sets ``counts_vary`` when the reps' job counts disagree.

Usage: python tools/job_ledger.py q1,q2,... [reps]

Runs on bench.py's session, warmup and between-query settle, so the
numbers line up with bench.py's.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import TOOL_CONF, noop, settle, warmup  # noqa: E402
from perfbench.sparkstats import SparkCounters, plan_census  # noqa: E402

JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
REP_FIELDS = ("build_s", "action_s", "build_jobs", "action_jobs", "compiles")


def _join_counts(df) -> dict[str, int]:
    """Join-strategy nodes in ``df``'s formatted plan, subqueries
    included; node-detail headers start with "(n)" and never match."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    text = df._jdf.queryExecution().explainString(mode.fromString("formatted"))
    words = [
        ln.strip().lstrip("+-:* ").split(" ", 1)[0].split("(", 1)[0]
        for ln in text.splitlines()
    ]
    return {j: words.count(j) for j in JOINS}


def summarize_reps(reps: list[tuple]) -> dict:
    """One query's record from its reps, each a ``REP_FIELDS`` tuple:
    ``best`` is the fastest rep, walls and job counts alike."""
    best = min(reps, key=lambda r: r[0] + r[1])
    out = {"best": dict(zip(REP_FIELDS, best)), "reps": [list(r) for r in reps]}
    if len({tuple(r[2:4]) for r in reps}) > 1:
        out["counts_vary"] = True
    return out


def main() -> None:
    names = [q for q in sys.argv[1].split(",") if q]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hudi_spark_utilities_plus_spark.queries import QUERIES
    from hudi_spark_utilities_plus_spark.session import build_spark_session

    spark = build_spark_session(app_name="job_ledger", conf=TOOL_CONF)
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME()
    warmup_failed = warmup(spark, {n: QUERIES[n] for n in names}, sf_dir)

    build, action = SparkCounters(spark), SparkCounters(spark)
    results = {}
    for name in names:
        fn = QUERIES[name]
        plan = None
        runs = []
        for _ in range(reps):
            build.mark()
            c0 = compiled.getCount()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            # untimed: the action mark and the plan census
            action.mark()
            if plan is None:
                plan = {**plan_census(df), **_join_counts(df)}
            t1a = time.perf_counter()
            noop(df)
            t2 = time.perf_counter()
            compiles = compiled.getCount() - c0
            action_jobs = action.since_mark()["jobs"]
            build_jobs = build.since_mark()["jobs"] - action_jobs
            runs.append((round(t1 - t0, 3), round(t2 - t1a, 3), build_jobs,
                         action_jobs, compiles))
            settle(spark)
        results[name] = {**summarize_reps(runs), "plan": plan}
        print(name, json.dumps(results[name]), flush=True)
    if warmup_failed:
        results["warmup_failed"] = warmup_failed
    print("LEDGER " + json.dumps(results))


if __name__ == "__main__":
    main()
