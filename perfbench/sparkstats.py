"""Spark engine counters read from the driver's status store, and a
census of a query plan's exchange and Python nodes. Works with the UI
disabled: the status store is fed by the listener bus either way."""

from __future__ import annotations

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "gc_s",
    "input_bytes",
    "shuffle_bytes",
    "spill_bytes",
)

# Exec nodes that cross the JVM/Python boundary. Names are matched as the
# whole first word of a formatted-plan line, so e.g. FlatMapGroupsInPandas
# does not also count FlatMapGroupsInPandasWithState.
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "FlatMapCoGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)
EXCHANGE_NODES = ("Exchange", "BroadcastExchange")


class SparkCounters:
    """Counts the jobs and stages that ran since ``mark()``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        self._first_job = 0

    def _drain(self) -> None:
        # job-end events reach the status store asynchronously
        self._bus.waitUntilEmpty(30_000)

    def mark(self) -> None:
        self._drain()
        jobs = self._store.jobsList(None)
        self._first_job = 1 + max(
            (jobs.apply(i).jobId() for i in range(jobs.size())), default=-1
        )

    def since_mark(self) -> dict[str, float]:
        self._drain()
        jobs = self._store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() >= self._first_job:
                n_jobs += 1
                ids = j.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = n_jobs
        for sid in stage_ids:
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # a skipped stage (shuffle reuse) never ran
                continue
            if s.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["input_bytes"] += s.inputBytes()
            out["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


def plan_census(df) -> dict[str, int]:
    """Exchange and Python-boundary node counts of ``df``'s physical plan
    as ``explain("formatted")`` prints it before execution."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    text = df._jdf.queryExecution().explainString(mode)
    counts = dict.fromkeys(EXCHANGE_NODES + PYTHON_NODES, 0)
    # the tree section of the formatted plan ends at the first blank line;
    # the per-node detail blocks after it repeat every node name
    tree = text.split("\n\n", 1)[0]
    for line in tree.splitlines():
        word = line.strip().lstrip("+-:* ").split(" ", 1)[0].split("(", 1)[0]
        if word in counts:
            counts[word] += 1
    return {
        "exchanges": sum(counts[n] for n in EXCHANGE_NODES),
        "python_nodes": sum(counts[n] for n in PYTHON_NODES),
    }


def planning_seconds(df) -> float:
    """Optimizer and planner time of ``df``'s query execution, from its
    phase tracker. Forces physical planning of ``df`` if it has not run."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs() / 1000.0
    return total
