"""Set-up, warmup, the timed closed loop, the correctness check, and the
reduction of what was measured into the metrics BENCHMARK.json names."""

from __future__ import annotations

import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from .sparkstats import SparkCounters, plan_census, planning_seconds
from .storage import StorageMeter, table_files
from .tracing import Tracer
from .workloads import LLM, RELATIONAL

OP_TYPES = ("ingest_commit", "ingest_lookup", "cdc_batch", "cdc_read")
SPARK_METRICS = ("jobs", "tasks", "executor_run_s", "input_bytes", "shuffle_bytes")
LAYER_TIMES = {
    # per-layer metric -> span name whose self time it reports
    "sources.read_source_s": "sources.read_source",
    "operators.flatten_s": "operators.flatten",
    "operators.transform_s": "operators.transform",
    "pipelines.run_import_self_s": "pipelines.run_import",
    "lake.upsert_s": "lake.upsert",
    "lake.delete_s": "lake.delete",
    "lake.compact_s": "lake.compact",
    "lake.read_keys_s": "lake.read_keys",
    "lake.read_snapshot_s": "lake.read_snapshot",
    "lake.read_internal_s": "lake.read_internal",
    "cdc.apply_self_s": "cdc.apply",
}
SETUP_REPS = 9


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def _workers() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Runner:
    def __init__(self, workload_cls, seed: int, seconds: float, trace: bool, work: str):
        self.workers = _workers()
        self.wl = workload_cls(seed, self.workers, seconds)
        self.trace = trace
        self.work = work
        self.tracer = Tracer()
        self.attempted = 0
        self._count_lock = threading.Lock()
        self.failures: list[str] = []
        self.records: list[dict] = []  # one per measured op that returned
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.spark = None

    # -- session ---------------------------------------------------------
    def _build_session(self):
        from hudi_spark_utilities_plus_spark.session import build_spark_session

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep every JVM and Python temp file inside the work directory:
        # -UsePerfData stops the JVMs writing /tmp/hsperfdata_<user>
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        spark = build_spark_session(
            f"perfbench-{self.wl.name}",
            master=f"local[{self.workers}]",
            conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "2g",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def _setup(self) -> None:
        """Stage the inputs, start the JVM with a first session, then
        build the session and open the workload's tables SETUP_REPS times;
        the last session is the one measured. The input generation and
        the cold first build are timed apart from the repeated set-up."""
        t0 = time.perf_counter()
        self.wl.stage(os.path.join(self.work, "inputs"))
        t1 = time.perf_counter()
        self.spark = self._build_session()
        t2 = time.perf_counter()
        self.stage_s, self.cold_build_s = t1 - t0, t2 - t1
        for _ in range(SETUP_REPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self._build_session()
            t1 = time.perf_counter()
            self.wl.open(self.spark, self.work)
            t2 = time.perf_counter()
            self.session_s.append(t1 - t0)
            self.setup_s.append(t2 - t0)

    # -- ops ---------------------------------------------------------------
    def _run_op(self, op, cycle: int | None, traced: bool) -> None:
        """Run one op; ``cycle`` is its measured cycle, None in warmup."""
        with self._count_lock:
            self.attempted += 1
        counters = self.counters if traced else None
        rec = {"kind": op.kind, "rows": op.rows, "traced": traced, "cycle": cycle}
        if counters is not None:
            counters.mark()
        if traced:
            self.tracer.enabled = True
            self.tracer.start_op(self.attempted, op.kind)
        t0 = time.perf_counter()
        try:
            if op.family is not None and traced:
                result = self._traced_query(op, rec)
            else:
                result = op.run()
        except Exception as exc:  # one failed op must not end the run
            self.failures.append(f"{op.kind}: {type(exc).__name__}: {str(exc)[:300]}")
            return
        finally:
            wall = time.perf_counter() - t0
            self.tracer.end_op()
            self.tracer.enabled = False
        rec["wall_s"] = rec.pop("timed_s", wall)
        if op.verify is not None:
            try:
                err = op.verify(result)
            except Exception as exc:  # an unreadable result is a wrong one
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
            if err:
                self.mismatches.append(f"{op.kind}: {err}")
        if op.commit is not None:
            op.commit()
        if traced:
            rec["spark"] = counters.since_mark()
            if op.input_bytes and self.meter is not None:
                files, written = self.meter.walk()
                rec["files_written"] = files
                rec["bytes_written"] = written
                rec["input_bytes"] = op.input_bytes
            if op.table_path is not None:
                rec["log_files"] = sum(
                    1 for p in table_files(op.table_path) if "__hudi_log" in p
                )
        if cycle is not None:
            self.records.append(rec)
        stage = "warmup" if cycle is None else f"cycle {cycle}"
        print(f"perfbench: {stage} {op.kind} {rec['wall_s']:.3f}s")

    def _traced_query(self, op, rec):
        """A query op with its build and action timed apart, and the plan
        census and planning time taken between them, off the clock."""
        fn, spark, d = self.wl.queries[op.kind], self.spark, self.wl.fixtures
        t0 = time.perf_counter()
        df = fn(spark, d)
        t1 = time.perf_counter()
        rec.update(plan_census(df))
        rec["plan_s"] = planning_seconds(df)
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        rec["build_s"], rec["action_s"] = t1 - t0, t3 - t2
        rec["timed_s"] = (t1 - t0) + (t3 - t2)

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        self.mismatches: list[str] = []
        self._setup()
        self.counters = SparkCounters(self.spark) if self.trace else None
        self.meter = StorageMeter(self.wl.table_roots()) if self.trace else None
        if self.trace:
            self.tracer.install_package_wrappers()
        try:
            t0 = time.perf_counter()
            self._warmup()
            self.warmup_s = time.perf_counter() - t0
            if self.meter is not None:
                self.meter.walk()
            t1 = time.perf_counter()
            self._loop()
            t2 = time.perf_counter()
            err = self.wl.check()
            if err:
                self.mismatches.append(err)
            print(
                f"perfbench: stage {self.stage_s:.1f}s cold build {self.cold_build_s:.1f}s "
                f"setup {sum(self.setup_s):.1f}s warmup {self.warmup_s:.1f}s "
                f"loop {t2 - t1:.1f}s check {time.perf_counter() - t2:.1f}s"
            )
            live = StorageMeter(self.wl.table_roots())
            live.walk()
            self.live_bytes = live.live_bytes
        finally:
            self.tracer.unpatch()
            self._stop_spark()
        for m in self.mismatches + self.failures:
            print(f"perfbench: {m}")
        metrics = self._per_layer() if self.trace else self._end_to_end()
        if self.trace:
            self._dump_trace()
        return {
            "correct": not self.mismatches and not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": metrics,
        }

    def _stop_spark(self) -> None:
        """Stop the session, then the JVM: it exits when its stdin closes."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def _warmup(self) -> None:
        """The warmup ops, untimed; independent chains of them on up to one
        client thread per core, which shortens the cold first executions."""
        chains = self.wl.warmup_chains()

        def run(chain):
            for op in chain:
                self._run_op(op, cycle=None, traced=False)

        with ThreadPoolExecutor(min(len(chains), self.workers)) as pool:
            list(pool.map(run, chains))

    def _loop(self) -> None:
        """The workload's measured cycles, closed loop. In a traced run
        every other group of cycles is traced; the untraced ones give the
        tracing overhead."""
        m = self.wl.cycle_multiple
        cycle = -1
        for op in self.wl.ops():
            if self.wl.starts_cycle(op):
                cycle += 1
            traced = self.trace and cycle // m % 2 == 0
            self._run_op(op, cycle=cycle, traced=traced)

    # -- reduction ---------------------------------------------------------
    def _walls(self, kind: str, traced: bool | None = None) -> list[float]:
        return [
            r["wall_s"]
            for r in self.records
            if r["kind"] == kind and (traced is None or r["traced"] == traced)
        ]

    def _samples(self, kinds: tuple[str, ...], traced: bool | None = None) -> list[float]:
        """One sample per group of ``cycle_multiple`` cycles (for the lake,
        one compaction period of the demux): the mean over the group's
        cycles of the summed wall of the cycle's ``kinds`` ops."""
        per_cycle: dict[int, float] = {}
        for r in self.records:
            if r["kind"] in kinds and (traced is None or r["traced"] == traced):
                per_cycle[r["cycle"]] = per_cycle.get(r["cycle"], 0.0) + r["wall_s"]
        m = self.wl.cycle_multiple
        groups: dict[int, list[float]] = {}
        for c, wall in sorted(per_cycle.items()):
            groups.setdefault(c // m, []).append(wall)
        return [statistics.fmean(g) for g in groups.values() if len(g) == m]

    def _end_to_end(self) -> dict:
        primary = self._samples(self.wl.primary)
        secondary = self._samples(self.wl.secondary)
        if self.wl.name == "query_mix":
            # fixture rows over the time of one pass
            rows = self.wl.fixture_rows
            busy = _median(primary) + _median(secondary)
        else:
            rows = sum(r["rows"] for r in self.records)
            busy = sum(r["wall_s"] for r in self.records)
        m = {
            "setup_s": (_median(self.setup_s), "s"),
            "primary_p50_s": (_median(primary), "s"),
            "secondary_p50_s": (_median(secondary), "s"),
            "rows_per_s": (rows / busy if busy else 0.0, "rows/s"),
            "disk_bytes_per_row": (self.live_bytes / max(1, self.wl.live_rows()), "B/row"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def _per_layer(self) -> dict:
        traced = [r for r in self.records if r["traced"]]
        m: dict[str, tuple[float, str]] = {}
        m["session.build_s"] = (_median(self.session_s), "s")
        m["session.cold_build_s"] = (self.cold_build_s, "s")
        m["warmup_s"] = (self.warmup_s, "s")
        # layer self times and engine totals, per traced cycle
        cycles = max(1, len({r["cycle"] for r in traced}))
        times = self.tracer.self_times()
        for metric, span in LAYER_TIMES.items():
            m[metric] = (times.get(span, {}).get("self_s", 0.0) / cycles, "s")
        m["lake.compact_count"] = (
            times.get("lake.compact", {}).get("count", 0) / cycles, "count"
        )
        # storage, over the commits and demux batches
        commits = [r for r in traced if "files_written" in r]
        m["lake.files_written_per_commit"] = (
            statistics.fmean([r["files_written"] for r in commits]) if commits else 0.0,
            "count",
        )
        in_bytes = sum(r["input_bytes"] for r in commits)
        m["lake.bytes_written_per_input_byte"] = (
            sum(r["bytes_written"] for r in commits) / in_bytes if in_bytes else 0.0,
            "ratio",
        )
        m["lake.log_files_at_read"] = (
            _median([r["log_files"] for r in traced if "log_files" in r]), "count"
        )
        m.update(self._demux_metrics())
        for c, unit in (("stages", "count"), ("gc_s", "s"), ("spill_bytes", "B")):
            m[f"spark.{c}"] = (sum(r["spark"][c] for r in traced) / cycles, unit)
        # spark engine counters per op type
        for kind in OP_TYPES:
            recs = [r["spark"] for r in traced if r["kind"] == kind]
            for c in SPARK_METRICS:
                unit = "s" if c.endswith("_s") else ("B" if c.endswith("bytes") else "count")
                m[f"spark.{kind}.{c}"] = (_median([x[c] for x in recs]), unit)
        # the importer commit's wall, untraced; demux.batch_s is the batch's
        m["op.ingest_commit_s"] = (_median(self._walls("ingest_commit", traced=False)), "s")
        m.update(self._query_metrics(traced))
        # failures and tracing overhead
        m["ops.failed_ratio"] = (len(self.failures) / max(1, self.attempted), "ratio")
        m["trace.overhead_ratio"] = (self._overhead(), "ratio")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def _demux_metrics(self) -> dict:
        """Per demux batch: the tables applied, the median and slowest
        per-table apply, and how busy the apply pool was."""
        spans = self.tracer.spans
        batches = {s["op"]: s for s in spans if s["name"] == "cdc_batch"}
        applies: dict[int, list[float]] = {}
        for s in spans:
            if s["name"] == "cdc.apply" and s["op"] in batches:
                applies.setdefault(s["op"], []).append(s["end"] - s["start"])
        per_batch = [
            (batches[op]["end"] - batches[op]["start"], durs)
            for op, durs in applies.items()
        ]
        all_applies = [d for _, durs in per_batch for d in durs]
        eff = [
            sum(durs) / (wall * min(len(durs), self.workers))
            for wall, durs in per_batch
        ]
        return {
            "demux.batch_s": (_median([w for w, _ in per_batch]), "s"),
            "demux.tables_per_batch": (_median([len(d) for _, d in per_batch]), "count"),
            "cdc.apply_p50_s": (_median(all_applies), "s"),
            "cdc.apply_max_s": (_median([max(d) for _, d in per_batch]), "s"),
            "demux.pool_efficiency": (_median(eff), "ratio"),
        }

    def _query_metrics(self, traced: list[dict]) -> dict:
        m: dict[str, tuple[float, str]] = {}
        for family, ids in (("relational", RELATIONAL), ("llm", LLM)):
            plan, py = 0.0, 0.0
            for q in ids:
                recs = [r for r in traced if r["kind"] == q]
                m[f"query.{q}.build_s"] = (_median([r["build_s"] for r in recs]), "s")
                m[f"query.{q}.action_s"] = (_median([r["action_s"] for r in recs]), "s")
                m[f"query.{q}.jobs"] = (_median([r["spark"]["jobs"] for r in recs]), "count")
                m[f"query.{q}.exchanges"] = (_median([r["exchanges"] for r in recs]), "count")
                m[f"query.{q}.shuffle_bytes"] = (
                    _median([r["spark"]["shuffle_bytes"] for r in recs]), "B"
                )
                plan += _median([r["plan_s"] for r in recs])
                py += _median([r["python_nodes"] for r in recs])
            m[f"query.{family}.plan_s"] = (plan, "s")
            m[f"query.{family}.python_nodes"] = (py, "count")
        return m

    def _overhead(self) -> float:
        """Traced over untraced wall of the same ops: the primary ops in
        the lake, every id in the query mix."""
        kinds = self.wl.primary
        if self.wl.name == "query_mix":
            kinds = RELATIONAL + LLM
        on = _median(self._samples(kinds, traced=True))
        off = _median(self._samples(kinds, traced=False))
        return on / off if off else 0.0

    def _dump_trace(self) -> None:
        out = os.path.join(os.path.dirname(self.work), "traces")
        os.makedirs(out, exist_ok=True)
        self.tracer.dump(os.path.join(out, f"{self.wl.name}-{self.wl.seed}.jsonl"))
