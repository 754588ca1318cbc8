"""The two workloads. Each is a closed loop driven by one client: the
next op starts when the previous one returned. A cycle's primary and
secondary ops are:

=========  ==================================  ==========================
workload   primary ops                         secondary ops
=========  ==================================  ==========================
lake       importer commit, demux micro-batch  key lookup, table snapshot
query_mix  the LLM-family ids                  the relational ids
=========  ==================================  ==========================

The lake workload runs both lake pipelines, the JSON importer into a
COPY_ON_WRITE table and the CDC demux into MERGE_ON_READ tables, each
cycle one op of each kind in that order. A cycle's primary sample is the
summed wall of its primary ops, and likewise for the secondary ops.

A run measures a fixed number of cycles, so every run and every commit
sees the same table states whatever the speed of the program. The count
follows ``--seconds``: about that many seconds of cycles on a 4-core host,
and at least two groups of cycles.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np

from . import inputs, replay


@dataclass
class Op:
    kind: str  # ingest_commit | ingest_lookup | cdc_batch | cdc_read | query id
    run: Callable[[], object]
    rows: int = 0  # input rows the op feeds to the system
    input_bytes: int = 0  # of the input file, for an op that writes tables
    # checks the op's return value; returns None or a mismatch message
    verify: Callable[[object], str | None] | None = None
    # called after a successful op, outside the timed region
    commit: Callable[[], None] | None = None
    family: str | None = None  # query_mix: "relational" | "llm"
    table_path: str | None = None  # cdc_read: the table it reads


class Workload:
    name = ""
    # op kinds whose walls make a cycle's primary and secondary samples
    primary: tuple[str, ...] = ()
    secondary: tuple[str, ...] = ()
    # the measured cycles come in groups of this many
    cycle_multiple = 1
    # nominal wall of one cycle on a 4-core host, which turns --seconds
    # into a cycle count; at least two groups run, so a traced run has a
    # traced and an untraced group
    cycle_s = 1.0
    warmup_cycles = 0

    def __init__(self, seed: int, workers: int, seconds: float):
        self.seed = seed
        self.workers = workers
        m = self.cycle_multiple
        groups = max(2, round(seconds / (self.cycle_s * m)))
        self.cycles = groups * m
        self.spark = None

    def stage(self, in_dir: str) -> None:
        """Write the seeded inputs under ``in_dir``."""
        raise NotImplementedError

    def open(self, spark, work_dir: str) -> None:
        self.spark = spark

    def starts_cycle(self, op: Op) -> bool:
        return op.kind == self.primary[0]

    def _cycle(self, b: int) -> list[Op]:
        raise NotImplementedError

    def warmup_ops(self) -> list[Op]:
        return [op for b in range(self.warmup_cycles) for op in self._cycle(b)]

    def warmup_chains(self) -> list[list[Op]]:
        """The warmup ops as chains that may run side by side, one client
        thread each; the ops of one chain run in order."""
        return [self.warmup_ops()]

    def ops(self):
        """The measured ops of ``self.cycles`` cycles, in order."""
        for b in range(self.warmup_cycles, self.warmup_cycles + self.cycles):
            yield from self._cycle(b)

    def check(self) -> str | None:
        """Compare the final state with its replay; None when equal."""
        return None

    def table_roots(self) -> list[str]:
        return []

    def live_rows(self) -> int:
        return 0


# ---------------------------------------------------------------------------
# ingest_cow: the importer half of the lake workload
# ---------------------------------------------------------------------------


class IngestCow(Workload):
    """Importer upserts of nested JSON into a 16-partition COW table."""

    name = "ingest_cow"
    genesis_rows = 6000
    batch_rows = 1000
    lookup_keys = 100

    def stage(self, in_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.plan = inputs.ingest_batches(
            rng,
            in_dir,
            self.warmup_cycles + self.cycles,
            self.genesis_rows,
            self.batch_rows,
        )
        self.lookups = [
            sorted({r["id"] for r in b[: self.lookup_keys * 2]})[: self.lookup_keys]
            for b in self.plan.batches
        ]

    def open(self, spark, work_dir: str) -> None:
        from hudi_spark_utilities_plus_spark.lake import HudiTable

        super().open(spark, work_dir)
        self.path = os.path.join(work_dir, "lake", "orders_cow")
        # what a reference user sets: key, precombine, partition path,
        # table type, operation, plus the table's path/name and the SQL
        self.props = {
            "path": self.path,
            "hoodie.table.name": "orders_cow",
            "hoodie.datasource.write.recordkey.field": "id",
            "hoodie.datasource.write.precombine.field": "ts",
            "hoodie.datasource.write.partitionpath.field": "bucket",
            "hoodie.table.type": "COPY_ON_WRITE",
            "hoodie.datasource.write.operation": "upsert",
            "hoodie.deltastreamer.transformer.sql": replay.INGEST_SQL,
        }
        self.table = HudiTable.from_props(self.props)
        self.state: dict[int, tuple] = {}

    def table_roots(self) -> list[str]:
        return [self.path]

    def live_rows(self) -> int:
        return len(self.state)

    def _cycle(self, b: int) -> list[Op]:
        from hudi_spark_utilities_plus_spark.pipelines import importer

        spark, path = self.spark, self.plan.paths[b]
        records = self.plan.batches[b]
        keys = self.lookups[b]

        def commit():
            importer.run_import(spark, "json", {"path": path}, self.props)

        def lookup():
            kdf = spark.createDataFrame([(k,) for k in keys], "id long")
            return (
                self.table.read(spark, keys=kdf)
                .select(*replay.INGEST_COLUMNS)
                .collect()
            )

        def verify_lookup(rows) -> str | None:
            want = replay.digest(self.state[k] for k in keys if k in self.state)
            got = replay.digest(tuple(r) for r in rows)
            return None if got == want else f"lookup {got} != replay {want}"

        return [
            Op(
                "ingest_commit",
                commit,
                rows=len(records),
                input_bytes=os.path.getsize(path),
                commit=lambda: replay.ingest_apply(self.state, records),
            ),
            Op("ingest_lookup", lookup, verify=verify_lookup),
        ]

    def check(self) -> str | None:
        rows = self.table.read(self.spark).select(*replay.INGEST_COLUMNS).collect()
        got = replay.digest(tuple(r) for r in rows)
        want = replay.digest(self.state.values())
        return None if got == want else f"table {got} != replay {want}"


# ---------------------------------------------------------------------------
# cdc_mor: the demux half of the lake workload
# ---------------------------------------------------------------------------


class CdcMor(Workload):
    """The binlog demux: CDC micro-batches into MERGE_ON_READ tables."""

    name = "cdc_mor"
    # each batch appends two delta commits per table (upserts, deletes),
    # so with compaction after 4 every table compacts on every second
    # batch; whole pairs of batches keep that spike share fixed
    compact_after = 4
    cycle_multiple = 2
    # one table per apply worker on a 4-core host: the batch is one round
    # of parallel applies, and the slowest table sets its time
    n_tables = 4
    batch_events = 2000

    def stage(self, in_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.plan = inputs.cdc_batches(
            rng,
            in_dir,
            self.warmup_cycles + self.cycles,
            self.n_tables,
            self.batch_events,
        )

    def open(self, spark, work_dir: str) -> None:
        from hudi_spark_utilities_plus_spark.streaming.demux import (
            resolve_table_config,
        )
        from hudi_spark_utilities_plus_spark.operators.transform import (
            TRANSFORMER_SQL_KEY,
        )

        super().open(spark, work_dir)
        db = inputs.CDC_DB
        root = os.path.join(work_dir, "lake", "cdc")
        self.props = {
            "option.hoodie.path": os.path.join(root, "{db}", "ods_{db}_{table}"),
            "option.demux.parallelism": str(self.workers),
        }
        # half the tables carry a per-table transform
        self.transformed = set(self.plan.tables[::2])
        for t in self.plan.tables:
            self.props[f"{db}.{t}.hoodie.table.type"] = "MERGE_ON_READ"
            self.props[f"{db}.{t}.hoodie.compact.inline"] = "true"
            self.props[f"{db}.{t}.hoodie.compact.inline.max.delta.commits"] = str(
                self.compact_after
            )
            if t in self.transformed:
                self.props[f"{db}.{t}.{TRANSFORMER_SQL_KEY}"] = replay.CDC_SQL
        self.tables = {
            t: resolve_table_config(self.props, db, t) for t in self.plan.tables
        }
        self.cache: dict = {}
        self.states: dict[str, dict[int, tuple]] = {}
        self._reads = 0

    def table_roots(self) -> list[str]:
        return [t.path for t in self.tables.values()]

    def live_rows(self) -> int:
        return sum(len(s) for s in self.states.values())

    def _columns(self, t: str) -> list[str]:
        cols = ["id", "unix_micros(ts) AS ts", "data"]
        return cols + ["data_len"] if t in self.transformed else cols

    def _cycle(self, b: int) -> list[Op]:
        from hudi_spark_utilities_plus_spark.streaming import demux

        spark, path = self.spark, self.plan.paths[b]
        events = self.plan.batches[b]
        t = self.plan.tables[self._reads % len(self.plan.tables)]
        self._reads += 1
        table = self.tables[t]

        def batch():
            demux.demux_batch(spark, spark.read.parquet(path), self.props, self.cache)

        def read():
            return table.read(spark).selectExpr(*self._columns(t)).collect()

        def verify_read(rows) -> str | None:
            got = replay.digest(tuple(r) for r in rows)
            want = replay.digest(self.states.get(t, {}).values())
            return None if got == want else f"{t} read {got} != replay {want}"

        return [
            Op(
                "cdc_batch",
                batch,
                rows=len(events),
                input_bytes=os.path.getsize(path),
                commit=lambda: replay.cdc_apply(self.states, events, self.transformed),
            ),
            Op("cdc_read", read, verify=verify_read, table_path=table.path),
        ]

    def check(self) -> str | None:
        for t, table in self.tables.items():
            state = self.states.get(t, {})
            if not table.exists(self.spark):
                rows = []
            else:
                rows = table.read(self.spark).selectExpr(*self._columns(t)).collect()
            got = replay.digest(tuple(r) for r in rows)
            want = replay.digest(state.values())
            if got != want:
                return f"{t}: table {got} != replay {want}"
        return None


# ---------------------------------------------------------------------------
# lake: both pipelines in one loop
# ---------------------------------------------------------------------------


class Lake(Workload):
    """A cycle is an importer commit and its key lookup, then a demux
    micro-batch and a snapshot read. The two pipelines write separate
    tables, so their warmup runs on two client threads."""

    name = "lake"
    primary = ("ingest_commit", "cdc_batch")
    secondary = ("ingest_lookup", "cdc_read")
    # whole compaction periods of the demux
    cycle_multiple = CdcMor.cycle_multiple
    cycle_s = 5.5
    warmup_cycles = 2

    def __init__(self, seed: int, workers: int, seconds: float):
        super().__init__(seed, workers, seconds)
        self.parts = (IngestCow(seed, workers, seconds), CdcMor(seed, workers, seconds))
        for part in self.parts:
            part.cycles, part.warmup_cycles = self.cycles, self.warmup_cycles

    def stage(self, in_dir: str) -> None:
        for part in self.parts:
            part.stage(os.path.join(in_dir, part.name))

    def open(self, spark, work_dir: str) -> None:
        super().open(spark, work_dir)
        for part in self.parts:
            part.open(spark, work_dir)

    def _cycle(self, b: int) -> list[Op]:
        return [op for part in self.parts for op in part._cycle(b)]

    def warmup_chains(self) -> list[list[Op]]:
        return [part.warmup_ops() for part in self.parts]

    def check(self) -> str | None:
        for part in self.parts:
            err = part.check()
            if err:
                return err
        return None

    def table_roots(self) -> list[str]:
        return [r for part in self.parts for r in part.table_roots()]

    def live_rows(self) -> int:
        return sum(part.live_rows() for part in self.parts)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

RELATIONAL = (
    "agg_group",
    "tpch_q1_shape",
    "tpch_q3_shape",
    "tpch_q5_shape",
    "tpch_q18_shape",
    "join_inner",
    "win_range_between",
    "sessionize_events",
)
LLM = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "embedding_similar_pairs",
    "tfidf_topterms",
    "mm_audio_energy",
    "text_quality",
)
# their oracles compare every pair of documents or vectors, which takes
# DuckDB about 25 s on the measured set, so they are checked on the small set
PAIR_IDS = LLM[:4]


class QueryMix(Workload):
    """Fifteen registry ids over seeded fixtures, noop sink. A cycle is
    one pass over the ids. The warmup is one pass over the measured set
    that collects every result and checks it against the registry's
    DuckDB oracle, but for the pair ids, which are checked on a smaller
    fixture set from the same generator. Its ops run on several client
    threads."""

    name = "query_mix"
    primary = LLM
    secondary = RELATIONAL
    cycle_s = 15.0
    # the row counts of the registry's sf0.01 fixture set; a pass costs
    # about the same at a tenth of it, as per-query overheads dominate
    scale = 1.0
    check_scale = 0.1

    def stage(self, in_dir: str) -> None:
        rng = np.random.default_rng(self.seed)
        self.fixtures = os.path.join(in_dir, "fixtures")
        self.check_fixtures = os.path.join(in_dir, "check")
        self.fixture_rows = inputs.query_fixtures(rng, self.fixtures, self.scale)
        inputs.query_fixtures(rng, self.check_fixtures, self.check_scale)

    def open(self, spark, work_dir: str) -> None:
        import __spark_entry__

        super().open(spark, work_dir)
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def starts_cycle(self, op: Op) -> bool:
        return op.kind == RELATIONAL[0]

    def table_roots(self) -> list[str]:
        return [self.fixtures]

    def live_rows(self) -> int:
        return self.fixture_rows

    def _op(self, qid: str, d: str, collect: bool) -> Op:
        """``qid`` over the fixture set ``d``: into the noop sink, or
        collected and checked against the oracle."""
        fn, spark = self.queries[qid], self.spark
        family = "relational" if qid in RELATIONAL else "llm"

        def run():
            df = fn(spark, d)
            if collect:
                return df.columns, df.collect()
            df.write.format("noop").mode("overwrite").save()
            return None

        verify = self._oracle_verify(qid, d) if collect else None
        return Op(qid, run, family=family, verify=verify)

    def _oracle_verify(self, qid: str, d: str):
        def verify(result) -> str | None:
            import duckdb

            cols, rows = result
            con = duckdb.connect()
            try:
                for t in os.listdir(d):
                    name = t.rsplit(".", 1)[0]
                    path = os.path.join(d, t)
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
                rel = con.execute(self.oracles[qid])
                dcols = [c[0] for c in rel.description]
                drows = rel.fetchall()
            finally:
                con.close()
            return replay.oracle_mismatch(list(cols), rows, dcols, drows)

        return verify

    def _pass(self, checked: frozenset[str] = frozenset()) -> list[Op]:
        """Every id once over the measured set, the two families
        alternating, so the walls of each family spread over the whole
        pass. The ids in ``checked`` are collected and checked."""
        order = [q for pair in zip(RELATIONAL, LLM) for q in pair]
        order += RELATIONAL[len(LLM) :]
        return [self._op(q, self.fixtures, q in checked) for q in order]

    def warmup_ops(self) -> list[Op]:
        """A pass that checks every id but the pair ids, which it runs
        into the noop sink, then the pair ids checked on the small set."""
        pass_ = self._pass(frozenset(RELATIONAL + LLM) - frozenset(PAIR_IDS))
        return pass_ + [self._op(q, self.check_fixtures, True) for q in PAIR_IDS]

    def warmup_chains(self) -> list[list[Op]]:
        # the ids are independent
        return [[op] for op in self.warmup_ops()]

    def _cycle(self, b: int) -> list[Op]:
        return self._pass()


WORKLOADS = {w.name: w for w in (Lake, QueryMix)}
