"""Streaming tests: CDC multi-table demux end-to-end (with checkpoint
restart) and event-time windowed aggregation — the SURVEY §2.C surface."""

from __future__ import annotations

import json
import os
import time

import pytest

from pyspark.sql import functions as F

from hudi_spark_utilities_plus_spark.streaming import (
    read_cdc_stream,
    start_binlog_streamer,
    tumbling_counts,
)


def _write_events(path: str, name: str, events: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    os.rename(tmp, os.path.join(path, f"{name}.json"))


def _props(base: str) -> dict[str, str]:
    # hoodie_table_meta.properties shape: per-table namespaces + template.
    return {
        "option.hoodie.path": f"{base}/lake/{{db}}/ods_{{db}}_{{table}}",
        "db1.person.hoodie.datasource.write.recordkey.field": "id",
        "db1.person.hoodie.datasource.write.precombine.field": "ts",
        "db2.student.hoodie.datasource.write.recordkey.field": "id",
        "db2.student.hoodie.datasource.write.precombine.field": "ts",
    }


def _run_until(pred, timeout=30.0, interval=0.3):
    t0 = time.time()
    while time.time() - t0 < timeout:
        if pred():
            return True
        time.sleep(interval)
    return False


@pytest.mark.streaming
def test_cdc_demux_and_checkpoint_restart(spark, tmp_path):
    base = str(tmp_path)
    src = f"{base}/cdc_in"
    ckpt = f"{base}/ckpt"
    props = _props(base)

    _write_events(
        src,
        "batch1",
        [
            {"op": "insert", "db": "db1", "table": "person", "id": 1,
             "data": '{"name":"ann"}', "ts": "2024-01-01T00:00:01"},
            {"op": "insert", "db": "db1", "table": "person", "id": 2,
             "data": '{"name":"bob"}', "ts": "2024-01-01T00:00:02"},
            {"op": "insert", "db": "db2", "table": "student", "id": 10,
             "data": '{"grade":1}', "ts": "2024-01-01T00:00:03"},
        ],
    )
    stream = read_cdc_stream(spark, src, "db1,db2", "person,student")
    q = start_binlog_streamer(spark, stream, props, ckpt, trigger_seconds=1)
    try:
        person = f"{base}/lake/db1/ods_db1_person"
        student = f"{base}/lake/db2/ods_db2_student"
        assert _run_until(
            lambda: os.path.exists(person) and os.path.exists(student)
        ), "tables not materialized"
        q.processAllAvailable()
        assert spark.read.parquet(person).count() == 2
        assert spark.read.parquet(student).count() == 1

        # batch 2: update person 1, delete person 2, insert student 11
        _write_events(
            src,
            "batch2",
            [
                {"op": "update", "db": "db1", "table": "person", "id": 1,
                 "data": '{"name":"ann2"}', "ts": "2024-01-01T00:01:00"},
                {"op": "delete", "db": "db1", "table": "person", "id": 2,
                 "data": None, "ts": "2024-01-01T00:01:01"},
                {"op": "insert", "db": "db2", "table": "student", "id": 11,
                 "data": '{"grade":2}', "ts": "2024-01-01T00:01:02"},
            ],
        )
        q.processAllAvailable()
        rows = {r["id"]: r for r in spark.read.parquet(person).collect()}
        assert set(rows) == {1}, f"delete not applied: {rows}"
        assert json.loads(rows[1]["data"])["name"] == "ann2"
        assert spark.read.parquet(student).count() == 2
    finally:
        q.stop()

    # restart from the checkpoint: old batches must NOT reapply (state
    # unchanged), new batches must flow.
    stream2 = read_cdc_stream(spark, src, "db1,db2", "person,student")
    q2 = start_binlog_streamer(spark, stream2, props, ckpt, trigger_seconds=1)
    try:
        _write_events(
            src,
            "batch3",
            [
                {"op": "insert", "db": "db1", "table": "person", "id": 3,
                 "data": '{"name":"cay"}', "ts": "2024-01-01T00:02:00"},
            ],
        )
        q2.processAllAvailable()
        ids = sorted(r["id"] for r in spark.read.parquet(person).collect())
        assert ids == [1, 3], f"restart broke state: {ids}"
    finally:
        q2.stop()


@pytest.mark.streaming
def test_cdc_within_batch_compaction(spark, tmp_path):
    """Several ops for one key inside a single micro-batch: only the
    latest wins (insert→update→delete ⇒ key absent)."""
    base = str(tmp_path)
    src = f"{base}/cdc_in"
    props = _props(base)
    _write_events(
        src,
        "batch1",
        [
            {"op": "insert", "db": "db1", "table": "person", "id": 1,
             "data": '{"v":1}', "ts": "2024-01-01T00:00:01"},
            {"op": "update", "db": "db1", "table": "person", "id": 1,
             "data": '{"v":2}', "ts": "2024-01-01T00:00:02"},
            {"op": "delete", "db": "db1", "table": "person", "id": 1,
             "data": None, "ts": "2024-01-01T00:00:03"},
            {"op": "insert", "db": "db1", "table": "person", "id": 2,
             "data": '{"v":9}', "ts": "2024-01-01T00:00:04"},
        ],
    )
    stream = read_cdc_stream(spark, src)
    q = start_binlog_streamer(spark, stream, props, f"{base}/ckpt", 1)
    try:
        q.processAllAvailable()
        person = f"{base}/lake/db1/ods_db1_person"
        ids = sorted(r["id"] for r in spark.read.parquet(person).collect())
        assert ids == [2], f"compaction wrong: {ids}"
    finally:
        q.stop()


@pytest.mark.streaming
def test_cdc_pattern_routing(spark, tmp_path):
    """db/table regex patterns filter the stream (comma → alternation)."""
    base = str(tmp_path)
    src = f"{base}/cdc_in"
    props = _props(base)
    _write_events(
        src,
        "batch1",
        [
            {"op": "insert", "db": "db1", "table": "person", "id": 1,
             "data": "{}", "ts": "2024-01-01T00:00:01"},
            {"op": "insert", "db": "ignored_db", "table": "person", "id": 2,
             "data": "{}", "ts": "2024-01-01T00:00:02"},
        ],
    )
    stream = read_cdc_stream(spark, src, database_pattern="db1")
    q = start_binlog_streamer(spark, stream, props, f"{base}/ckpt", 1)
    try:
        q.processAllAvailable()
        person = f"{base}/lake/db1/ods_db1_person"
        assert [r["id"] for r in spark.read.parquet(person).collect()] == [1]
        assert not os.path.exists(f"{base}/lake/ignored_db")
    finally:
        q.stop()


@pytest.mark.streaming
def test_cdc_binlog_start_position(spark, tmp_path):
    """bingLogNamePrefix/binlogIndex/binlogFileOffset semantics: only
    events at or after the (file, offset) start position are consumed
    (HoodieBinlogDeltaStreamer.scala:86-88, 206-219)."""
    base = str(tmp_path)
    src = f"{base}/cdc_in"
    props = _props(base)
    _write_events(
        src,
        "batch1",
        [
            {"op": "insert", "db": "db1", "table": "person", "id": 1,
             "data": "{}", "ts": "2024-01-01T00:00:01",
             "binlog_file": "mysql-bin.000003", "binlog_offset": 120},
            {"op": "insert", "db": "db1", "table": "person", "id": 2,
             "data": "{}", "ts": "2024-01-01T00:00:02",
             "binlog_file": "mysql-bin.000004", "binlog_offset": 4},
            {"op": "insert", "db": "db1", "table": "person", "id": 3,
             "data": "{}", "ts": "2024-01-01T00:00:03",
             "binlog_file": "mysql-bin.000004", "binlog_offset": 999},
        ],
    )
    stream = read_cdc_stream(
        spark, src, binlog_index=4, binlog_file_offset=500
    )
    q = start_binlog_streamer(spark, stream, props, f"{base}/ckpt", 1)
    try:
        q.processAllAvailable()
        person = f"{base}/lake/db1/ods_db1_person"
        # id 1 (earlier file) and id 2 (offset 4 < 500) skipped
        assert [r["id"] for r in spark.read.parquet(person).collect()] == [3]
    finally:
        q.stop()


@pytest.mark.streaming
def test_cdc_null_offset_kept_at_start_file(spark, tmp_path):
    """An event at the start file with a NULL offset carries no position
    and must be kept (docstring contract) — coalescing to 0 used to drop
    it whenever the start offset was > 0."""
    base = str(tmp_path)
    src = f"{base}/cdc_in"
    props = _props(base)
    _write_events(
        src,
        "batch1",
        [
            {"op": "insert", "db": "db1", "table": "person", "id": 1,
             "data": "{}", "ts": "2024-01-01T00:00:01",
             "binlog_file": "mysql-bin.000004", "binlog_offset": None},
            {"op": "insert", "db": "db1", "table": "person", "id": 2,
             "data": "{}", "ts": "2024-01-01T00:00:02",
             "binlog_file": "mysql-bin.000004", "binlog_offset": 4},
        ],
    )
    stream = read_cdc_stream(spark, src, binlog_index=4, binlog_file_offset=500)
    q = start_binlog_streamer(spark, stream, props, f"{base}/ckpt", 1)
    try:
        q.processAllAvailable()
        person = f"{base}/lake/db1/ods_db1_person"
        # id 2 (offset 4 < 500) skipped; id 1 (null offset) kept
        assert [r["id"] for r in spark.read.parquet(person).collect()] == [1]
    finally:
        q.stop()


@pytest.mark.streaming
def test_cdc_other_series_and_unparseable_names_kept(spark, tmp_path):
    """With a start position set, events whose binlog_file belongs to a
    DIFFERENT series (prefix mismatch) or has a non-numeric suffix carry
    no comparable position and are kept — the bare cast used to make the
    filter predicate NULL and silently DROP them, diverging from the
    mysql-binlog stand-in, which keeps them."""
    base = str(tmp_path)
    src = f"{base}/cdc_in"
    props = _props(base)
    _write_events(
        src,
        "batch1",
        [
            # other series, low index — must NOT be position-compared
            {"op": "insert", "db": "db1", "table": "person", "id": 1,
             "data": "{}", "ts": "2024-01-01T00:00:01",
             "binlog_file": "mysql-bin-changelog.000001", "binlog_offset": 9},
            # unparseable suffix — keep, like no position
            {"op": "insert", "db": "db1", "table": "person", "id": 2,
             "data": "{}", "ts": "2024-01-01T00:00:02",
             "binlog_file": "mysql-bin.v2.log", "binlog_offset": 9},
            # this series, before the start — dropped
            {"op": "insert", "db": "db1", "table": "person", "id": 3,
             "data": "{}", "ts": "2024-01-01T00:00:03",
             "binlog_file": "mysql-bin.000003", "binlog_offset": 9},
            # this series, at/after the start — kept
            {"op": "insert", "db": "db1", "table": "person", "id": 4,
             "data": "{}", "ts": "2024-01-01T00:00:04",
             "binlog_file": "mysql-bin.000004", "binlog_offset": 700},
        ],
    )
    stream = read_cdc_stream(spark, src, binlog_index=4, binlog_file_offset=500)
    q = start_binlog_streamer(spark, stream, props, f"{base}/ckpt", 1)
    try:
        q.processAllAvailable()
        person = f"{base}/lake/db1/ods_db1_person"
        assert sorted(
            r["id"] for r in spark.read.parquet(person).collect()
        ) == [1, 2, 4]
    finally:
        q.stop()


def test_apply_cdc_batch_op_totality_and_null_key_skip(spark, tmp_path, caplog):
    """op routes case-insensitively (an emitter shouting DELETE must not
    have its tombstone applied as an upsert), and malformed events (NULL
    op, NULL record key) are skipped before compaction instead of
    landing a phantom NULL-key row or vanishing into the op filters —
    and the skip is LOGGED with a per-op count, so silent data drop is
    observable per micro-batch."""
    import logging
    from hudi_spark_utilities_plus_spark.lake import HudiTable
    from hudi_spark_utilities_plus_spark.streaming.cdc import apply_cdc_batch

    t = HudiTable(
        path=str(tmp_path / "optot"), record_key="id", precombine="ts"
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b")], "id long, ts long, data string"
        )
    )
    batch = spark.createDataFrame(
        [
            ("DELETE", "db1", "t1", 1, "gone", 5),     # uppercase delete
            ("Insert", "db1", "t1", 3, "c", 5),        # mixed-case upsert
            (None, "db1", "t1", 2, "zz", 9),           # NULL op: skipped
            ("insert", "db1", "t1", None, "phantom", 9),  # NULL key: skipped
            ("truncate", "db1", "t1", 2, "nope", 9),   # unknown op: skipped
            # whitespace-padded delete must compact over the insert and
            # route as a tombstone — untrimmed it would upsert "junk"
            ("insert", "db1", "t1", 4, "d", 5),
            ("delete\t", "db1", "t1", 4, "junk", 9),
        ],
        "op string, db string, `table` string, id long, data string, ts long",
    )
    with caplog.at_level(
        logging.WARNING, logger="hudi_spark_utilities_plus_spark.streaming.cdc"
    ):
        apply_cdc_batch(t, batch, spark)
    state = {r["id"]: r["data"] for r in t.read(spark).collect()}
    assert state == {2: "b", 3: "c"}, state
    drops = [r for r in caplog.records if "skipped 3 malformed" in r.getMessage()]
    assert drops, [r.getMessage() for r in caplog.records]
    msg = drops[0].getMessage()
    assert "'<null op>': 1" in msg and "'truncate': 1" in msg and "'insert': 1" in msg


def test_apply_cdc_batch_releases_staged_blocks(spark, tmp_path):
    """apply_cdc_batch stages its compacted batch in executor blocks and
    frees them before returning, after a batch that commits and after
    one whose write raises: no RDD storage is left behind."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable
    from hudi_spark_utilities_plus_spark.streaming.cdc import apply_cdc_batch

    jsc = spark.sparkContext._jsc.sc()

    def stored() -> set[int]:
        return {i.id() for i in jsc.getRDDStorageInfo()}

    before = stored()
    t = HudiTable(
        path=str(tmp_path / "rel"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id long, ts long, data string"))
    batch = spark.createDataFrame(
        [("update", "db", "t", 1, "b", 2), ("delete", "db", "t", 2, "x", 2)],
        "op string, db string, `table` string, id long, data string, ts long",
    )
    apply_cdc_batch(t, batch, spark)
    assert stored() <= before
    assert {r["id"]: r["data"] for r in t.read(spark).collect()} == {1: "b"}

    def failing_upsert(*args, **kwargs):
        raise RuntimeError("write failed")

    t.upsert = failing_upsert
    with pytest.raises(RuntimeError, match="write failed"):
        apply_cdc_batch(t, batch, spark)
    assert stored() <= before


_CDC_ROW = (
    "op string, db string, `table` string, id long, data string, ts long, "
    "binlog_file string, binlog_offset long"
)


def _apply_as_two_commits(table, batch, spark):
    """The reference apply: skip malformed events, compact per key,
    then ``upsert`` the non-deletes and ``delete`` the delete keys as
    two separate table writes."""
    from hudi_spark_utilities_plus_spark.streaming.cdc import compact_batch

    op_n = F.regexp_replace(F.lower(F.col("op")), r"^\s+|\s+$", "")
    kept = batch.filter(
        op_n.isin("insert", "update", "delete") & F.col("id").isNotNull()
    )
    compacted = compact_batch(kept, "id", "ts").collect()
    ups = [r for r in compacted if r["op"].strip().lower() != "delete"]
    dels = [r for r in compacted if r["op"].strip().lower() == "delete"]
    if ups:
        table.upsert(
            spark.createDataFrame(ups, _CDC_ROW).drop("op", "db", "table"), spark
        )
    if dels:
        table.delete(
            spark.createDataFrame([(r["id"], r["ts"]) for r in dels], "id long, ts long"),
            spark,
        )


def test_single_append_cdc_apply_matches_two_commits(spark, tmp_path, caplog):
    """MERGE_ON_READ tables fed the same CDC batches — one through
    apply_cdc_batch (one log append per batch, upserts at seq s and
    markers at s+1), one through separate upsert() and delete(), and
    one through apply_cdc_batch with inline compaction off and
    compact() called after the batch that reaches the threshold —
    agree on every reader of the timeline: snapshot, time travel at
    every live seq, incremental and CDC reads from every cursor, the
    head seq and the seqbase. With an even inline-compaction threshold
    the first two fold the triggering commit into the base (no log is
    written for it) after the same batch the third compacts. A small
    batch is one log file, and the malformed-event warning keeps its
    per-op counts."""
    import logging

    from hudi_spark_utilities_plus_spark.lake import HudiTable
    from hudi_spark_utilities_plus_spark.streaming.cdc import apply_cdc_batch

    sync = {
        "hoodie.datasource.hive_sync.enable": "true",
        "hoodie.datasource.hive_sync.database": "fold_twins",
    }
    opts = {
        "hoodie.compact.inline": "true",
        "hoodie.compact.inline.max.delta.commits": "4",
        **sync,
    }
    twins = [
        HudiTable(
            path=str(tmp_path / name),
            record_key="id",
            precombine="ts",
            table_name=name,
            table_type="MERGE_ON_READ",
            options=dict(opts),
        )
        for name in ("single", "pair")
    ]
    # the reference for the fold-in: append, then compact()
    appended = HudiTable(
        path=str(tmp_path / "appended"),
        record_key="id",
        precombine="ts",
        table_name="appended",
        table_type="MERGE_ON_READ",
        options=dict(sync),
    )
    twins.append(appended)
    genesis = spark.createDataFrame(
        [(k, f"g{k}", 0, "mysql-bin.000001", k) for k in range(12)],
        "id long, data string, ts long, binlog_file string, binlog_offset long",
    )
    for t in twins:
        t.bulk_insert(genesis)

    def ev(op, k, ts, off):
        return (op, "db", "t", k, f"{op[:1]}{k}@{ts}", ts, "mysql-bin.000001", off)

    batches = [
        [ev("update", 1, 5, 100), ev("update", 1, 6, 101), ev("insert", 20, 5, 102),
         ev("delete", 2, 5, 103), ev("update", 3, 5, 104), ev("delete", 3, 6, 105)],
        [ev("insert", 21, 9, 200), ev("delete", 20, 9, 201), ev("update", 4, 9, 202),
         ev("delete", 5, 8, 203), ev("update", 5, 9, 204), ev("delete", 6, 9, 205)],
        [ev("update", 7, 12, 300), ev("delete", 21, 12, 301), ev("insert", 2, 12, 302),
         ev("delete", 8, 12, 303), (None, "db", "t", 9, "x", 12, "mysql-bin.000001", 304),
         ev("truncate", 9, 12, 305), ev("truncate", 10, 12, 306),
         ev("insert", None, 12, 307)],
    ]

    def rows(df):
        return sorted(repr(tuple(r[c] for c in sorted(df.columns))) for r in df.collect())

    def catalog(t):
        return [
            spark.catalog.tableExists(f"fold_twins.{t.table_name}{sfx}")
            for sfx in ("", "_ro", "_rt")
        ]

    def same_timeline():
        a = twins[0]
        head = a.latest_commit_seq(spark)
        for b in twins[1:]:
            assert catalog(a) == catalog(b), b.table_name
            assert head == b.latest_commit_seq(spark), b.table_name
            assert a._seq_base() == b._seq_base(), b.table_name
            assert rows(a.read(spark)) == rows(b.read(spark)), b.table_name
            for s in range(max(-1, a._seq_base() - 1), head + 1):
                assert rows(a.read(spark, as_of_seq=s)) == rows(b.read(spark, as_of_seq=s)), s
                assert rows(a.read_incremental(spark, s)) == rows(b.read_incremental(spark, s)), s
                assert rows(a.read_cdc(spark, s)) == rows(b.read_cdc(spark, s)), s

    log_files = lambda t: [  # noqa: E731
        f for f in os.listdir(t._log_path) if f.endswith(".parquet")
    ]
    for i, events in enumerate(batches):
        batch = spark.createDataFrame(events, _CDC_ROW)
        caplog.clear()
        with caplog.at_level(
            logging.WARNING, logger="hudi_spark_utilities_plus_spark.streaming.cdc"
        ):
            apply_cdc_batch(twins[0], batch, spark)
        _apply_as_two_commits(twins[1], batch, spark)
        apply_cdc_batch(appended, batch, spark)
        if i == 0:
            # two delta commits, one append, one file
            assert twins[0].latest_commit_seq(spark) == 1
            assert len(log_files(twins[0])) == 1
            assert len(log_files(twins[1])) >= 2
            same_timeline()
        elif i == 1:
            # seqs 0..3 reach the threshold of 4: the inline tables
            # folded the triggering commit, the reference compacts now
            assert len(log_files(appended)) == 2
            appended.compact(spark)
            for t in twins:
                assert t._seq_base() == 4, t.table_name
                assert not os.path.exists(t._log_path), t.table_name
                assert t._seq_claim_store.list_claims() == [], t.table_name
                assert catalog(t) == [True, True, True], t.table_name
            same_timeline()
        else:
            assert twins[0].latest_commit_seq(spark) == 5
            same_timeline()
            msgs = [r.getMessage() for r in caplog.records]
            assert any(
                "skipped 4 malformed" in m
                and "'<null op>': 1" in m
                and "'truncate': 2" in m
                and "'insert': 1" in m
                for m in msgs
            ), msgs


@pytest.mark.streaming
def test_demux_many_tables_parallel_apply(spark, tmp_path):
    """≥4 tables in one micro-batch: the thread-pooled per-table applies
    must all land, and a re-run of the same batch stays idempotent."""
    from hudi_spark_utilities_plus_spark.streaming.demux import demux_batch

    base = str(tmp_path)
    props = {"option.hoodie.path": f"{base}/lake/{{db}}/ods_{{db}}_{{table}}"}
    rows = []
    for i, (db, tbl) in enumerate(
        [("db1", "person"), ("db1", "order"), ("db2", "student"), ("db2", "course")]
    ):
        rows.append(("insert", db, tbl, i, "{}", "2024-01-01T00:00:0%d" % i))
        rows.append(("update", db, tbl, i, '{"u":1}', "2024-01-01T00:00:59"))
    batch = spark.createDataFrame(
        rows, "op string, db string, `table` string, id long, data string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # the streaming sink hands the same cache to every micro-batch, so
    # HudiTable resolution (and its partition-dtype probe) runs ONCE per
    # table for the query's lifetime, not once per batch
    cache = {}
    demux_batch(spark, batch, props, cache)
    assert set(cache) == {
        ("db1", "person"), ("db1", "order"), ("db2", "student"), ("db2", "course")
    }
    resolved_first = dict(cache)
    demux_batch(spark, batch, props, cache)  # replay: idempotent
    for key, inst in cache.items():
        assert inst is resolved_first[key], f"{key} re-resolved across batches"
    for i, (db, tbl) in enumerate(
        [("db1", "person"), ("db1", "order"), ("db2", "student"), ("db2", "course")]
    ):
        got = spark.read.parquet(f"{base}/lake/{db}/ods_{db}_{tbl}").collect()
        assert len(got) == 1 and got[0]["id"] == i and got[0]["data"] == '{"u":1}'


@pytest.mark.streaming
def test_tumbling_window_with_watermark(spark, tmp_path):
    """Event-time tumbling windows over a file stream; update-mode memory
    sink; counts match a batch groupBy of the same data."""
    base = str(tmp_path)
    src = f"{base}/events_in"
    rows = [
        {"event_type": "view", "ts": "2024-01-01T10:05:00"},
        {"event_type": "view", "ts": "2024-01-01T10:55:00"},
        {"event_type": "click", "ts": "2024-01-01T10:20:00"},
        {"event_type": "view", "ts": "2024-01-01T11:10:00"},
    ]
    _write_events(src, "b1", rows)
    stream = spark.readStream.schema("event_type STRING, ts TIMESTAMP").json(src)
    agg = tumbling_counts(stream, window_size="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("tumbling_test")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"].isoformat(), r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM tumbling_test").collect()
        }
        assert got[("2024-01-01T10:00:00", "view")] == 2
        assert got[("2024-01-01T10:00:00", "click")] == 1
        assert got[("2024-01-01T11:00:00", "view")] == 1
    finally:
        q.stop()


def test_session_window_batch(spark):
    """Session windows (gap merge) in batch mode over literal events."""
    from hudi_spark_utilities_plus_spark.streaming import session_counts

    df = spark.createDataFrame(
        [
            (1, "2024-01-01T10:00:00"),
            (1, "2024-01-01T10:10:00"),  # same session (gap 30m)
            (1, "2024-01-01T11:30:00"),  # new session
            (2, "2024-01-01T10:00:00"),
        ],
        "user_id LONG, ts_s STRING",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    out = session_counts(df, gap="30 minutes")
    got = sorted(
        (r["user_id"], r["n"]) for r in out.collect()
    )
    assert got == [(1, 1), (1, 2), (2, 1)]


@pytest.mark.streaming
def test_stateful_user_profile_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user state persists across
    micro-batches (counts accumulate, not reset)."""
    from hudi_spark_utilities_plus_spark.streaming.stateful import (
        user_profile_stream,
    )

    base = str(tmp_path)
    src = f"{base}/ev_in"
    _write_events(
        src,
        "b1",
        [
            {"user_id": 1, "value": 10.0, "ts": "2024-01-01T10:00:00"},
            {"user_id": 1, "value": 5.0, "ts": "2024-01-01T10:01:00"},
            {"user_id": 2, "value": 1.0, "ts": "2024-01-01T10:02:00"},
        ],
    )
    stream = spark.readStream.schema(
        "user_id LONG, value DOUBLE, ts TIMESTAMP"
    ).json(src)
    out = user_profile_stream(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("profiles")
        .option("checkpointLocation", f"{base}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_events(
            src,
            "b2",
            [{"user_id": 1, "value": 2.5, "ts": "2024-01-01T11:00:00"}],
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM profiles WHERE user_id = 1 ORDER BY n_events DESC"
        ).collect()
        latest = rows[0]
        assert latest["n_events"] == 3  # state carried across batches
        assert abs(latest["total_value"] - 17.5) < 1e-9
        assert latest["last_ts"].isoformat() == "2024-01-01T11:00:00"
    finally:
        q.stop()


@pytest.mark.streaming
def test_stream_dedup_within_watermark(spark, tmp_path):
    """At-least-once stream -> exactly-once-per-key: a redelivered
    event_id in a later micro-batch is swallowed; distinct ids all
    arrive once; state stays bounded by the watermark."""
    from hudi_spark_utilities_plus_spark.streaming import deduped_stream

    base = str(tmp_path)
    src = f"{base}/dedup_in"
    _write_events(
        src,
        "b1",
        [
            {"event_id": 1, "event_type": "view", "ts": "2024-01-01T10:00:00"},
            {"event_id": 2, "event_type": "click", "ts": "2024-01-01T10:01:00"},
            {"event_id": 1, "event_type": "view", "ts": "2024-01-01T10:00:00"},
        ],
    )
    stream = spark.readStream.schema(
        "event_id LONG, event_type STRING, ts TIMESTAMP"
    ).json(src)
    q = (
        deduped_stream(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one replay of id 2 (drop) + one new id 3 (keep)
        _write_events(
            src,
            "b2",
            [
                {"event_id": 2, "event_type": "click", "ts": "2024-01-01T10:01:00"},
                {"event_id": 3, "event_type": "view", "ts": "2024-01-01T10:30:00"},
            ],
        )
        q.processAllAvailable()
        got = sorted(
            r["event_id"]
            for r in spark.sql("SELECT * FROM dedup_stream_test").collect()
        )
        assert got == [1, 2, 3]
    finally:
        q.stop()


def test_transform_with_state_running_totals(spark, sf_dir):
    """Spark 4 transformWithStateInPandas (typed state handles, RocksDB
    provider): per-user running totals across micro-batches must equal
    the batch aggregate exactly. The worker protocol needs
    google.protobuf, absent in this container — skip here, full parity
    wherever protobuf is installed (same skip-if-absent pattern as the
    Hudi bundle passthrough)."""
    import pytest as _pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        _pytest.skip("google.protobuf not installed — transformWithState "
                     "worker protocol unavailable in this container")
    from hudi_spark_utilities_plus_spark.queries_pipeline import (
        TRANSFORM_WITH_STATE_ORACLE,
        stream_transform_with_state,
    )

    from .oracle_utils import compare, duckdb_conn

    df = stream_transform_with_state(spark, sf_dir)
    con = duckdb_conn(sf_dir)
    try:
        ok, msg = compare(df, con, TRANSFORM_WITH_STATE_ORACLE)
        assert ok, msg
    finally:
        con.close()


def test_compact_batch_ties_break_on_binlog_position(spark):
    """Binlog ts is second-resolution, so insert-then-delete on one key
    within one second is routine; the tie must break on (binlog_file
    index, binlog_offset), not shuffle row order — a replay that picked
    the other winner would resurrect a deleted row."""
    from hudi_spark_utilities_plus_spark.streaming.cdc import compact_batch

    rows = [
        ("insert", 1, "2024-01-01T10:00:00", "mysql-bin.000001", 100),
        ("delete", 1, "2024-01-01T10:00:00", "mysql-bin.000001", 200),
        # rollover: integer index 1000000 outranks 999999 even though
        # the STRING 'mysql-bin.1000000' < 'mysql-bin.999999'
        ("insert", 2, "2024-01-01T10:00:00", "mysql-bin.999999", 50),
        ("delete", 2, "2024-01-01T10:00:00", "mysql-bin.1000000", 10),
    ]
    df = spark.createDataFrame(
        rows,
        "op string, id long, ts_s string, binlog_file string, "
        "binlog_offset long",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    got = {
        r["id"]: r["op"] for r in compact_batch(df, "id", "ts").collect()
    }
    assert got == {1: "delete", 2: "delete"}, got


def test_compact_batch_prefix_scopes_tie_break_to_the_series(spark):
    """The position tie-break parses file indexes ONLY for the
    configured binlog series (Aurora names files mysql-bin-changelog.N):
    with the right prefix the later position wins; with the default
    'mysql-bin' prefix these names don't parse and the tie degrades to
    positionless — which is exactly why the demux sink must forward the
    reader's prefix (BINLOG_PREFIX_KEY)."""
    from hudi_spark_utilities_plus_spark.streaming.cdc import compact_batch

    rows = [
        ("insert", 1, "2024-01-01T10:00:00", "mysql-bin-changelog.000002", 10),
        ("delete", 1, "2024-01-01T10:00:00", "mysql-bin-changelog.000001", 999),
    ]
    df = (
        spark.createDataFrame(
            rows,
            "op string, id long, ts_s string, binlog_file string, "
            "binlog_offset long",
        )
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )
    got = {
        r["id"]: r["op"]
        for r in compact_batch(
            df, "id", "ts", binlog_name_prefix="mysql-bin-changelog"
        ).collect()
    }
    # file 000002 outranks 000001 regardless of the offsets
    assert got == {1: "insert"}, got


def test_cow_delete_conditional_on_precombine(spark, tmp_path):
    """A precombine-carrying delete marker on a COW table kills only
    rows at or below the marker's timestamp — a redelivered old delete
    must not erase a newer upsert (the MOR log already competes this
    way; COW now matches)."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "cowdel"), record_key="id", precombine="ts"
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 10, "keep"), (2, 3, "die")], "id int, ts int, v string"
        )
    )
    # stale delete for id=1 (ts 5 < 10), current delete for id=2
    t.delete(
        spark.createDataFrame([(1, 5), (2, 3)], "id int, ts int"), spark
    )
    left = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert left == {1: "keep"}, left
    # key-only marker stays unconditional
    t.delete(spark.createDataFrame([(1,)], "id int"), spark)
    assert t.read(spark).count() == 0


def test_cow_delete_null_precombine_marker_is_unconditional(spark, tmp_path):
    """A delete marker carrying a NULL precombine value acts like a
    key-only (unconditional) marker — the left-join-miss NULL and the
    marker-NULL used to be indistinguishable, so a NULL-ts delete from
    an at-least-once CDC feed silently never deleted anything."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "cownull"), record_key="id", precombine="ts"
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 10, "die"), (2, 7, "keep")], "id int, ts int, v string"
        )
    )
    t.delete(
        spark.createDataFrame([(1, None)], "id int, ts int"), spark
    )
    left = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert left == {2: "keep"}, left


def test_cow_delete_mixed_null_and_valued_markers_is_unconditional(
    spark, tmp_path
):
    """A key carrying BOTH a NULL-precombine marker and a stale valued
    marker in one batch dies unconditionally — matching the MOR
    read-merge, where any NULL-precombine marker is a seq barrier. The
    bare F.max aggregation silently degraded this to conditional-at-
    max-ts (10 > 5 kept the row), so an at-least-once feed redelivering
    a NULL-ts delete alongside an old valued one never deleted."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "cowmixed"), record_key="id", precombine="ts"
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 10, "die"), (2, 7, "keep")], "id int, ts int, v string"
        )
    )
    t.delete(
        spark.createDataFrame([(1, None), (1, 5)], "id int, ts int"), spark
    )
    left = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert left == {2: "keep"}, left
    # the same mixed batch on a MOR table agrees
    m = HudiTable(
        path=str(tmp_path / "mormixed"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
    )
    m.bulk_insert(
        spark.createDataFrame(
            [(1, 10, "die"), (2, 7, "keep")], "id int, ts int, v string"
        )
    )
    m.upsert(
        spark.createDataFrame([(2, 8, "keep2")], "id int, ts int, v string"),
        spark,
    )
    m.delete(
        spark.createDataFrame([(1, None), (1, 5)], "id int, ts int"), spark
    )
    assert {r["id"]: r["v"] for r in m.read(spark).collect()} == {2: "keep2"}


def test_partitioned_mor_delete_marker_without_partition_column(spark, tmp_path):
    """A delete marker lacking the partition column on a partitioned MOR
    table must not be silently lost: the old membership guard appended
    it at the log ROOT while upsert entries sat in dt=... dirs, and
    Spark's partition discovery drops root-level files from a mixed
    layout — the doomed row survived every merge. The marker now lands
    in the null partition, one consistent layout."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "mordel"),
        record_key="id",
        precombine="ts",
        partition_field="dt",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 5, "2024-01-01", "a"), (2, 5, "2024-01-02", "b")],
            "id int, ts int, dt string, v string",
        )
    )
    t.upsert(
        spark.createDataFrame(
            [(2, 6, "2024-01-02", "b2")], "id int, ts int, dt string, v string"
        ),
        spark,
    )
    t.delete(spark.createDataFrame([(1, 7)], "id int, ts int"), spark)
    assert sorted(
        (r["id"], r["v"]) for r in t.read(spark).collect()
    ) == [(2, "b2")]
    # stale (conditional) delete still loses to the newer upsert
    t.delete(spark.createDataFrame([(2, 4)], "id int, ts int"), spark)
    assert [r["id"] for r in t.read(spark).collect()] == [2]
    # and the fold-to-base path agrees with the merged read
    t.compact(spark)
    assert sorted(
        (r["id"], r["v"]) for r in t.read(spark).collect()
    ) == [(2, "b2")]


def test_demux_honors_table_type_and_skips_null_routing(spark, tmp_path):
    """resolve_table_config must forward table.type / partitionpath to
    HudiTable (the hand-rolled constructor call silently dropped them —
    a MOR-configured demux table got full COW rewrites every batch),
    and a NULL routing key must be skipped, not crash the batch into a
    permanent checkpoint-replay loop."""
    from hudi_spark_utilities_plus_spark.streaming.demux import (
        demux_batch,
        resolve_table_config,
    )

    base = str(tmp_path)
    props = {
        "option.hoodie.path": base + "/{db}/ods_{db}_{table}",
        "db1.t1.hoodie.datasource.write.recordkey.field": "id",
        "db1.t1.hoodie.datasource.write.precombine.field": "ts",
        "db1.t1.hoodie.table.type": "MERGE_ON_READ",
        "db1.t1.hoodie.datasource.write.partitionpath.field": "dt",
    }
    t = resolve_table_config(props, "db1", "t1")
    assert t.is_mor
    assert t.partition_field == "dt"
    # a batch containing a null-db row routes the valid rows and skips
    # the malformed one
    batch = spark.createDataFrame(
        [
            ("insert", "db1", "t1", 1, '{"x":1}', "2024-01-01T10:00:00"),
            ("insert", None, "t1", 2, '{"x":2}', "2024-01-01T10:00:01"),
        ],
        "op string, db string, `table` string, id long, data string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    demux_batch(spark, batch, props)  # must not raise
    routed = spark.read.parquet(f"{base}/db1/ods_db1_t1")
    assert [r["id"] for r in routed.collect()] == [1]
    # the missing partition column is materialized as NULL (hive default
    # partition), not dropped from the layout
    assert [r["dt"] for r in routed.collect()] == [None]


def test_demux_transformer_derives_partition_column(spark, tmp_path):
    """Per-table transformer.sql runs on each table's slice before the
    keyed write (HoodieBinlogDeltaTransformationSuite.scala:38-40 derives
    dt from the event time) — so a partitionpath.field the raw CDC
    envelope lacks is derived, and the table lands hive-partitioned."""
    import os

    from hudi_spark_utilities_plus_spark.streaming.demux import demux_batch

    base = str(tmp_path)
    props = {
        "option.hoodie.path": base + "/{db}/ods_{db}_{table}",
        "db1.t1.hoodie.datasource.write.recordkey.field": "id",
        "db1.t1.hoodie.datasource.write.precombine.field": "ts",
        "db1.t1.hoodie.datasource.write.partitionpath.field": "dt",
        "db1.t1.hoodie.deltastreamer.transformer.sql": (
            "SELECT *, date_format(ts, 'yyyy-MM-dd') AS dt FROM <SRC>"
        ),
    }
    batch = spark.createDataFrame(
        [
            ("insert", "db1", "t1", 1, '{"x":1}', "2024-01-01T10:00:00"),
            ("insert", "db1", "t1", 2, '{"x":2}', "2024-01-02T09:00:00"),
        ],
        "op string, db string, `table` string, id long, data string, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    demux_batch(spark, batch, props)
    tdir = f"{base}/db1/ods_db1_t1"
    assert sorted(
        d for d in os.listdir(tdir) if d.startswith("dt=")
    ) == ["dt=2024-01-01", "dt=2024-01-02"]
    routed = spark.read.parquet(tdir)
    # partition discovery infers dt as a DATE from the dir names
    assert sorted(
        (r["id"], str(r["dt"])) for r in routed.collect()
    ) == [(1, "2024-01-01"), (2, "2024-01-02")]


def test_demux_transformer_dropping_required_column_fails_loudly(
    spark, tmp_path
):
    """A transformer.sql that drops op / the record key / the precombine
    column raises a config-shaped ValueError naming the columns — not an
    AnalysisException deep inside the CDC apply that would wedge the
    stream in a checkpoint-replay loop with no hint at the cause."""
    import pytest as _pytest

    from hudi_spark_utilities_plus_spark.streaming.demux import demux_batch

    props = {
        "option.hoodie.path": str(tmp_path) + "/{db}/ods_{db}_{table}",
        "db1.t1.hoodie.datasource.write.recordkey.field": "id",
        "db1.t1.hoodie.datasource.write.precombine.field": "ts",
        "db1.t1.hoodie.deltastreamer.transformer.sql": (
            "SELECT id, ts FROM <SRC>"  # drops op
        ),
    }
    batch = spark.createDataFrame(
        [("insert", "db1", "t1", 1, "{}", 100)],
        "op string, db string, `table` string, id long, data string, ts long",
    )
    with _pytest.raises(ValueError, match="dropped required column.*'op'"):
        demux_batch(spark, batch, props)
