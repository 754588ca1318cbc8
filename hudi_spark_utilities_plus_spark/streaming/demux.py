"""Multi-table streaming demux sink ("binlog-hudi" equivalent).

Reference parity: the sink format ``binlog-hudi`` routes one CDC stream
into many Hudi tables, resolving per-table config from
``${db}.${table}.hoodie.*`` namespaces and a path template like
``option.hoodie.path=/hudi/tmp/a/{db}/ods_{db}_{table}``
(``HoodieBinlogDeltaStreamerSuite.scala:31-44``,
``docs/binlog/01.Binary Logs Ingestion.md:48-51``). Output mode append,
processing-time trigger (default 60 s), mandatory checkpointLocation
(``HoodieBinlogDeltaStreamer.scala:91-101``).

PySpark-native realization: ``writeStream.foreachBatch`` — per
micro-batch, discover the (db, table) pairs present (metadata-sized
collect), resolve each pair's HudiTable from the config namespaces, and
run the idempotent CDC apply. Offsets commit to the checkpoint after the
batch, giving the reference's recovery contract.

Scale notes: the batch is persisted once and filtered per table (K
filters over one cached micro-batch beat K full re-reads), and the
tables apply concurrently on a driver thread pool. Each table's apply is
one keyed window over its slice, staged as executor blocks that its
route-count aggregate fills (outside a cached plan, so AQE sizes that
shuffle to the slice) and that are freed when the apply returns; then
one MERGE_ON_READ commit: a delta-log append, or, on the commit that
reaches the inline-compaction threshold, one base rewrite that folds the
batch in. A hot table never serializes cold ones behind a global key
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..lake import (
    PRECOMBINE_FIELD,
    RECORDKEY_FIELD,
    HudiTable,
)
from ..operators.transform import TRANSFORMER_SQL_KEY, transform
from .cdc import apply_cdc_batch

PATH_TEMPLATE_KEY = "option.hoodie.path"
# Binlog series name for compact_batch's position tie-break — the demux
# sink never sees the source reader's --binlog-name-prefix unless the
# pipeline forwards it here (binlog_streamer.py does); without it the
# tie-break parse stays scoped to the default 'mysql-bin' series and is
# silently inert on e.g. Aurora's 'mysql-bin-changelog' files.
BINLOG_PREFIX_KEY = "option.demux.binlog.nameprefix"
DEFAULT_TRIGGER_SECONDS = 60  # HoodieBinlogDeltaStreamer.scala:243-245


def resolve_transformer_sql(
    props: dict[str, str], db: str, table: str
) -> str | None:
    """Per-table SQL-transform hook for the streaming demux path —
    ``${db}.${table}.hoodie.deltastreamer.transformer.sql`` beats the
    global key. Reference parity: the binlog pipeline runs the user's
    ``<SRC>`` transform on each table's slice before the Hudi write
    (HoodieBinlogDeltaTransformationSuite.scala:38-40 derives ``dt``
    from the event time this way), which is how a configured
    ``partitionpath.field`` gets its column when the raw CDC envelope
    doesn't carry it. The transform sees the full envelope
    (op/db/table/id/data/ts[/binlog_*]) and must preserve op, the
    record key, and the precombine column for the CDC apply."""
    return (
        props.get(f"{db}.{table}.{TRANSFORMER_SQL_KEY}")
        or props.get(TRANSFORMER_SQL_KEY)
        or None
    )


def resolve_table_config(
    props: dict[str, str], db: str, table: str
) -> HudiTable:
    """Resolve ``${db}.${table}.hoodie.*`` overrides + the global path
    template into a HudiTable (hoodie_table_meta.properties shape)."""
    prefix = f"{db}.{table}."
    scoped = {
        k[len(prefix) :]: v for k, v in props.items() if k.startswith(prefix)
    }
    template = props.get(PATH_TEMPLATE_KEY, scoped.get(PATH_TEMPLATE_KEY, ""))
    path = scoped.get(
        "hoodie.path", template.replace("{db}", db).replace("{table}", table)
    )
    if not path:
        raise ValueError(f"no path configured for {db}.{table}")
    # Delegate the hoodie.* -> constructor mapping to from_props (the
    # one audited mapping): the previous hand-rolled call passed only
    # path/record_key/precombine/table_name, silently DROPPING
    # partitionpath.field and table.type — a table configured as
    # partitioned MERGE_ON_READ got an unpartitioned COPY_ON_WRITE
    # full-table rewrite every micro-batch.
    from ..lake import (
        PRECOMBINE_FIELD as _PC,
        RECORDKEY_FIELD as _RK,
        TABLE_NAME as _TN,
        TABLE_PATH as _TP,
    )

    merged = dict(scoped)
    merged[_TP] = path
    merged.setdefault(_RK, "id")
    merged.setdefault(_PC, "ts")
    merged.setdefault(_TN, f"ods_{db}_{table}")
    return HudiTable.from_props(merged)


def demux_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    props: dict[str, str],
    table_cache: dict[tuple[str, str], HudiTable] | None = None,
) -> None:
    """Route one micro-batch to per-(db, table) keyed lake tables.

    ``table_cache`` (keyed ``(db, table)``, owned by the streaming query
    that calls per batch) reuses resolved HudiTable instances ACROSS
    micro-batches: resolution is deterministic in ``props`` (fixed for
    the query's lifetime), and the instance carries the partition-dtype
    memo — without the cache that read-plan probe and its once-only
    fallback WARNING re-ran every batch per table, exactly on the hot
    path the memo exists for. Passing None (ad-hoc/batch callers)
    resolves fresh.

    Per-table applies run CONCURRENTLY on a driver thread pool (Spark job
    submission is thread-safe per session): each apply is a blocking
    driver-side job chain, so a serial loop would queue cold tables
    behind hot ones even with idle executors. Each worker thread tags its
    jobs with a per-table scheduler pool (effective under
    ``spark.scheduler.mode=FAIR``; harmless under FIFO). Any table's
    failure fails the whole batch BEFORE the checkpoint commits — replay
    re-applies every table, which the idempotent apply tolerates."""
    batch_df.persist()
    try:
        # Metadata-sized collect: the distinct routing keys, not the data.
        # NULL routing keys are skipped, not fanned out: one malformed
        # event would otherwise TypeError in the path template, fail the
        # batch before its checkpoint commits, and wedge the query in a
        # permanent replay loop.
        pairs = [
            (r["db"], r["table"])
            for r in batch_df.select("db", "table").distinct().collect()
            if r["db"] is not None and r["table"] is not None
        ]
        if not pairs:
            return

        def _apply_one(db: str, table: str) -> None:
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"demux-{db}.{table}"
            )
            try:
                # distinct (db, table) per worker thread → no two threads
                # write the same key; dict ops are GIL-atomic.
                if table_cache is not None and (db, table) in table_cache:
                    target = table_cache[(db, table)]
                else:
                    target = resolve_table_config(props, db, table)
                    if table_cache is not None:
                        table_cache[(db, table)] = target
                part = batch_df.filter(
                    (batch_df["db"] == db) & (batch_df["table"] == table)
                )
                sql = resolve_transformer_sql(props, db, table)
                if sql:
                    # uuid-suffixed temp views, so concurrent per-table
                    # transforms on the driver pool can't collide. The
                    # view must register AND resolve on the BATCH df's
                    # session: foreachBatch hands out a frame bound to
                    # an isolated session clone, so the outer session's
                    # catalog never sees the view.
                    part = transform(part.sparkSession, part, sql)
                    # fail with a CONFIG-shaped error, not an
                    # AnalysisException deep in the CDC apply: a
                    # transform that drops op / the record key / the
                    # precombine column would otherwise fail every
                    # micro-batch before the checkpoint commits — the
                    # exact permanent replay-loop wedge the partition
                    # materialization above exists to prevent.
                    needed = ["op", target.record_key, target.precombine]
                    missing = [c for c in needed if c not in part.columns]
                    if missing:
                        raise ValueError(
                            f"transformer.sql for {db}.{table} dropped "
                            f"required column(s) {missing}; the "
                            "transform must preserve 'op', the record "
                            f"key {target.record_key!r} and the "
                            f"precombine column {target.precombine!r} "
                            "for the CDC apply (SELECT *, ... FROM "
                            "<SRC> keeps them)"
                        )
                apply_cdc_batch(
                    target,
                    part,
                    spark,
                    binlog_name_prefix=props.get(
                        BINLOG_PREFIX_KEY, "mysql-bin"
                    ),
                )
            finally:
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

        workers = min(
            len(pairs), int(props.get("option.demux.parallelism", 8))
        )
        if workers <= 1:
            for db, table in pairs:
                _apply_one(db, table)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=workers, thread_name_prefix="demux"
            ) as pool:
                futures = [pool.submit(_apply_one, db, t) for db, t in pairs]
                for f in futures:
                    f.result()  # re-raise the first failure
    finally:
        batch_df.unpersist()


def start_binlog_streamer(
    spark: SparkSession,
    source: DataFrame,
    props: dict[str, str],
    checkpoint_location: str,
    trigger_seconds: int = DEFAULT_TRIGGER_SECONDS,
    query_name: str = "binlog-hudi-demux",
) -> StreamingQuery:
    """writeStream: append mode + processing-time trigger + mandatory
    checkpoint, demuxing via foreachBatch (A12/C1-C5)."""
    # per-query resolved-table cache, shared across micro-batches
    table_cache: dict[tuple[str, str], HudiTable] = {}

    def _on_batch(batch_df: DataFrame, _batch_id: int) -> None:
        demux_batch(spark, batch_df, props, table_cache)

    return (
        source.writeStream.outputMode("append")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_location)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .foreachBatch(_on_batch)
        .start()
    )


def start_console_debug(
    source: DataFrame, num_rows: int = 100000
) -> StreamingQuery:
    """--debug path: streaming console sink with numRows=100000
    (HoodieBinlogDeltaStreamer.scala:119-130)."""
    return (
        source.writeStream.outputMode("append")
        .format("console")
        .option("numRows", num_rows)
        .option("truncate", False)
        .start()
    )
