"""CDC change-event model + apply semantics (binlog emulation).

Reference parity: the binlog streamer consumes MySQL binlog events keyed
by (db, table) regex patterns and materializes latest-state Hudi tables
via recordkey + precombine (``HoodieBinlogDeltaStreamer.scala:77-89``,
``hoodie_table_meta.properties:3-4``). No MySQL exists here, so the
source is emulated as a file-based Structured Streaming source carrying
the same envelope (FIXTURES.md F5):

    op: insert|update|delete, db, table, id (record key),
    data (payload JSON), ts (binlog position / precombine)

``read_cdc_stream`` yields the unbounded DataFrame; ``apply_cdc_batch``
applies one micro-batch to a keyed table: within-batch latest-wins
compaction first (a batch may hold several ops per key), then upsert the
non-deletes and delete the delete-keys — idempotent, so checkpoint replay
after failure converges to the same state (at-least-once delivery +
idempotent apply ⇒ exactly-once table state).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..lake import HudiTable
from ..operators.materialize import materialize, release

_LOG = logging.getLogger(__name__)

__all__ = [
    "CDC_SCHEMA",
    "read_cdc_stream",
    "read_binlog_stream",
    "compact_batch",
    "apply_cdc_batch",
]

# The one authoritative envelope DDL — sources/standin.py's binlog
# stand-in aliases this constant, so the file-source emulation and the
# format("mysql-binlog") path can never drift apart on schema.
CDC_SCHEMA = (
    "op STRING, db STRING, `table` STRING, id BIGINT, data STRING, ts TIMESTAMP, "
    "binlog_file STRING, binlog_offset BIGINT"
)


def _alternation(pattern: str) -> str:
    """The reference's comma-list -> regex-alternation rewrite
    (HoodieBinlogDeltaStreamer.scala:85), shared by every pattern
    consumer so the rewrite rule can't drift between them."""
    return "|".join(p.strip() for p in pattern.split(","))


def _parsed_binlog_index(prefix: str | None = None):
    """Binlog file index as a LONG column — parsed, not the name string
    (MySQL widens the suffix past 6 digits at the .999999 rollover, and
    'mysql-bin.1000000' < 'mysql-bin.999999' lexicographically). NULL
    for unparseable names; with ``prefix``, also NULL for files of a
    different binlog series, which must not be index-compared against
    this series' positions. try_cast, not cast: under Spark 4's default
    ANSI mode a bare cast THROWS on a non-numeric suffix
    ('mysql-bin.v2.log'), failing the whole micro-batch."""
    parsed = F.substring_index(F.col("binlog_file"), ".", -1).try_cast("long")
    if prefix is None:
        return parsed
    return F.when(F.col("binlog_file").startswith(prefix + "."), parsed)


def read_cdc_stream(
    spark: SparkSession,
    path: str,
    database_pattern: str = ".*",
    table_pattern: str = ".*",
    max_files_per_trigger: int | None = None,
    binlog_name_prefix: str = "mysql-bin",
    binlog_index: int | str | None = None,
    binlog_file_offset: int | str | None = None,
) -> DataFrame:
    """File-based CDC source with the reference's db/table regex routing
    (comma lists rewritten to alternation, HoodieBinlogDeltaStreamer
    .scala:85) and binlog start position (``bingLogNamePrefix`` /
    ``binlogIndex`` / ``binlogFileOffset``, scala:86-88 — the reference
    keeps spark-binlog's "bingLog" typo in the option key; the Python
    surface uses the corrected spelling).

    Position semantics mirror MySQL: events carry the binlog file name
    (``{prefix}.{index:06d}``) and byte offset; a start position keeps
    events at or after ``(file, offset)``. Checkpoint recovery subsumes
    the position on restart — the option matters for first attach, same
    as the reference. Events without position columns (older fixtures)
    are kept — as are events whose file name belongs to a different
    series or has a non-numeric suffix (no comparable position). The
    corollary: ``binlog_name_prefix`` must name your ACTUAL series
    (e.g. ``mysql-bin-changelog`` on Aurora) — a prefix matching no
    event names makes every event rank positionless, i.e. silently
    disables the start-position filter for the first attach (a real
    server would instead error the dump request for an unknown file)."""
    reader = spark.readStream.schema(CDC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.json(path)
    db_re = _alternation(database_pattern)
    tbl_re = _alternation(table_pattern)
    df = df.filter(
        F.col("db").rlike(f"^({db_re})$") & F.col("table").rlike(f"^({tbl_re})$")
    )
    if binlog_index is not None:
        start_idx = int(binlog_index)
        start_off = int(binlog_file_offset or 4)  # 4 = first event, as in MySQL
        # prefix-scoped parsed index: NULL for other-series files and
        # unparseable suffixes (see _parsed_binlog_index)
        file_idx = _parsed_binlog_index(binlog_name_prefix)
        df = df.filter(
            F.col("binlog_file").isNull()
            # NULL parse = other series / non-numeric suffix — keep,
            # like no position (the mysql-binlog stand-in keeps such
            # events too; a bare cast made the whole predicate NULL
            # here and silently DROPPED them, so the two documented-
            # equivalent read paths diverged on identical input)
            | file_idx.isNull()
            | (file_idx > start_idx)
            | (
                (file_idx == start_idx)
                # a null offset means "no position" — keep, per the
                # docstring contract (coalescing to 0 silently dropped
                # such events whenever start_off > 0)
                & (
                    F.col("binlog_offset").isNull()
                    | (F.col("binlog_offset") >= start_off)
                )
            )
        )
    return df


def read_binlog_stream(
    spark: SparkSession,
    path: str,
    database_pattern: str = ".*",
    table_pattern: str = ".*",
    binlog_name_prefix: str = "mysql-bin",
    binlog_index: int | str | None = None,
    binlog_file_offset: int | str | None = None,
    host: str = "localhost",
    port: int | str = 3306,
    username: str = "",
    password: str = "",
    extra_options: dict[str, str] | None = None,
) -> DataFrame:
    """CDC stream through the CONNECTOR'S format name — the reference
    reads ``spark.readStream.format("mysql-binlog")`` with the
    spark-binlog option set (HoodieBinlogDeltaStreamer.scala:77-89).
    This resolves that exact format via the registered streaming Python
    Data Source stand-in (sources/standin.BinlogStandInSource): format
    resolution, option forwarding (including the reference-preserved
    ``bingLogNamePrefix`` typo key and the comma→'|' pattern rewrite),
    offset tracking, and checkpointed replay are all the real Spark
    streaming machinery; only the MySQL network hop is simulated by the
    JSON-lines fixture dir at ``path``.

    ``read_cdc_stream`` (above) remains the file-source emulation used
    where a plain file stream is the point (e.g. maxFilesPerTrigger
    batching control); pipelines that want reference parity end to end
    use this one."""
    from ..sources.standin import register_standin_sources

    register_standin_sources(spark)
    reader = (
        spark.readStream.format("mysql-binlog")
        .option("standin.path", path)
        .option("host", host)
        .option("port", str(port))
        .option("userName", username)
        .option("password", password)
        .option("databaseNamePattern", _alternation(database_pattern))
        .option("tableNamePattern", _alternation(table_pattern))
        .option("bingLogNamePrefix", binlog_name_prefix)
    )
    if binlog_index is not None:
        reader = reader.option("binlogIndex", str(int(binlog_index))).option(
            "binlogFileOffset", str(int(binlog_file_offset or 4))
        )
    for k, v in (extra_options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def _compact_order(
    batch_df: DataFrame, precombine: str, binlog_name_prefix: str
) -> list:
    """compact_batch's latest-first ordering: precombine, then the
    binlog position where the envelope carries it."""
    order = [F.col(precombine).desc()]
    cols = set(batch_df.columns)
    if "binlog_file" in cols:
        order.append(
            _parsed_binlog_index(binlog_name_prefix).desc_nulls_last()
        )
    if "binlog_offset" in cols:
        order.append(F.col("binlog_offset").desc_nulls_last())
    return order


def compact_batch(
    batch_df: DataFrame,
    record_key: str,
    precombine: str,
    binlog_name_prefix: str = "mysql-bin",
) -> DataFrame:
    """Within-batch latest-wins: keep only the last op per key.

    Ties on the precombine break on the BINLOG POSITION when the
    envelope carries it (binlog ts is second-resolution, so
    insert-then-delete on one key within a second is routine): ordering
    by ts alone left the winner to shuffle-internal row order — a
    checkpoint replay could pick the other op, breaking the
    replay-converges claim. (binlog_file compares by its parsed integer
    index; the name string mis-orders at the 6-digit rollover.) The
    tie-break parse is PREFIX-SCOPED like the read paths': since those
    deliberately admit other-series events, an unscoped parse here
    would let a foreign file's index outrank this series' tombstone —
    a cross-series comparison with no meaning. Foreign/unparseable
    names rank like positionless events (nulls last)."""
    w = Window.partitionBy(record_key).orderBy(
        *_compact_order(batch_df, precombine, binlog_name_prefix)
    )
    return (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_cdc_batch(
    table: HudiTable,
    batch_df: DataFrame,
    spark: SparkSession,
    binlog_name_prefix: str = "mysql-bin",
) -> None:
    """Apply one micro-batch of change events to a keyed lake table.

    Deletes keep the precombine column: a redelivered/out-of-order
    delete in a LATER micro-batch (at-least-once delivery) must compete
    by timestamp with the newer upsert already in the table — a
    key-only delete is unconditional and would kill the newer row.

    A mixed-op micro-batch is ONE table write:
    ``table.upsert(upserts, deletes=...)``. On MERGE_ON_READ that is a
    single O(batch) delta-log append holding two delta commits (on the
    batch that reaches the inline-compaction threshold, one base
    rewrite that folds the batch in instead) — which
    is why streaming CDC targets should be MOR-typed
    (``hoodie.table.type=MERGE_ON_READ`` in the demux props), Hudi's
    own guidance for write-heavy streams. On COPY_ON_WRITE the upsert
    and the delete each re-read and rewrite the touched partitions;
    COW remains correct (and fine for low-rate streams or bounded
    backfills) but is not the scale path here.

    Malformed events are skipped BEFORE compaction — and LOGGED with a
    per-op breakdown, so the drop is observable (the demux route's
    precedent for NULL db/table): NULL record keys (which would
    collapse into one window partition and upsert an arbitrary survivor
    as a phantom NULL-key record), NULL ``op``, and ops OUTSIDE the
    envelope contract ``insert|update|delete`` (matched
    case-insensitively after trimming — an emitter shouting ``DELETE``
    or trailing a newline must not have its tombstone silently applied
    as an UPSERT, and an unknown op like ``truncate`` must not be
    applied as one either).

    ``binlog_name_prefix`` scopes compact_batch's position tie-break to
    the stream's actual binlog series (see _parsed_binlog_index) — it
    must match the prefix the read path was attached with, or same-ts
    ties degrade to positionless ordering."""
    # regexp, not F.trim: Spark's trim strips only SPACE characters,
    # while the sloppy-producer case is a trailing newline/tab
    op_n = F.regexp_replace(F.lower(F.col("op")), r"^\s+|\s+$", "")
    # ``coalesce(..., false)`` so NULL-op rows land among the skipped
    # rows instead of vanishing from both sides of the tag
    keep = F.coalesce(
        op_n.isin("insert", "update", "delete")
        & F.col(table.record_key).isNotNull(),
        F.lit(False),
    )
    is_del = op_n == "delete"
    staged = None
    try:
        # One staged frame, the source scanned once: kept events are
        # compacted to their latest op per key (compact_batch's window,
        # partitioned by the keep flag too so skipped rows never compete
        # with kept ones); skipped events stay, for the audit. The frame
        # is a lazy materialize, not a persist: the full audit aggregate
        # below is its first consumer, so the window runs once, and
        # outside a cached plan AQE may coalesce the window's shuffle to
        # the few tasks a micro-batch needs. The blocks are released in
        # the finally, whether or not the batch commits.
        tagged = batch_df.withColumn("__cdc_keep", keep)
        w = Window.partitionBy("__cdc_keep", table.record_key).orderBy(
            *_compact_order(batch_df, table.precombine, binlog_name_prefix)
        )
        staged = materialize(
            tagged.withColumn("__rn", F.row_number().over(w))
            .filter(~F.col("__cdc_keep") | (F.col("__rn") == 1))
            .drop("__rn"),
            eager=False,
        )
        # one FULL aggregate (not isEmpty — a limit-1 short-circuit would
        # only part-fill the blocks): per-route counts of the COMPACTED
        # events, which gate the writes (a key whose delete lost to a
        # newer upsert leaves the delete route empty, and an empty
        # route must not commit a seq-allocating log entry), plus the
        # per-op count of the skipped events
        routes: dict[bool, int] = {}
        dropped: dict[str, int] = {}
        for r in (
            staged.groupBy(
                F.when(F.col("__cdc_keep"), is_del).alias("is_del"),
                F.when(
                    ~F.col("__cdc_keep"), F.coalesce(op_n, F.lit("<null op>"))
                ).alias("bad_op"),
            )
            .count()
            .collect()
        ):
            if r["bad_op"] is None:
                routes[r["is_del"]] = r["count"]
            else:
                dropped[r["bad_op"]] = r["count"]
        if dropped:
            _LOG.warning(
                "apply_cdc_batch(%s): skipped %d malformed event(s) "
                "(NULL %s key, NULL op, or op outside insert|update|delete): %s",
                table.table_name,
                sum(dropped.values()),
                table.record_key,
                dropped,
            )
        kept = staged.filter(F.col("__cdc_keep")).drop("__cdc_keep")
        upserts = kept.filter(~is_del).drop("op", "db", "table")
        # the precombine column is unconditionally present here: the
        # window ordered by it, so a batch lacking it raised above
        deletes = kept.filter(is_del).select(table.record_key, table.precombine)
        if routes.get(False, 0):
            table.upsert(
                upserts, spark, deletes=deletes if routes.get(True, 0) else None
            )
        elif routes.get(True, 0):
            table.delete(deletes, spark)
    finally:
        if staged is not None:
            release(staged)
