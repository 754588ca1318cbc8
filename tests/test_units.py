"""Unit tests: config routing (A14/A15), flatten (A2 on the F4 fixture
shapes), lake upsert semantics (§1.2), excel reader (A3), jdbc
validation (A4), transform gating (A1)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from hudi_spark_utilities_plus_spark.config import (
    extra_options,
    parse_properties,
    prefix_options,
    resolve_props,
)
from hudi_spark_utilities_plus_spark.lake import HudiTable, merge_latest_wins
from hudi_spark_utilities_plus_spark.operators.flatten import flatten
from hudi_spark_utilities_plus_spark.operators.transform import (
    maybe_transform,
    transform,
)
from hudi_spark_utilities_plus_spark.sources.excel import read_excel
from hudi_spark_utilities_plus_spark.sources.registry import (
    read_jdbc,
    validate_jdbc_url,
)

from .xlsx_util import write_xlsx

# ---------------------------------------------------------------------------
# config (A14/A15)
# ---------------------------------------------------------------------------


def test_properties_precedence(tmp_path):
    f = tmp_path / "p.properties"
    f.write_text("# comment\na=file\nb=file\n")
    props = resolve_props(
        explicit={"a": "explicit", "c": "explicit"},
        props_file=str(f),
        cli_overrides=["b=cli", "d=cli"],
    )
    # explicit < file < cli (HoodieExcelImporter.scala:45-57)
    assert props == {"a": "file", "b": "cli", "c": "explicit", "d": "cli"}


def test_properties_parser_comments_and_colons():
    props = parse_properties("! bang\n#hash\nk1=v1\nk2: v2\n\nnoise\n")
    assert props == {"k1": "v1", "k2": "v2"}


def test_extra_options_prefix_routing():
    props = {
        "hoodie.deltastreamer.jdbc.extra.options.fetchsize": "1000",
        "hoodie.deltastreamer.jdbc.extra.options.numPartitions": "8",
        "hoodie.table.name": "t",
    }
    assert extra_options(props, "jdbc") == {
        "fetchsize": "1000",
        "numPartitions": "8",
    }
    assert prefix_options(props, "hoodie.deltastreamer.mongo.extra.options.") == {}


# ---------------------------------------------------------------------------
# flatten (A2) — F4 fixture shapes
# ---------------------------------------------------------------------------


def test_flatten_struct_promotion_rename(spark):
    df = spark.createDataFrame(
        [(1.0, ("oid1",), [("l1", 1.0, 2.0)])],
        "id double, `_id` struct<oid: string>, "
        "locs array<struct<loc_id: string, x: double, y: double>>",
    )
    out = flatten(df)
    # rename rule TransformUtils.scala:69 + docs worked example
    assert out.columns == ["id", "_id_oid", "locs_loc_id", "locs_x", "locs_y"]
    assert out.collect()[0]["locs_loc_id"] == "l1"


def test_flatten_empty_array_keeps_parent(spark):
    df = spark.createDataFrame(
        [(1, []), (2, [("a",)])], "id int, arr array<struct<s: string>>"
    )
    out = flatten(df).orderBy("id")
    rows = out.collect()
    # explode_outer: id=1 survives with NULL child
    assert [(r["id"], r["arr_s"]) for r in rows] == [(1, None), (2, "a")]


def test_flatten_two_arrays_cartesian(spark):
    df = spark.createDataFrame(
        [(1, [("a",), ("b",)], [("x",), ("y",), ("z",)])],
        "id int, l1 array<struct<s: string>>, l2 array<struct<t: string>>",
    )
    out = flatten(df)
    # documented cartesian (MongoDB Ingestion.md:134-147): 2×3 = 6 rows
    assert out.count() == 6
    assert set(out.columns) == {"id", "l1_s", "l2_t"}


def test_flatten_name_normalization(spark):
    # reference-exact rename chain (TransformUtils.scala:69): dots to
    # underscores, spaces and dashes DELETED (not underscored)
    df = spark.createDataFrame(
        [((1,),)], "`a b-c` struct<`d.e`: int>"
    )
    out = flatten(df)
    assert out.columns == ["abc_d_e"]


# ---------------------------------------------------------------------------
# transform (A1)
# ---------------------------------------------------------------------------


def test_transform_src_substitution(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    out = transform(spark, df, "SELECT id * 2 AS id2 FROM <SRC> WHERE s = 'b'")
    assert [r["id2"] for r in out.collect()] == [4]


def test_transform_gating_documented_semantics(spark):
    df = spark.createDataFrame([(1,)], "id int")
    # no SQL key → pass-through (the Mongo/documented gate, not the
    # reference's buggy null-gate in Excel/JDBC/ES)
    assert maybe_transform(spark, df, {}) is df
    out = maybe_transform(
        spark,
        df,
        {"hoodie.deltastreamer.transformer.sql": "SELECT id + 1 AS id FROM <SRC>"},
    )
    assert out.collect()[0]["id"] == 2


def test_transform_drops_temp_view(spark):
    df = spark.createDataFrame([(1,)], "id int")
    before = {t.name for t in spark.catalog.listTables()}
    transform(spark, df, "SELECT * FROM <SRC>").collect()
    after = {t.name for t in spark.catalog.listTables()}
    assert before == after


# ---------------------------------------------------------------------------
# lake (§1.2)
# ---------------------------------------------------------------------------


def test_merge_latest_wins_ties(spark):
    df = spark.createDataFrame(
        [(1, "old", 10), (1, "new", 20), (2, "only", 5)],
        "k int, v string, pre int",
    )
    out = merge_latest_wins(df, "k", "pre")
    assert {r["k"]: r["v"] for r in out.collect()} == {1: "new", 2: "only"}


def test_hudi_table_upsert_delete_roundtrip(spark, tmp_path):
    t = HudiTable(path=str(tmp_path / "t"), record_key="id", precombine="ver")
    t.bulk_insert(spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "id int, ver int, v string"))
    # stale update (ver 0) must lose; new key inserts
    t.upsert(spark.createDataFrame([(1, 0, "STALE"), (3, 1, "c")], "id int, ver int, v string"))
    state = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert state == {1: "a", 2: "b", 3: "c"}
    t.delete(spark.createDataFrame([(2,)], "id int"))
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 3]


def test_hudi_table_partitioned_layout(spark, tmp_path):
    t = HudiTable(
        path=str(tmp_path / "p"),
        record_key="id",
        precombine="ver",
        partition_field="dt",
    )
    t.upsert(
        spark.createDataFrame(
            [(1, 1, "2024-01-01"), (2, 1, "2024-01-02")], "id int, ver int, dt string"
        )
    )
    dirs = {d for d in os.listdir(t.path) if d.startswith("dt=")}
    assert dirs == {"dt=2024-01-01", "dt=2024-01-02"}
    # partition pruning visible in the plan
    plan = t.read(spark).filter(F.col("dt") == "2024-01-01")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "dt=2024-01-01" not in plan


def test_hudi_partitioned_upsert_touches_only_affected_partitions(spark, tmp_path):
    """Dynamic partition overwrite: upserting into one partition must not
    rewrite the others' files."""
    t = HudiTable(
        path=str(tmp_path / "dp"),
        record_key="id",
        precombine="ver",
        partition_field="dt",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a", "d1"), (2, 1, "b", "d2")],
            "id int, ver int, v string, dt string",
        )
    )
    before = {
        f: os.path.getmtime(os.path.join(t.path, "dt=d2", f))
        for f in os.listdir(os.path.join(t.path, "dt=d2"))
        if f.endswith(".parquet")
    }
    t.upsert(
        spark.createDataFrame(
            [(1, 2, "a2", "d1"), (3, 1, "c", "d1")],
            "id int, ver int, v string, dt string",
        )
    )
    after = {
        f: os.path.getmtime(os.path.join(t.path, "dt=d2", f))
        for f in os.listdir(os.path.join(t.path, "dt=d2"))
        if f.endswith(".parquet")
    }
    assert before == after, "untouched partition dt=d2 was rewritten"
    state = {r["id"]: (r["v"], r["dt"]) for r in t.read(spark).collect()}
    assert state == {1: ("a2", "d1"), 2: ("b", "d2"), 3: ("c", "d1")}


def test_hudi_partitioned_delete_drops_emptied_partition(spark, tmp_path):
    t = HudiTable(
        path=str(tmp_path / "dd"),
        record_key="id",
        precombine="ver",
        partition_field="dt",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "d1"), (2, 1, "d1"), (3, 1, "d2")],
            "id int, ver int, dt string",
        )
    )
    t.delete(spark.createDataFrame([(1,), (2,)], "id int"))
    assert sorted(r["id"] for r in t.read(spark).collect()) == [3]
    assert not os.path.exists(os.path.join(t.path, "dt=d1"))


def test_hudi_partitioned_upsert_drops_partition_emptied_by_moved_key(
    spark, tmp_path
):
    """An upsert whose merge moves a partition's only key elsewhere
    leaves that touched partition with no rows: its old files must go,
    or the moved key comes back from them as a duplicate."""
    schema = "id int, ver int, p string"
    t = HudiTable(
        path=str(tmp_path / "mv"),
        record_key="id",
        precombine="ver",
        partition_field="p",
    )
    t.upsert(spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], schema))
    t.upsert(spark.createDataFrame([(1, 2, "c"), (1, 1, "a")], schema))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 2, "c"),
        (2, 1, "b"),
    ]
    assert not os.path.exists(os.path.join(t.path, "p=a"))


def _parquet_stats(d: str) -> dict:
    return {
        f: (os.stat(os.path.join(d, f)).st_ino, os.path.getmtime(os.path.join(d, f)))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


def test_hudi_partition_swap_layout(spark, tmp_path):
    """A partitioned COW upsert writes each touched partition once, as
    one file for a small batch, and leaves untouched partitions' files
    in place: same names, inodes and mtimes. AQE's partition coalescing
    is off for the write, so the single file comes from the rewrite's
    own rebalance and not from the merge happening to coalesce."""
    t = HudiTable(
        path=str(tmp_path / "sw"),
        record_key="id",
        precombine="ver",
        partition_field="p",
    )
    schema = "id int, ver int, v string, p string"
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"v{i}", f"p{i % 4}") for i in range(40)], schema
        ).repartition(4)
    )
    untouched = {
        p: _parquet_stats(os.path.join(t.path, f"p={p}")) for p in ("p2", "p3")
    }
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        t.upsert(
            spark.createDataFrame(
                [(0, 2, "u0", "p0"), (1, 2, "u1", "p1"), (100, 1, "n", "p0")],
                schema,
            ).repartition(3)
        )
    finally:
        spark.conf.set(coalesce, prior)
    for p in ("p0", "p1"):
        files = _parquet_stats(os.path.join(t.path, f"p={p}"))
        assert len(files) == 1, (p, files)
    for p, before in untouched.items():
        assert _parquet_stats(os.path.join(t.path, f"p={p}")) == before, p
    # no staging or backup dir survives the swap
    assert sorted(os.listdir(tmp_path)) == ["sw"]
    state = {r["id"]: (r["v"], r["p"]) for r in t.read(spark).collect()}
    assert len(state) == 41
    assert state[0] == ("u0", "p0") and state[1] == ("u1", "p1")
    assert state[100] == ("n", "p0") and state[2] == ("v2", "p2")


def test_hudi_mor_log_write_read_merge_compact(spark, tmp_path):
    """MERGE_ON_READ: upserts/deletes append to the delta log (base
    files untouched), read() merges, compact() folds the log away."""
    t = HudiTable(
        path=str(tmp_path / "mor"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (4, 9, "keep")], "id int, ver int, v string"
        )
    )
    base_files = {
        f: os.path.getmtime(os.path.join(t.path, f))
        for f in os.listdir(t.path)
        if f.endswith(".parquet")
    }
    # log-write path: update id 1, stale-update id 4 (loses), insert id 3
    t.upsert(
        spark.createDataFrame(
            [(1, 2, "a2"), (4, 1, "STALE"), (3, 1, "c")], "id int, ver int, v string"
        )
    )
    # delete id 2 unconditionally (key-only marker)
    t.delete(spark.createDataFrame([(2,)], "id int"))
    assert os.path.isdir(t.path + "__hudi_log")
    after = {
        f: os.path.getmtime(os.path.join(t.path, f))
        for f in os.listdir(t.path)
        if f.endswith(".parquet")
    }
    assert base_files == after, "MOR write touched base files"
    state = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert state == {1: "a2", 3: "c", 4: "keep"}
    # a later re-insert of a deleted key wins over the older delete
    t.upsert(spark.createDataFrame([(2, 2, "back")], "id int, ver int, v string"))
    assert {r["id"]: r["v"] for r in t.read(spark).collect()}[2] == "back"
    t.compact(spark)
    assert not os.path.exists(t.path + "__hudi_log")
    state = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert state == {1: "a2", 2: "back", 3: "c", 4: "keep"}


def test_hudi_partitioned_upsert_preserves_null_partition_rows(spark, tmp_path):
    """A null partition value is a real partition
    (__HIVE_DEFAULT_PARTITION__): upserting a batch that touches it must
    MERGE with its existing rows, not dynamically overwrite them away."""
    t = HudiTable(
        path=str(tmp_path / "np"),
        record_key="id",
        precombine="ver",
        partition_field="dt",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a", None), (2, 1, "b", None), (3, 1, "c", "d1")],
            "id int, ver int, v string, dt string",
        )
    )
    # batch touches the null partition with one NEW key only
    t.upsert(
        spark.createDataFrame(
            [(9, 1, "new-null", None)], "id int, ver int, v string, dt string"
        )
    )
    state = {r["id"]: (r["v"], r["dt"]) for r in t.read(spark).collect()}
    assert state == {
        1: ("a", None),
        2: ("b", None),
        3: ("c", "d1"),
        9: ("new-null", None),
    }


def test_hudi_partitioned_delete_null_partition_rows(spark, tmp_path):
    t = HudiTable(
        path=str(tmp_path / "nd"),
        record_key="id",
        precombine="ver",
        partition_field="dt",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, None), (2, 1, None), (3, 1, "d1")], "id int, ver int, dt string"
        )
    )
    t.delete(spark.createDataFrame([(1,)], "id int"))
    assert sorted(r["id"] for r in t.read(spark).collect()) == [2, 3]
    # deleting the last null-partition row drops its directory
    t.delete(spark.createDataFrame([(2,)], "id int"))
    assert sorted(r["id"] for r in t.read(spark).collect()) == [3]
    assert not os.path.exists(
        os.path.join(t.path, "dt=__HIVE_DEFAULT_PARTITION__")
    )


def test_hudi_mor_bulk_insert_after_delete_survives(spark, tmp_path):
    """A bulk_insert AFTER an unconditional delete marker must survive
    it (later insert beats earlier delete) — it routes through the delta
    log to get a commit seq above the marker's."""
    t = HudiTable(
        path=str(tmp_path / "mbi"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    t.delete(spark.createDataFrame([(1,)], "id int"))
    assert t.read(spark).count() == 0
    t.bulk_insert(spark.createDataFrame([(1, 1, "back")], "id int, ver int, v string"))
    assert {r["id"]: r["v"] for r in t.read(spark).collect()} == {1: "back"}


def test_hudi_mor_read_optimized_mode(spark, tmp_path):
    """read_optimized skips the log merge: base-only state, no pending
    commits visible (Hudi's MOR query-type split)."""
    t = HudiTable(
        path=str(tmp_path / "ro"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    t.upsert(spark.createDataFrame([(1, 2, "a2"), (2, 1, "b")], "id int, ver int, v string"))
    assert {r["id"]: r["v"] for r in t.read(spark).collect()} == {1: "a2", 2: "b"}
    assert {
        r["id"]: r["v"] for r in t.read(spark, mode="read_optimized").collect()
    } == {1: "a"}
    with pytest.raises(ValueError, match="read mode"):
        t.read(spark, mode="incremental")
    t.compact(spark)
    assert {
        r["id"]: r["v"] for r in t.read(spark, mode="read_optimized").collect()
    } == {1: "a2", 2: "b"}


def test_hudi_mor_inline_compaction_trigger(spark, tmp_path):
    """hoodie.compact.inline + max.delta.commits: the log folds into the
    base automatically once it accumulates N delta commits."""
    t = HudiTable(
        path=str(tmp_path / "ic"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
        options={
            "hoodie.compact.inline": "true",
            "hoodie.compact.inline.max.delta.commits": "2",
        },
    )
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    t.upsert(spark.createDataFrame([(2, 1, "b")], "id int, ver int, v string"))
    assert os.path.isdir(t.path + "__hudi_log")  # 1 commit < 2
    t.upsert(spark.createDataFrame([(1, 2, "a2")], "id int, ver int, v string"))
    assert not os.path.exists(t.path + "__hudi_log")  # auto-compacted
    assert {r["id"]: r["v"] for r in t.read(spark).collect()} == {1: "a2", 2: "b"}


def test_hudi_mor_incremental_read(spark, tmp_path):
    """Incremental query type: snapshot rows of keys changed since a
    commit cursor; deleted keys drop out; COW refuses."""
    t = HudiTable(
        path=str(tmp_path / "inc"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], "id int, ver int, v string"
        )
    )
    assert t.latest_commit_seq(spark) == -1
    # cursor protocol: the genesis base load IS the seq -1 commit, and
    # latest_commit_seq() returns -1 right after it — so a cursor of -1
    # means "consumed through genesis" and the pull is empty. (A mirror
    # bootstraps with a full read() + that cursor; every LATER
    # bulk_insert routes through the log, so nothing bypasses it.)
    assert t.read_incremental(spark).count() == 0
    t.upsert(spark.createDataFrame([(1, 2, "a2")], "id int, ver int, v string"))
    cursor = t.latest_commit_seq(spark)
    assert cursor == 0
    t.upsert(spark.createDataFrame([(2, 2, "b2")], "id int, ver int, v string"))
    t.delete(spark.createDataFrame([(3,)], "id int"))
    # since cursor: id 2 changed (latest value), id 3 deleted (absent),
    # id 1 unchanged since cursor (absent)
    got = {r["id"]: r["v"] for r in t.read_incremental(spark, cursor).collect()}
    assert got == {2: "b2"}
    # from the beginning: ids 1 and 2 (3 is net-deleted)
    got = {r["id"]: r["v"] for r in t.read_incremental(spark).collect()}
    assert got == {1: "a2", 2: "b2"}
    cow = HudiTable(path=str(tmp_path / "cow"), record_key="id", precombine="v")
    with pytest.raises(ValueError, match="MERGE_ON_READ"):
        cow.read_incremental(spark)


def test_hive_sync_mor_registers_ro_view(spark, tmp_path):
    """MOR hive-sync: a path-based parquet table can only serve base
    files, so the sync registers <tbl>_ro and withholds the snapshot
    name while log commits are pending (restored by compact())."""
    t = HudiTable(
        path=str(tmp_path / "hsm"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
        options={
            "hoodie.datasource.hive_sync.enable": "true",
            "hoodie.datasource.hive_sync.database": "data_import",
            "hoodie.datasource.hive_sync.table": "ods_m",
        },
    )
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    # no pending log: snapshot names (unsuffixed + HiveSyncTool's _rt)
    # and the _ro view all valid
    assert spark.catalog.tableExists("data_import.ods_m")
    assert spark.catalog.tableExists("data_import.ods_m_rt")
    assert spark.catalog.tableExists("data_import.ods_m_ro")
    t.upsert(spark.createDataFrame([(1, 2, "a2")], "id int, ver int, v string"))
    # pending log: _ro serves the (stale-by-contract) base, snapshot names gone
    assert not spark.catalog.tableExists("data_import.ods_m")
    assert not spark.catalog.tableExists("data_import.ods_m_rt")
    assert (
        spark.sql("SELECT v FROM data_import.ods_m_ro").collect()[0]["v"] == "a"
    )
    t.compact(spark)
    assert spark.sql("SELECT v FROM data_import.ods_m").collect()[0]["v"] == "a2"
    assert spark.sql("SELECT v FROM data_import.ods_m_rt").collect()[0]["v"] == "a2"
    for name in ("ods_m", "ods_m_rt", "ods_m_ro"):
        spark.sql(f"DROP TABLE IF EXISTS data_import.`{name}`")
    spark.sql("DROP DATABASE data_import")


def test_hudi_rewrite_refuses_object_store_schemes(spark):
    t = HudiTable(path="s3a://bucket/tbl", record_key="id", precombine="v")
    with pytest.raises(NotImplementedError, match="s3a"):
        t._local_fs_path()


def test_manifest_table_refuses_object_store_schemes(spark):
    """The manifest layout publishes by hard link, so it runs on local
    paths only; the refusal must not send the user back to manifest
    mode."""
    t = HudiTable(
        path="s3://bucket/tbl",
        record_key="id",
        precombine="v",
        options={"hoodie.commit.mode": "manifest"},
    )
    with pytest.raises(NotImplementedError, match="s3") as err:
        t._manifest_dir
    assert "manifest" not in str(err.value)
    assert "write_via_hudi_bundle" in str(err.value)


def test_hive_sync_registers_catalog_table(spark, tmp_path):
    """hoodie.datasource.hive_sync.* → table queryable by name after a
    write (session-catalog analogue of the reference's HiveSyncTool,
    hudi_mongodb_batch.properties:22-29)."""
    t = HudiTable(
        path=str(tmp_path / "hs"),
        record_key="id",
        precombine="ver",
        options={
            "hoodie.datasource.hive_sync.enable": "true",
            "hoodie.datasource.hive_sync.database": "data_import",
            "hoodie.datasource.hive_sync.table": "ods_t",
        },
    )
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    assert spark.sql("SELECT v FROM data_import.ods_t").collect()[0]["v"] == "a"
    # sync refreshes on subsequent writes too
    t.upsert(spark.createDataFrame([(2, 1, "b")], "id int, ver int, v string"))
    assert spark.sql("SELECT COUNT(*) AS n FROM data_import.ods_t").collect()[0]["n"] == 2
    spark.sql("DROP TABLE data_import.ods_t")
    spark.sql("DROP DATABASE data_import")


def test_hudi_table_from_props(tmp_path):
    t = HudiTable.from_props(
        {
            "path": str(tmp_path / "x"),
            "hoodie.datasource.write.recordkey.field": "id",
            "hoodie.datasource.write.precombine.field": "ts",
            "hoodie.datasource.write.partitionpath.field": "",
            "hoodie.table.name": "tbl",
        }
    )
    assert t.record_key == "id" and t.partition_field is None
    assert t.table_name == "tbl"


# ---------------------------------------------------------------------------
# excel reader (A3)
# ---------------------------------------------------------------------------


def test_excel_simple_header_infer(spark, tmp_path):
    # F1 'simple' fixture shape
    p = str(tmp_path / "simple.xlsx")
    write_xlsx(p, [["col1", "col2", "col3"], ["foo", "bar", 1], ["baz", "qux", 2]])
    df = read_excel(spark, p, {"inferSchema": "true"})
    assert df.columns == ["col1", "col2", "col3"]
    assert dict(df.dtypes)["col3"] == "bigint"
    assert df.count() == 2


def test_xlsx_writer_nulls_and_extreme_floats(spark, tmp_path):
    """The PRODUCT fixture writer (sources/xlsx_writer): a None in a
    leading/middle column must occupy its cell reference (not shift the
    row left), and floats outside repr's plain-notation range must not
    serialize in scientific notation."""
    import math

    import pytest as _pytest

    from hudi_spark_utilities_plus_spark.sources.xlsx_writer import (
        _fmt_float,
        write_xlsx,
    )

    p = str(tmp_path / "nulls.xlsx")
    write_xlsx(
        p,
        ["a", "b", "c"],
        [(None, "mid", 1e17), ("x", None, 2.5e-7)],
    )
    rows = sorted(
        (
            tuple(r)
            for r in read_excel(
                spark, p, {"header": "true", "usePlainNumberFormat": "true"}
            ).collect()
        ),
        key=lambda t: t[2],
    )
    # None → NULL in place; floats round-trip through plain decimal text
    assert rows == [
        ("x", None, "0.00000025"),
        (None, "mid", "100000000000000000"),
    ], rows
    assert float(_fmt_float(1e17)) == 1e17
    assert float(_fmt_float(2.5e-7)) == 2.5e-7
    assert "e" not in _fmt_float(1e17).lower()
    assert "e" not in _fmt_float(2.5e-7).lower()
    with _pytest.raises(ValueError):
        _fmt_float(math.nan)


def test_excel_strings_by_default(spark, tmp_path):
    p = str(tmp_path / "s.xlsx")
    write_xlsx(p, [["a", "b"], [1, 2.5]])
    df = read_excel(spark, p)
    assert dict(df.dtypes) == {"a": "string", "b": "string"}
    assert df.collect()[0]["b"] == "2.5"


def test_excel_no_header(spark, tmp_path):
    p = str(tmp_path / "nh.xlsx")
    write_xlsx(p, [["x", "y"], ["u", "v"]])
    df = read_excel(spark, p, {"header": "false"})
    assert df.columns == ["_c0", "_c1"]
    assert df.count() == 2


def test_excel_data_address_range(spark, tmp_path):
    p = str(tmp_path / "r.xlsx")
    write_xlsx(
        p,
        [
            ["junk", "junk", "junk"],
            ["h1", "h2", "junk"],
            ["a", 1, "junk"],
            ["b", 2, "junk"],
        ],
    )
    df = read_excel(spark, p, {"dataAddress": "'Sheet1'!A2:B4", "inferSchema": "true"})
    assert df.columns == ["h1", "h2"]
    assert [r["h2"] for r in df.orderBy("h1").collect()] == [1, 2]


def test_excel_ignore_after_header(spark, tmp_path):
    p = str(tmp_path / "iah.xlsx")
    write_xlsx(p, [["h"], ["skip1"], ["skip2"], ["keep"]])
    df = read_excel(spark, p, {"ignoreAfterHeader": "2"})
    assert [r["h"] for r in df.collect()] == ["keep"]


def test_excel_glob_multi_file(spark, tmp_path):
    for i in (1, 2):
        write_xlsx(str(tmp_path / f"f{i}.xlsx"), [["k"], [f"v{i}"]])
    df = read_excel(spark, str(tmp_path / "f*.xlsx"))
    assert sorted(r["k"] for r in df.collect()) == ["v1", "v2"]


def test_excel_empty_as_null(spark, tmp_path):
    p = str(tmp_path / "e.xlsx")
    write_xlsx(p, [["a", "b"], ["", "x"]])
    df = read_excel(spark, p)
    row = df.collect()[0]
    assert row["a"] is None and row["b"] == "x"


def test_excel_date_styled_cells_decode_typed(spark, tmp_path):
    """Date/datetime-styled serial numbers load as real date/timestamp
    values (xlsx stores dates as numbers + a date style), not numbers."""
    import datetime as dt

    p = str(tmp_path / "d.xlsx")
    write_xlsx(
        p,
        [
            ["d", "ts"],
            [dt.date(2024, 3, 1), dt.datetime(2024, 3, 1, 12, 30, 45)],
            [dt.date(2023, 12, 31), dt.datetime(2023, 12, 31, 23, 59, 59)],
        ],
    )
    df = read_excel(spark, p, {"inferSchema": "true"})
    assert dict(df.dtypes) == {"d": "date", "ts": "timestamp"}
    rows = df.orderBy("d").collect()
    assert rows[0]["d"] == dt.date(2023, 12, 31)
    assert rows[1]["ts"] == dt.datetime(2024, 3, 1, 12, 30, 45)
    # strings-by-default renders them as display text, not serials
    raw = read_excel(spark, p).orderBy("d").collect()
    assert raw[1]["d"] == "2024-03-01" and raw[1]["ts"] == "2024-03-01 12:30:45"


def test_excel_timestamp_format_inference(spark, tmp_path):
    import datetime as dt

    p = str(tmp_path / "tf.xlsx")
    write_xlsx(p, [["ts"], ["2024/01/02 03:04:05"], ["2024/06/07 08:09:10"]])
    df = read_excel(
        spark, p, {"inferSchema": "true", "timestampFormat": "yyyy/MM/dd HH:mm:ss"}
    )
    assert dict(df.dtypes) == {"ts": "timestamp"}
    assert df.orderBy("ts").collect()[0]["ts"] == dt.datetime(2024, 1, 2, 3, 4, 5)


def test_excel_plain_number_format(spark, tmp_path):
    p = str(tmp_path / "pn.xlsx")
    write_xlsx(p, [["n"], [1e15], [0.5]])
    plain = read_excel(spark, p, {"usePlainNumberFormat": "true"})
    vals = sorted(r["n"] for r in plain.collect())
    assert vals == ["0.5", "1000000000000000"]  # no scientific notation


def test_excel_absolute_data_address(spark, tmp_path):
    p = str(tmp_path / "abs.xlsx")
    write_xlsx(p, [["h1", "h2"], ["a", 1], ["b", 2]])
    df = read_excel(spark, p, {"dataAddress": "'Sheet1'!$A$1:$B$3"})
    assert df.columns == ["h1", "h2"]
    assert df.count() == 2


def test_excel_lowercase_data_address(spark, tmp_path):
    """POI's CellReference (spark-excel's dataAddress parser) is
    case-insensitive — 'a2:b4' must address the same range as 'A2:B4'."""
    p = str(tmp_path / "lc.xlsx")
    write_xlsx(p, [["junk", "junk"], ["h1", "h2"], ["a", 1], ["b", 2]])
    df = read_excel(spark, p, {"dataAddress": "'Sheet1'!a2:b4", "inferSchema": "true"})
    assert df.columns == ["h1", "h2"]
    assert [r["h2"] for r in df.orderBy("h1").collect()] == [1, 2]


def test_excel_open_range_right_of_data(spark, tmp_path):
    """An open range starting right of every populated cell used to
    produce width <= 0 — an EMPTY header list and a malformed
    zero-column schema. It now yields one all-null column spanning the
    addressed rows."""
    p = str(tmp_path / "or.xlsx")
    write_xlsx(p, [["h1", "h2"], ["a", 1]])
    df = read_excel(spark, p, {"dataAddress": "C1", "header": "false"})
    assert df.columns == ["_c0"]
    rows = df.collect()
    assert len(rows) == 2 and all(r["_c0"] is None for r in rows)


def test_excel_multi_file_parses_on_executors(spark, tmp_path):
    """Glob reads fan the per-workbook parse out as one task per file
    (the returned plan scans an RDD with len(paths) partitions)."""
    for i in range(4):
        write_xlsx(str(tmp_path / f"m{i}.xlsx"), [["k", "v"], [f"k{i}", i]])
    df = read_excel(spark, str(tmp_path / "m*.xlsx"), {"inferSchema": "true"})
    assert df.rdd.getNumPartitions() == 4
    assert sorted((r["k"], r["v"]) for r in df.collect()) == [
        (f"k{i}", i) for i in range(4)
    ]


# ---------------------------------------------------------------------------
# jdbc validation (A4)
# ---------------------------------------------------------------------------


def test_jdbc_dialect_whitelist():
    assert validate_jdbc_url("jdbc:mysql://h/db") == "mysql"
    assert validate_jdbc_url("jdbc:derby:memory:x") == "derby"
    with pytest.raises(ValueError, match="unsupported jdbc dialect"):
        validate_jdbc_url("jdbc:sqlite:x.db")
    with pytest.raises(ValueError, match="not a jdbc url"):
        validate_jdbc_url("mysql://h/db")


def test_jdbc_dbtable_query_exclusive(spark):
    with pytest.raises(ValueError, match="exactly one"):
        read_jdbc(spark, {"url": "jdbc:mysql://h/db"})
    with pytest.raises(ValueError, match="exactly one"):
        read_jdbc(
            spark,
            {"url": "jdbc:mysql://h/db", "dbtable": "t", "query": "SELECT 1"},
        )


def test_excel_error_cells(spark, tmp_path):
    """t="e" cells → null by default, literal fallback when requested."""
    import zipfile

    p = str(tmp_path / "err.xlsx")
    write_xlsx(p, [["a", "b"], ["x", "ok"]])
    # splice an error cell into the body row
    with zipfile.ZipFile(p) as zf:
        sheet = zf.read("xl/worksheets/sheet1.xml").decode()
        wb, rels = zf.read("xl/workbook.xml"), zf.read("xl/_rels/workbook.xml.rels")
    sheet = sheet.replace(
        '<c r="A2" t="inlineStr"><is><t>x</t></is></c>',
        '<c r="A2" t="e"><v>#DIV/0!</v></c>',
    )
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)

    df = read_excel(spark, p)
    assert df.collect()[0]["a"] is None
    df2 = read_excel(spark, p, {"setErrorCellsToFallbackValues": "true"})
    assert df2.collect()[0]["a"] == "#DIV/0!"


def test_excel_password_ignored_for_plain_workbook(spark, tmp_path):
    """A workbookPassword on an UNencrypted workbook is harmless — the
    magic-based dispatch never routes a plain zip through the crypto
    path (POI behaves the same way)."""
    p = str(tmp_path / "x.xlsx")
    write_xlsx(p, [["a"], ["v"]])
    assert [tuple(r) for r in read_excel(
        spark, p, {"workbookPassword": "secret"}
    ).collect()] == [("v",)]


# ---------------------------------------------------------------------------
# legacy BIFF8 .xls (A3 — the reference's POI path)
# ---------------------------------------------------------------------------


def test_xls_simple_header_infer(spark, tmp_path):
    from .xls_util import write_xls

    p = str(tmp_path / "simple.xls")
    write_xls(p, [["col1", "col2", "col3"], ["foo", "bar", 1], ["baz", "qux", 2]])
    df = read_excel(spark, p, {"inferSchema": "true"})
    assert df.columns == ["col1", "col2", "col3"]
    assert dict(df.dtypes)["col3"] == "bigint"
    assert {(r["col1"], r["col3"]) for r in df.collect()} == {("foo", 1), ("baz", 2)}


def test_xls_typed_cells(spark, tmp_path):
    """Dates/datetimes (via builtin numFmtIds), booleans, doubles."""
    import datetime as dt

    from .xls_util import write_xls

    p = str(tmp_path / "typed.xls")
    write_xls(
        p,
        [
            ["d", "ts", "b", "x"],
            [dt.date(2024, 3, 1), dt.datetime(2024, 3, 1, 12, 30, 5), True, 1.5],
            [dt.date(2024, 3, 2), dt.datetime(2024, 3, 2, 1, 2, 3), False, -2.25],
        ],
    )
    df = read_excel(spark, p, {"inferSchema": "true"})
    assert dict(df.dtypes) == {
        "d": "date", "ts": "timestamp", "b": "boolean", "x": "double"
    }
    rows = {r["d"]: (r["ts"], r["b"], r["x"]) for r in df.collect()}
    assert rows[dt.date(2024, 3, 1)] == (
        dt.datetime(2024, 3, 1, 12, 30, 5), True, 1.5,
    )


def test_xls_rk_mulrk_formula_records(spark, tmp_path):
    """Low-level record coverage: RK (int, /100, float), MULRK runs, and
    FORMULA cached numeric + string results."""
    from . import xls_util as X

    cells = (
        X.rk(1, 0, 0, (42 << 2) | 0x02)  # int 42
        + X.rk(1, 1, 0, (1234 << 2) | 0x03)  # int/100 → 12.34
        + X.mulrk(2, 0, [(0, (7 << 2) | 0x02), (0, (8 << 2) | 0x02)])
        + X.formula_num(3, 0, 0, 99.5)
        + X.formula_str(3, 1)
        + X.string_rec("cached")
    )
    hdr = X.labelsst(0, 0, 0) + X.labelsst(0, 1, 1)
    sheet_stream = X.bof(0x0010) + hdr + cells + X.EOF_REC
    fixed = X.bof(0x0005) + X.xf(0) + X.sst(["a", "b"])
    glen = len(fixed) + len(X.boundsheet(0, "S")) + len(X.EOF_REC)
    stream = fixed + X.boundsheet(glen, "S") + X.EOF_REC + sheet_stream
    p = str(tmp_path / "rk.xls")
    with open(p, "wb") as fh:
        fh.write(X.ole_wrap(stream))

    from hudi_spark_utilities_plus_spark.sources.biff import read_xls_rows

    rows = read_xls_rows(p)
    assert rows[1] == {0: 42, 1: 12.34}
    assert rows[2] == {0: 7, 1: 8}
    assert rows[3] == {0: 99.5, 1: "cached"}


def test_xls_sst_continue_split(tmp_path):
    """SST character data spanning a CONTINUE record restarts with a
    fresh flags byte — the classic BIFF8 parsing trap."""
    import struct

    from . import xls_util as X

    # one string "helloworld": SST carries cch=10 + flags + "hello",
    # CONTINUE restarts (flags=0) + "world"
    sst_payload = struct.pack("<II", 1, 1) + struct.pack("<HB", 10, 0) + b"hello"
    cont_payload = b"\x00" + b"world"
    fixed = (
        X.bof(0x0005)
        + X.xf(0)
        + X.rec(0x00FC, sst_payload)
        + X.rec(0x003C, cont_payload)
    )
    sheet_stream = X.bof(0x0010) + X.labelsst(0, 0, 0) + X.EOF_REC
    glen = len(fixed) + len(X.boundsheet(0, "S")) + len(X.EOF_REC)
    stream = fixed + X.boundsheet(glen, "S") + X.EOF_REC + sheet_stream
    p = str(tmp_path / "cont.xls")
    with open(p, "wb") as fh:
        fh.write(X.ole_wrap(stream))

    from hudi_spark_utilities_plus_spark.sources.biff import read_xls_rows

    assert read_xls_rows(p) == [{0: "helloworld"}]


def test_xls_mixed_format_glob(spark, tmp_path):
    """A glob mixing .xls and .xlsx concatenates row-wise (dispatch is
    by container magic, not extension)."""
    from .xls_util import write_xls

    write_xlsx(str(tmp_path / "a1.xlsx"), [["k", "v"], ["x", 1]])
    write_xls(str(tmp_path / "a2.xls"), [["k", "v"], ["y", 2]])
    df = read_excel(
        spark, str(tmp_path / "a*.xls*"), {"inferSchema": "true"}
    )
    assert {(r["k"], r["v"]) for r in df.collect()} == {("x", 1), ("y", 2)}


_REF_SHEETS = (
    "/root/reference/boxer-excel/src/test/resources/exmaple/spreadsheets"
)


@pytest.mark.skipif(
    not os.path.isdir(_REF_SHEETS), reason="reference fixtures not present"
)
def test_xls_reference_fixture_matches_xlsx_sibling(spark):
    """The reference repo ships the same workbook in both containers —
    our two parsers must agree cell-for-cell (and the .xls path must
    route through the OLE mini-stream, which this 2.3 KB fixture uses)."""
    a = read_excel(
        spark,
        f"{_REF_SHEETS}/infer_stricter_numerical_types.xls",
        {"inferSchema": "true"},
    )
    b = read_excel(
        spark,
        f"{_REF_SHEETS}/infer_stricter_numerical_types.xlsx",
        {"inferSchema": "true"},
    )
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@pytest.mark.skipif(
    not os.path.isdir(_REF_SHEETS), reason="reference fixtures not present"
)
def test_encrypted_xlsx_agile_decrypts(spark):
    """Agile-encrypted OOXML (AES-256-CBC/SHA512): decrypts with the
    right password, fails the verifier on a wrong one, and asks for a
    password when none is given."""
    from hudi_spark_utilities_plus_spark.sources.offcrypto import (
        WrongPasswordError,
    )

    p = f"{_REF_SHEETS}/simple_encrypted.xlsx"
    df = read_excel(spark, p, {"workbookPassword": "fooba", "inferSchema": "true"})
    assert df.columns == ["A", "B", "C", "D"]
    assert [tuple(r) for r in df.collect()] == [(1, 2, 3, 4)]
    with pytest.raises(WrongPasswordError):
        read_excel(spark, p, {"workbookPassword": "nope"})
    with pytest.raises(ValueError, match="workbookPassword"):
        read_excel(spark, p)


@pytest.mark.skipif(
    not os.path.isdir(_REF_SHEETS), reason="reference fixtures not present"
)
def test_encrypted_xls_rc4_cryptoapi_decrypts(spark):
    """RC4-CryptoAPI-encrypted legacy .xls (FILEPASS, SHA-1 block keys):
    record-level decryption with 1024-byte re-keying and plaintext-
    exempt records."""
    from hudi_spark_utilities_plus_spark.sources.offcrypto import (
        WrongPasswordError,
    )

    p = f"{_REF_SHEETS}/simple_encrypted.xls"
    df = read_excel(spark, p, {"workbookPassword": "fooba", "inferSchema": "true"})
    assert df.columns == ["A", "B", "C", "D"]
    assert [tuple(r) for r in df.collect()] == [(1, 2, 3, 4)]
    with pytest.raises(WrongPasswordError):
        read_excel(spark, p, {"workbookPassword": "nope"})
    with pytest.raises(ValueError, match="workbookPassword"):
        read_excel(spark, p)


def test_hudi_mor_incremental_cursor_across_compaction(spark, tmp_path):
    """Compaction must not silently invalidate incremental cursors: seqs
    stay monotonic via the watermark sidecar; a cursor predating the
    compaction fails loudly (its history was folded into the base),
    while a current cursor keeps working."""
    t = HudiTable(
        path=str(tmp_path / "cc"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "id int, ver int, v string")
    )
    t.upsert(spark.createDataFrame([(1, 2, "a2")], "id int, ver int, v string"))
    stale = -1  # "from the beginning"
    cursor = t.latest_commit_seq(spark)  # 0
    t.compact(spark)
    # seqs continue after the watermark instead of resetting to 0
    t.upsert(spark.createDataFrame([(2, 2, "b2")], "id int, ver int, v string"))
    assert t.latest_commit_seq(spark) == cursor + 1
    got = {r["id"]: r["v"] for r in t.read_incremental(spark, cursor).collect()}
    assert got == {2: "b2"}
    with pytest.raises(ValueError, match="predates the last compaction"):
        t.read_incremental(spark, stale)


def test_hudi_cluster_zorder_shrinks_file_envelopes(spark, tmp_path):
    """Z-order clustering co-locates nearby (x, y) values, shrinking
    each file's 2-D min/max envelope so a box filter can skip files
    entirely (footer stats); content is byte-identical before/after."""
    base = spark.range(20000).select(
        F.col("id"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(10000)).alias("x"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(10000)).alias("y"),
    )
    t = HudiTable(path=str(tmp_path / "zc"), record_key="id", precombine="id")
    t.bulk_insert(base.repartition(8))

    def avg_envelope_area():
        df = spark.read.parquet(t.path).withColumn("f", F.input_file_name())
        return (
            df.groupBy("f")
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .agg(F.avg((F.col("sx") / 10000) * (F.col("sy") / 10000)))
            .first()[0]
        )

    before_rows = {r.id for r in t.read(spark).collect()}
    unclustered = avg_envelope_area()
    t.cluster(spark, ["x", "y"], target_files=8)
    clustered = avg_envelope_area()
    assert clustered < unclustered * 0.5
    assert {r.id for r in t.read(spark).collect()} == before_rows
    # the 10%x10% corner box now touches a strict subset of files
    touched = (
        spark.read.parquet(t.path)
        .filter((F.col("x") < 1000) & (F.col("y") < 1000))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert touched <= 2


def test_hudi_cluster_linear_and_validation(spark, tmp_path):
    """Linear strategy sorts lexicographically (content preserved);
    bad strategy / empty cols fail loudly; string + timestamp sort
    columns are accepted (hash / epoch bucketing)."""
    t = HudiTable(path=str(tmp_path / "lc"), record_key="id", precombine="id")
    df = spark.createDataFrame(
        [(i, f"k{i % 7}", i * 100) for i in range(500)],
        "id int, grp string, val int",
    ).withColumn("ts", F.timestamp_seconds(F.col("val")))
    t.bulk_insert(df.repartition(4))
    before = {r.id for r in t.read(spark).collect()}
    t.cluster(spark, ["val"], strategy="linear", target_files=4)
    assert {r.id for r in t.read(spark).collect()} == before
    t.cluster(spark, ["grp", "ts"], target_files=4)  # string + timestamp
    assert {r.id for r in t.read(spark).collect()} == before
    with pytest.raises(ValueError, match="strategy"):
        t.cluster(spark, ["val"], strategy="hilbert")
    with pytest.raises(ValueError, match="sort column"):
        t.cluster(spark, [])


def test_hudi_rectify_file_sizes(spark, tmp_path):
    """Small-file compaction: a table written as many tiny files is
    rewritten to ceil(total/target) files with identical content; a
    right-sized table is left untouched (returns 0)."""
    t = HudiTable(path=str(tmp_path / "rf"), record_key="id", precombine="id")
    t.bulk_insert(spark.range(50000).select(F.col("id")).repartition(64))
    n_before = len(
        [f for f in os.listdir(t.path) if f.endswith(".parquet")]
    )
    assert n_before == 64
    total = sum(
        os.path.getsize(os.path.join(t.path, f))
        for f in os.listdir(t.path)
        if f.endswith(".parquet")
    )
    target = total // 4  # aim for ~4 files
    before = {r.id for r in t.read(spark).collect()}
    n_new = t.rectify_file_sizes(spark, target_file_bytes=target)
    assert 0 < n_new < 64
    files = [f for f in os.listdir(t.path) if f.endswith(".parquet")]
    assert len(files) == n_new
    assert {r.id for r in t.read(spark).collect()} == before
    # second call: already right-sized, no rewrite
    assert t.rectify_file_sizes(spark, target_file_bytes=target) == 0


def test_hudi_rectify_partitioned_compacts_not_multiplies(spark, tmp_path):
    """Partitioned rectify must CO-LOCATE each hive partition's rows
    before the partitionBy write — a round-robin shuffle would hand
    every task a slice of every partition and multiply the file count
    (tasks x partitions) instead of compacting it."""
    t = HudiTable(
        path=str(tmp_path / "rfp"),
        record_key="id",
        precombine="id",
        partition_field="grp",
    )
    df = spark.range(20000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("grp")
    )
    t.bulk_insert(df.repartition(32))

    def count_files():
        return sum(
            1
            for dirpath, _, files in os.walk(t.path)
            for f in files
            if f.endswith(".parquet")
        )

    n_before = count_files()
    assert n_before >= 32  # fragmented: every task wrote every partition
    before = {r.id for r in t.read(spark).collect()}
    total = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(t.path)
        for f in files
        if f.endswith(".parquet")
    )
    t.rectify_file_sizes(spark, target_file_bytes=max(1, total // 4))
    n_after = count_files()
    # 4 hive partitions, each co-located -> file count near the
    # partition count, far below the fragmented layout
    assert n_after <= 8, n_after
    assert {r.id for r in t.read(spark).collect()} == before


def test_hudi_cluster_zorder_constant_and_null_columns(spark, tmp_path):
    """Z-order edge paths: a constant column (min==max -> bucket 0) and
    a null-bearing column (null -> bucket 0) must not error and must
    preserve content exactly."""
    t = HudiTable(path=str(tmp_path / "zn"), record_key="id", precombine="id")
    df = spark.createDataFrame(
        [(i, 7, i * 10 if i % 3 else None) for i in range(300)],
        "id int, const int, sparse int",
    )
    t.bulk_insert(df.repartition(4))
    before = {(r.id, r.const, r.sparse) for r in t.read(spark).collect()}
    t.cluster(spark, ["const", "sparse"], target_files=4)
    assert {(r.id, r.const, r.sparse) for r in t.read(spark).collect()} == before


def test_hudi_mor_time_travel(spark, tmp_path):
    """as_of_seq reads each historical state; later commits invisible;
    compaction sets the horizon; COW and read_optimized refuse."""
    t = HudiTable(
        path=str(tmp_path / "tt"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], "id int, ver int, v string"
        )
    )
    t.upsert(spark.createDataFrame([(1, 2, "a2")], "id int, ver int, v string"))
    seq_upsert = t.latest_commit_seq(spark)
    t.delete(spark.createDataFrame([(3,)], "id int"))
    seq_delete = t.latest_commit_seq(spark)
    # as of base (before any delta commit): original rows
    got = {r["id"]: r["v"] for r in t.read(spark, as_of_seq=-1).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    # as of the upsert: update visible, delete not yet
    got = {r["id"]: r["v"] for r in t.read(spark, as_of_seq=seq_upsert).collect()}
    assert got == {1: "a2", 2: "b", 3: "c"}
    # as of the delete == current snapshot
    got = {r["id"]: r["v"] for r in t.read(spark, as_of_seq=seq_delete).collect()}
    assert got == {1: "a2", 2: "b"}
    # compaction folds history: pre-compaction instants become unreadable
    t.compact(spark)
    with pytest.raises(ValueError, match="predates the last compaction"):
        t.read(spark, as_of_seq=seq_upsert)
    # post-compaction current state still reads
    t.upsert(spark.createDataFrame([(2, 3, "b3")], "id int, ver int, v string"))
    got = {r["id"]: r["v"] for r in
           t.read(spark, as_of_seq=t.latest_commit_seq(spark)).collect()}
    assert got == {1: "a2", 2: "b3"}
    with pytest.raises(ValueError, match="snapshot-mode"):
        t.read(spark, mode="read_optimized", as_of_seq=0)
    cow = HudiTable(path=str(tmp_path / "ttcow"), record_key="id", precombine="v")
    with pytest.raises(ValueError, match="MERGE_ON_READ"):
        cow.read(spark, as_of_seq=0)


def test_sessionize_property_sweep_vs_bruteforce(spark):
    """Deterministic sweep: 3 gap settings x a seeded event set with
    duplicate timestamps, out-of-order arrival, and single-event users —
    session_stats must equal a pure-Python brute force on every
    (user, session) row."""
    import datetime as dt

    from hudi_spark_utilities_plus_spark.operators.sessions import session_stats

    base = dt.datetime(2024, 1, 1)
    # splitmix-ish deterministic "random" offsets; includes exact ties
    rows = []
    eid = 0
    for u in range(7):
        t_us = 0
        for i in range(u * 3 % 11):  # 0..10 events per user (user 0: none)
            step = ((u * 2654435761 + i * 40503) % 5000) * 1_000_000
            t_us += step
            rows.append((eid, u, base + dt.timedelta(microseconds=t_us)))
            eid += 1
            if (u + i) % 4 == 0:  # exact duplicate timestamp, new event id
                rows.append((eid, u, base + dt.timedelta(microseconds=t_us)))
                eid += 1
    df = spark.createDataFrame(
        [(e, u, t) for e, u, t in rows], "event_id long, user_id long, ts timestamp"
    )
    for gap_s in (1, 1800, 4000):
        # python brute force: sort by (ts, event_id), split on gap > gap_s
        expected = {}
        by_user = {}
        for e, u, t in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
            by_user.setdefault(u, []).append(t)
        for u, ts_list in by_user.items():
            seq = 0
            prev = None
            bounds = []  # (seq, first, last)
            for t in ts_list:
                if prev is None or (t - prev).total_seconds() > gap_s:
                    seq += 1
                    bounds.append([seq, t, t])
                else:
                    bounds[-1][2] = t
                prev = t
            for s, t0, t1 in bounds:
                n = sum(1 for t in ts_list if t0 <= t <= t1)
                expected[(u, s)] = (
                    n,
                    int((t1 - t0).total_seconds() * 1_000_000),
                )
        got = {
            (r["user_id"], r["session_seq"]): (r["n_events"], r["span_us"])
            for r in session_stats(df, gap_seconds=gap_s).collect()
        }
        assert got == expected, f"gap={gap_s}: {got} != {expected}"


def test_asof_property_sweep_vs_bruteforce(spark):
    """Deterministic sweep: tolerance x seeded (key, ts) sets with
    unmatched keys, exact-tie timestamps (backward INCLUSIVE must take
    them) and sparse right sides — asof_join must equal a pure-Python
    scan for every left row."""
    import datetime as dt

    from hudi_spark_utilities_plus_spark.operators.asof import asof_join

    base = dt.datetime(2024, 6, 1)
    lrows, rrows = [], []
    for k in range(6):
        for i in range((k * 5 + 3) % 7 + 1):
            off = (k * 7919 + i * 104729) % 3600
            lrows.append((k, base + dt.timedelta(seconds=off)))
        for j in range(k % 4):  # keys 0 and 4 have NO right rows
            off = (k * 15485863 + j * 32452843) % 3600
            rrows.append((k, base + dt.timedelta(seconds=off), k * 100 + j))
    # exact tie: right row at a left timestamp
    rrows.append((1, lrows[[r[0] for r in lrows].index(1)][1], 999))
    ldf = spark.createDataFrame(lrows, "k long, lts timestamp")
    rdf = spark.createDataFrame(rrows, "k long, rts timestamp, payload long")
    for tol in (None, 600):
        got = {
            (r["k"], r["lts"]): (r["rts"], r["payload"])
            for r in asof_join(
                ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                tolerance_seconds=tol,
            ).collect()
        }
        expected = {}
        for k, lts in lrows:
            cands = [
                (rts, p) for (rk, rts, p) in rrows
                if rk == k and rts <= lts
                and (tol is None or (lts - rts).total_seconds() <= tol)
            ]
            # greatest (ts, payload) wins — the documented tie policy
            expected[(k, lts)] = max(cands) if cands else (None, None)
        assert got == expected, f"tol={tol}"


def test_global_windows_equal_native_single_partition(spark):
    """Equivalence sweep: the two-phase global row_number / ntile /
    percent_rank / running-sum programs must match Spark's native
    global-ORDER-BY window (safe at toy scale) value-for-value,
    including duplicate sort keys resolved by the tiebreak column."""
    from pyspark.sql import Window as W

    from hudi_spark_utilities_plus_spark.operators.global_windows import (
        global_row_number,
        global_running_sum,
        ntile_expr,
        percent_rank_expr,
    )

    rows = [(i, (i * 7) % 5, float((i * 13) % 9)) for i in range(97)]
    df = spark.createDataFrame(rows, "id long, grp long, v double")
    order = [F.col("v").desc(), F.col("id")]
    ranked, n_total = global_row_number(df, order)
    got = ranked.select(
        "id",
        F.col("rn"),
        ntile_expr(F.col("rn"), n_total, 4).alias("nt"),
        percent_rank_expr(F.col("rn"), n_total).alias("pr"),
    )
    w = W.orderBy(*order)
    want = df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("nt"),
        F.percent_rank().over(w).alias("pr"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    got_rs = global_running_sum(df, order, F.col("v"))
    want_rs = df.select(
        "id",
        F.sum("v").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias(
            "cum"
        ),
    )
    g = {r["id"]: r["cum"] for r in got_rs.select("id", "cum").collect()}
    t = {r["id"]: r["cum"] for r in want_rs.collect()}
    assert g.keys() == t.keys()
    for k in g:
        assert abs(g[k] - t[k]) < 1e-9, (k, g[k], t[k])


def test_global_running_sum_decimal_exact(spark):
    """DECIMAL value columns must keep exact decimal arithmetic through
    the two-phase offsets (money sums are exact; no float collapse)."""
    from decimal import Decimal

    from pyspark.sql import Window as W

    from hudi_spark_utilities_plus_spark.operators.global_windows import (
        global_running_sum,
    )

    rows = [(i, Decimal(f"{(i * 37) % 100}.{(i * 13) % 100:02d}")) for i in range(97)]
    df = spark.createDataFrame(rows, "id long, v decimal(10,2)")
    order = [F.col("v").desc(), F.col("id")]
    got = global_running_sum(df, order, F.col("v"), n_partitions=7)
    assert dict(got.dtypes)["cum"] == "decimal(38,2)"
    w = W.orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
    want = df.select("id", F.sum("v").over(w).alias("cum"))
    g = {r["id"]: r["cum"] for r in got.select("id", "cum").collect()}
    t = {r["id"]: r["cum"] for r in want.collect()}
    assert g == t  # exact Decimal equality, no tolerance


def test_packing_property_sweep_vs_bruteforce(spark):
    """pack_stats vs a pure-Python cumulative-cut reference across three
    budgets, including docs larger than the budget (they open their own
    pack and overflow it — concat-and-chunk keeps token order)."""
    from hudi_spark_utilities_plus_spark.operators.packing import pack_stats

    toks = [(i, ((i * 37) % 90) + 1) for i in range(60)]  # 1..90 tokens
    df = spark.createDataFrame(toks, "doc_id long, tok long")
    for budget in (50, 100, 1000):
        cum = 0
        expected = {}
        for _, t in sorted(toks):
            pid = cum // budget
            n, tot = expected.get(pid, (0, 0))
            expected[pid] = (n + 1, tot + t)
            cum += t
        got = {
            r["pack_id"]: (r["n_docs"], r["tok_total"])
            for r in pack_stats(df, "doc_id", "tok", budget=budget).collect()
        }
        assert got == expected, f"budget={budget}"


def test_flatten_property_sweep_vs_python_reference(spark):
    """Equivalence sweep: a Python reimplementation of the reference's
    flatten fixpoint (explode-first-array-of-struct, promote-first-
    struct, append-at-end, rename chain) run over nested rows with
    nulls, empty arrays, and two array columns — flatten(df) must match
    row-multiset AND column order exactly."""
    rows = [
        (1, {"a": 1, "b": {"x": "p"}}, [{"v": 1}, {"v": 2}], [{"w": "m"}]),
        (2, {"a": 2, "b": {"x": None}}, [], [{"w": "n"}, {"w": "o"}]),
        (3, None, None, []),
    ]
    schema = (
        "id long, s struct<a: long, b: struct<x: string>>, "
        "arr1 array<struct<v: long>>, arr2 array<struct<w: string>>"
    )
    df = spark.createDataFrame(rows, schema)
    from hudi_spark_utilities_plus_spark.operators.flatten import flatten

    out = flatten(df)

    # python reference: same fixpoint over plain dict rows
    def py_flatten(cols, data):
        # cols: list of (name, kind) where kind in ('plain','struct','arrstruct')
        while True:
            arr_i = next((i for i, c in enumerate(cols) if c[1] == "arrstruct"), None)
            st_i = next((i for i, c in enumerate(cols) if c[1] == "struct"), None)
            if arr_i is not None:
                name, _, sub = cols[arr_i]
                new_rows = []
                for r in data:
                    items = r[name]
                    if not items:  # explode_outer on empty/null keeps parent
                        nr = dict(r); nr[name + "_el"] = None
                        new_rows.append(nr)
                    else:
                        for it in items:
                            nr = dict(r); nr[name + "_el"] = it
                            new_rows.append(nr)
                data = new_rows
                # replacement struct column appended at END
                cols = cols[:arr_i] + cols[arr_i + 1:] + [(name + "_el", "struct", sub)]
                # rename to the exploded column's own name (reference
                # keeps the same name); emulate: promote under original name
                cols[-1] = (name, "struct", sub)
                for r in data:
                    r[name] = r.pop(name + "_el")
            elif st_i is not None:
                name, _, sub = cols[st_i]
                promoted = []
                for child, kind, csub in sub:
                    flat = (name + "_" + child).replace(".", "_").replace("$", "_")
                    flat = flat.replace("__", "_").replace(" ", "").replace("-", "")
                    promoted.append((flat, kind, csub))
                for r in data:
                    s = r.pop(name)
                    for (child, _, _), (flat, _, _) in zip(sub, promoted):
                        r[flat] = None if s is None else s.get(child)
                cols = cols[:st_i] + cols[st_i + 1:] + promoted
            else:
                return cols, data

    start_cols = [
        ("id", "plain", None),
        ("s", "struct", [("a", "plain", None),
                         ("b", "struct", [("x", "plain", None)])]),
        ("arr1", "arrstruct", [("v", "plain", None)]),
        ("arr2", "arrstruct", [("w", "plain", None)]),
    ]
    start_data = [
        {"id": 1, "s": {"a": 1, "b": {"x": "p"}},
         "arr1": [{"v": 1}, {"v": 2}], "arr2": [{"w": "m"}]},
        {"id": 2, "s": {"a": 2, "b": {"x": None}},
         "arr1": [], "arr2": [{"w": "n"}, {"w": "o"}]},
        {"id": 3, "s": None, "arr1": None, "arr2": []},
    ]
    ref_cols, ref_data = py_flatten(start_cols, start_data)
    ref_names = [c[0] for c in ref_cols]
    assert out.columns == ref_names, (out.columns, ref_names)

    def row_of(d):
        return tuple(
            (None if d[n] is None else d[n].get("v") if isinstance(d[n], dict) and "v" in d[n]
             else d[n].get("w") if isinstance(d[n], dict) and "w" in d[n] else d[n])
            for n in ref_names
        )

    expected = sorted(row_of(d) for d in ref_data)
    got = sorted(tuple(r) for r in out.collect())
    assert got == expected, (got, expected)


# -- A13 hudi-bundle passthrough (lake.py:write_via_hudi_bundle) ----------


def test_hudi_bundle_error_contract_when_absent(spark, tmp_path):
    """No Hudi bundle jar ships in this container, so the passthrough's
    reachable behavior HERE is its error contract: a RuntimeError naming
    the bundle and pointing at the parquet-native methods. (The
    round-trip test below runs when a jar IS supplied.)"""
    if _hudi_bundle_jar():
        pytest.skip("bundle present — the round-trip test covers this")
    t = HudiTable(path=str(tmp_path / "t"), record_key="id", precombine="ts")
    df = spark.createDataFrame([(1, 1, "a")], "id long, ts long, v string")
    with pytest.raises(RuntimeError, match="Hudi Spark bundle"):
        t.write_via_hudi_bundle(df)


def _hudi_bundle_jar():
    import os

    jar = os.environ.get("SPARK_GRAFT_HUDI_JAR")
    return jar if jar and os.path.exists(jar) else None


@pytest.mark.skipif(
    not _hudi_bundle_jar(),
    reason="set SPARK_GRAFT_HUDI_JAR=/path/to/hudi-spark-bundle.jar to run",
)
def test_hudi_bundle_passthrough_roundtrips_keyed_upsert(tmp_path):
    """Real-deployment parity (HoodieExcelImporter.scala:109-113): with a
    bundle jar on the classpath, write_via_hudi_bundle must round-trip a
    keyed upsert to the SAME final state the parquet fallback produces.
    Runs in a subprocess because the bundle must be on the JVM classpath
    at session start — the shared test session can't add jars."""
    import os
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))!r})
        from pyspark.sql import SparkSession
        from hudi_spark_utilities_plus_spark.lake import HudiTable

        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.jars", {_hudi_bundle_jar()!r})
                 .config("spark.serializer",
                         "org.apache.spark.serializer.KryoSerializer")
                 .config("spark.ui.enabled", "false").getOrCreate())
        rows1 = [(1, 1, "a"), (2, 1, "b")]
        rows2 = [(2, 2, "B"), (3, 1, "c")]  # newer 2 wins; 3 inserts
        schema = "id long, ts long, v string"
        opts = {{
            "hoodie.datasource.write.recordkey.field": "id",
            "hoodie.datasource.write.precombine.field": "ts",
            "hoodie.table.name": "bundle_rt",
        }}
        bundle = HudiTable(path={str(tmp_path / "bundle")!r}, record_key="id",
                           precombine="ts", table_name="bundle_rt",
                           options=opts)
        bundle.write_via_hudi_bundle(spark.createDataFrame(rows1, schema),
                                     mode="overwrite")
        bundle.write_via_hudi_bundle(spark.createDataFrame(rows2, schema))
        got = spark.read.format("hudi").load({str(tmp_path / "bundle")!r})
        fb = HudiTable(path={str(tmp_path / "fallback")!r}, record_key="id",
                       precombine="ts")
        fb.bulk_insert(spark.createDataFrame(rows1, schema), spark)
        fb.upsert(spark.createDataFrame(rows2, schema), spark)
        want = fb.read(spark)
        g = sorted((r["id"], r["ts"], r["v"]) for r in got.collect())
        w = sorted((r["id"], r["ts"], r["v"]) for r in want.collect())
        assert g == w, (g, w)
        print("BUNDLE_ROUNDTRIP_OK")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=600
    )
    assert "BUNDLE_ROUNDTRIP_OK" in out.stdout, out.stdout + out.stderr


def test_mor_schema_evolution_via_log(spark, tmp_path):
    """MOR add-column evolution: an upsert batch carrying a NEW column
    lands in the delta log; the merge-on-read union widens the schema —
    updated rows carry the value, base rows read NULL."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "evo"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "id int, ts int, v string")
    )
    t.upsert(
        spark.createDataFrame([(2, 2, "b2", "note2")], "id int, ts int, v string, extra string"),
        spark,
    )
    got = {r["id"]: (r["v"], r["extra"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b2", "note2")}


def test_restore_refusals_and_noop(spark, tmp_path):
    """restore(): COW refuses (no history), a target folded by
    compaction refuses with the horizon message, and restoring a table
    already at the savepoint is a no-op."""
    import pytest as _pytest

    from hudi_spark_utilities_plus_spark.lake import HudiTable

    cow = HudiTable(path=str(tmp_path / "cow"), record_key="id", precombine="ts")
    cow.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string"))
    with _pytest.raises(ValueError, match="MERGE_ON_READ"):
        cow.restore(spark, 0)

    mor = HudiTable(
        path=str(tmp_path / "mor"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
    )
    mor.bulk_insert(
        spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string")
    )
    sp = mor.savepoint(spark)  # -1: nothing in the log yet
    mor.restore(spark, sp)  # no log -> no-op
    assert [r["v"] for r in mor.read(spark).collect()] == ["a"]
    mor.upsert(
        spark.createDataFrame([(1, 2, "a2")], "id int, ts int, v string"), spark
    )
    mor.compact(spark)
    with _pytest.raises(ValueError, match="compaction"):
        mor.restore(spark, sp)  # history folded into the base


def test_restore_discards_then_continues_timeline(spark, tmp_path):
    """restore() physically drops younger commits: a post-restore
    incremental cursor taken at the savepoint sees ONLY the post-restore
    commit, and the discarded commit's effect is gone from snapshots."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "rt"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], "id int, ts int, v string"
        )
    )
    t.upsert(spark.createDataFrame([(1, 2, "a2")], "id int, ts int, v string"), spark)
    sp = t.savepoint(spark)
    t.delete(spark.createDataFrame([(2,)], "id int"), spark)  # to be unwound
    t.upsert(spark.createDataFrame([(3, 2, "JUNK")], "id int, ts int, v string"), spark)
    t.restore(spark, sp)
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a2", 2: "b", 3: "c"}  # delete + junk both unwound
    t.upsert(spark.createDataFrame([(3, 3, "c3")], "id int, ts int, v string"), spark)
    inc = {r["id"]: r["v"] for r in t.read_incremental(spark, since_seq=sp).collect()}
    assert inc == {3: "c3"}  # only the post-restore commit past the cursor


def test_read_cdc_net_effect_classification(spark, tmp_path):
    """read_cdc: op classification + net-effect window semantics —
    unchanged keys excluded, delete+reinsert with identical payload
    collapses to nothing, with changed payload to 'u'."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "cdc"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "keep"), (2, 1, "upd"), (3, 1, "del"),
             (4, 1, "rt"), (5, 1, "cycle")],
            "id int, ts int, v string",
        )
    )
    cur = t.savepoint(spark)
    t.upsert(spark.createDataFrame([(2, 2, "UPD2")], "id int, ts int, v string"), spark)
    t.delete(spark.createDataFrame([(3,), (4,), (5,)], "id int"), spark)
    # 4 reinserts identically (round trip), 5 reinserts changed
    t.upsert(
        spark.createDataFrame([(4, 1, "rt"), (5, 2, "CY2")], "id int, ts int, v string"),
        spark,
    )
    t.upsert(spark.createDataFrame([(6, 1, "new")], "id int, ts int, v string"), spark)
    feed = {r["id"]: r["op"] for r in t.read_cdc(spark, since_seq=cur).collect()}
    assert feed == {2: "u", 3: "d", 5: "u", 6: "i"}, feed


def test_optimistic_concurrency_conflict(spark, tmp_path):
    """upsert(expected_seq=...): compare-and-commit — a write computed
    against a stale head refuses with ConcurrentWriteError; the correct
    head commits; retry against the new head succeeds."""
    import pytest as _pytest

    from hudi_spark_utilities_plus_spark.lake import (
        ConcurrentWriteError,
        HudiTable,
    )

    t = HudiTable(
        path=str(tmp_path / "occ"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string"))
    seen = t.latest_commit_seq(spark)
    # writer A commits first
    t.upsert(spark.createDataFrame([(1, 2, "a2")], "id int, ts int, v string"),
             spark, expected_seq=seen)
    # writer B computed against the stale head -> must refuse
    with _pytest.raises(ConcurrentWriteError, match="concurrent commit"):
        t.upsert(spark.createDataFrame([(1, 2, "b2")], "id int, ts int, v string"),
                 spark, expected_seq=seen)
    # retry after recomputing against the new head
    t.upsert(spark.createDataFrame([(1, 3, "b3")], "id int, ts int, v string"),
             spark, expected_seq=t.latest_commit_seq(spark))
    assert [r["v"] for r in t.read(spark).collect()] == ["b3"]


def _manifest_table(tmp_path, name="m"):
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    return HudiTable(
        path=str(tmp_path / name),
        record_key="id",
        precombine="ts",
        options={"hoodie.commit.mode": "manifest"},
    )


def test_manifest_commit_roundtrip_equals_rename_mode(spark, tmp_path):
    """Manifest-protocol COW table: bulk_insert → upsert → delete must
    produce exactly the state the directory-rename mode produces."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    rows = [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]
    up = [(2, 2, "b2"), (4, 1, "d")]
    m = _manifest_table(tmp_path)
    r = HudiTable(path=str(tmp_path / "r"), record_key="id", precombine="ts")
    for t in (m, r):
        t.bulk_insert(spark.createDataFrame(rows, "id int, ts int, v string"))
        t.upsert(spark.createDataFrame(up, "id int, ts int, v string"), spark)
        t.delete(spark.createDataFrame([(3,)], "id int"), spark)
    got = sorted((x["id"], x["ts"], x["v"]) for x in m.read(spark).collect())
    want = sorted((x["id"], x["ts"], x["v"]) for x in r.read(spark).collect())
    assert got == want == [(1, 1, "a"), (2, 2, "b2"), (4, 1, "d")]


def test_manifest_crash_debris_is_invisible(spark, tmp_path):
    """The commit is the manifest publish: data files written WITHOUT a
    manifest (a crashed writer) must not appear in reads — the previous
    manifest stays authoritative."""
    import os

    m = _manifest_table(tmp_path)
    m.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string"))
    # simulate a crashed commit: files land under data/, no manifest
    debris_dir = os.path.join(str(tmp_path / "m"), "data", "commit-crashed")
    spark.createDataFrame([(99, 9, "JUNK")], "id int, ts int, v string").write.parquet(
        debris_dir
    )
    assert [r["v"] for r in m.read(spark).collect()] == ["a"]


def test_manifest_version_time_travel(spark, tmp_path):
    """Each publish is a retained version: read_manifest_version(v)
    returns the table exactly as version v published it."""
    m = _manifest_table(tmp_path)
    m.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string"))
    m.upsert(spark.createDataFrame([(1, 2, "a2")], "id int, ts int, v string"), spark)
    assert [r["v"] for r in m.read_manifest_version(spark, 0).collect()] == ["a"]
    assert [r["v"] for r in m.read_manifest_version(spark, 1).collect()] == ["a2"]
    assert [r["v"] for r in m.read(spark).collect()] == ["a2"]


def test_manifest_partitioned_upsert_merges(spark, tmp_path):
    """Partitioned manifest tables mutate through the file-group paths
    (the partition column is a data column — no hive-layout renames);
    the basic upsert latest-wins contract must hold there."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "pm"),
        record_key="id",
        precombine="ts",
        partition_field="dt",
        options={"hoodie.commit.mode": "manifest"},
    )
    t.bulk_insert(
        spark.createDataFrame([(1, 1, "a", "d1")], "id int, ts int, v string, dt string")
    )
    t.upsert(
        spark.createDataFrame([(1, 2, "a2", "d1"), (2, 1, "b", "d2")],
                              "id int, ts int, v string, dt string"),
        spark,
    )
    # stale redelivery loses
    t.upsert(
        spark.createDataFrame([(1, 0, "stale", "d1")], "id int, ts int, v string, dt string"),
        spark,
    )
    assert sorted(
        (r["id"], r["ts"], r["v"], r["dt"]) for r in t.read(spark).collect()
    ) == [(1, 2, "a2", "d1"), (2, 1, "b", "d2")]


def test_manifest_clean_reclaims_unreferenced_files(spark, tmp_path):
    """clean(keep_last=1): older manifests and every file they alone
    referenced (plus crashed-writer debris) are reclaimed; the retained
    manifest still reads exactly; cleaned versions refuse."""
    import os

    import pytest as _pytest

    m = _manifest_table(tmp_path, "mc")
    m.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string"))
    m.upsert(spark.createDataFrame([(1, 2, "a2")], "id int, ts int, v string"), spark)
    # crashed-writer debris: parquet files never referenced by a manifest
    spark.createDataFrame([(9, 9, "JUNK")], "id int, ts int, v string").write.parquet(
        os.path.join(str(tmp_path / "mc"), "data", "commit-crashed")
    )
    stats = m.clean(keep_last=1)
    assert stats["manifests_removed"] == 1
    assert stats["files_removed"] >= 2  # v0's file(s) + debris
    assert [r["v"] for r in m.read(spark).collect()] == ["a2"]
    with _pytest.raises(ValueError, match="does not exist"):
        m.read_manifest_version(spark, 0).collect()


def test_insert_overwrite_mor_folds_pending_log(spark, tmp_path):
    """insert_overwrite on a MOR table with a pending delta log must not
    let stale log entries outrank the replacement rows: without the
    compaction guard, the logged delete of id=1 (seq 0) would erase the
    re-inserted id=1 and the logged upsert of id=2 would resurrect a row
    the overwrite removed."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "mor_ow"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b")], "id int, ts int, v string"
        )
    )
    # pending delta log: delete id=1, update id=2 (never compacted)
    t.delete(spark.createDataFrame([(1,)], "id int"), spark)
    t.upsert(
        spark.createDataFrame([(2, 2, "b2")], "id int, ts int, v string"),
        spark,
    )
    # replace the table with exactly {id=1 fresh, id=3}
    t.insert_overwrite(
        spark.createDataFrame(
            [(1, 9, "fresh"), (3, 9, "new")], "id int, ts int, v string"
        ),
        spark,
    )
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "fresh", 3: "new"}, got


def test_expected_seq_refuses_on_plain_cow(spark, tmp_path):
    """Plain directory-rename COW commits advance no sequence, so an
    expected_seq check there could never trip — it must raise instead of
    silently accepting (the no-op would defeat the OCC contract)."""
    import pytest as _pytest

    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "cow_occ"), record_key="id", precombine="ts"
    )
    t.bulk_insert(
        spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string")
    )
    with _pytest.raises(ValueError, match="expected_seq"):
        t.upsert(
            spark.createDataFrame([(1, 2, "a2")], "id int, ts int, v string"),
            spark,
            expected_seq=-1,
        )


def test_expected_seq_manifest_mode_uses_version(spark, tmp_path):
    """Manifest-mode OCC: the head is the newest manifest version, so a
    writer that computed against a stale version refuses, and a retry
    against the current version commits."""
    import pytest as _pytest

    from hudi_spark_utilities_plus_spark.lake import ConcurrentWriteError

    m = _manifest_table(tmp_path, "mo")
    m.bulk_insert(
        spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string")
    )
    seen = 0  # version published by bulk_insert
    m.upsert(
        spark.createDataFrame([(1, 2, "a2")], "id int, ts int, v string"),
        spark,
        expected_seq=seen,
    )
    with _pytest.raises(ConcurrentWriteError, match="concurrent commit"):
        m.upsert(
            spark.createDataFrame([(1, 3, "b")], "id int, ts int, v string"),
            spark,
            expected_seq=seen,
        )
    m.upsert(
        spark.createDataFrame([(1, 3, "b")], "id int, ts int, v string"),
        spark,
        expected_seq=1,
    )
    assert [r["v"] for r in m.read(spark).collect()] == ["b"]


def test_publish_manifest_conditional_put_no_clobber(spark, tmp_path):
    """Two committers that list the same head must not clobber each
    other's manifest: publication is create-if-absent, so a pre-existing
    target version makes the publisher retry with the next number and
    the existing manifest survives byte-for-byte."""
    import json
    import os

    m = _manifest_table(tmp_path, "mp")
    m.bulk_insert(
        spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string")
    )
    # simulate a racing committer that already published version 1
    racer = os.path.join(m._manifest_dir, "manifest-000000000001.json")
    with open(racer, "w") as fh:
        json.dump({"version": 1, "files": ["RACER_SENTINEL"]}, fh)
    v = m._publish_manifest(["/tmp/other-file.parquet"])
    assert v == 2
    with open(racer) as fh:
        assert json.load(fh)["files"] == ["RACER_SENTINEL"]
    with open(
        os.path.join(m._manifest_dir, "manifest-000000000002.json")
    ) as fh:
        assert json.load(fh)["files"] == ["/tmp/other-file.parquet"]
    assert not [
        f for f in os.listdir(m._manifest_dir) if ".tmp-" in f
    ], "tmp files must not leak"


def test_manifest_clean_grace_spares_inflight_commit(spark, tmp_path):
    """clean(grace_seconds=...) must keep unreferenced files younger
    than the grace age — they may belong to an in-flight commit that has
    written data but not yet published its manifest — while still
    reclaiming old debris past the grace age."""
    import os

    m = _manifest_table(tmp_path, "mg")
    m.bulk_insert(
        spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string")
    )
    m.upsert(
        spark.createDataFrame([(1, 2, "a2")], "id int, ts int, v string"),
        spark,
    )
    # fresh "in-flight commit" debris (just written, no manifest yet)
    inflight = os.path.join(str(tmp_path / "mg"), "data", "commit-inflight")
    spark.createDataFrame(
        [(7, 7, "inflight")], "id int, ts int, v string"
    ).write.parquet(inflight)
    # old crashed-writer debris, mtime pushed past the grace age
    crashed = os.path.join(str(tmp_path / "mg"), "data", "commit-crashed")
    spark.createDataFrame(
        [(9, 9, "JUNK")], "id int, ts int, v string"
    ).write.parquet(crashed)
    for f in os.listdir(crashed):
        os.utime(os.path.join(crashed, f), (1, 1))
    # v0's file is also young; with the grace only the aged debris goes
    stats = m.clean(keep_last=1, grace_seconds=3600)
    assert stats["manifests_removed"] == 1
    inflight_parquets = [
        f for f in os.listdir(inflight) if f.endswith(".parquet")
    ]
    assert inflight_parquets, "in-flight commit files must survive"
    assert not os.path.isdir(crashed) or not [
        f for f in os.listdir(crashed) if f.endswith(".parquet")
    ], "aged debris must be reclaimed"
    # a later clean past the grace window reclaims the rest
    for d in (inflight,):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (1, 1))
    m.clean(keep_last=1, grace_seconds=3600)
    assert not os.path.isdir(inflight) or not [
        f for f in os.listdir(inflight) if f.endswith(".parquet")
    ]
    assert [r["v"] for r in m.read(spark).collect()] == ["a2"]


def test_occ_manifest_mor_tracks_log_seq(spark, tmp_path):
    """Regression: on a manifest-mode MERGE_ON_READ table the write path
    appends to the delta log, so the log seq — NOT the (frozen) manifest
    version — is the counter expected_seq must compare against. The old
    branch order checked _is_manifest first, so a stale writer's check
    compared manifest v0 == manifest v0 and silently passed."""
    import pytest as _pytest

    from hudi_spark_utilities_plus_spark.lake import (
        ConcurrentWriteError,
        HudiTable,
    )

    t = HudiTable(
        path=str(tmp_path / "mmor"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
        options={"hoodie.commit.mode": "manifest"},
    )
    t.bulk_insert(
        spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string")
    )
    seen = t.latest_commit_seq(spark)
    # writer B commits in between: advances the LOG seq, manifest stays
    t.upsert(
        spark.createDataFrame([(1, 2, "b")], "id int, ts int, v string"),
        spark,
    )
    # writer A computed against the stale head -> must refuse
    with _pytest.raises(ConcurrentWriteError, match="concurrent commit"):
        t.upsert(
            spark.createDataFrame([(1, 3, "x")], "id int, ts int, v string"),
            spark,
            expected_seq=seen,
        )
    # retry against the new head succeeds
    t.upsert(
        spark.createDataFrame([(1, 3, "c")], "id int, ts int, v string"),
        spark,
        expected_seq=t.latest_commit_seq(spark),
    )
    assert [r["v"] for r in t.read(spark).collect()] == ["c"]


def test_manifest_concurrent_append_merges_winner(spark, tmp_path, monkeypatch):
    """A lost conditional put retries against the NEW head's file list:
    the winner's files must appear in the loser's published manifest.
    A stale-head retry (merging the list captured before the race)
    silently dropped the winner's commit — and clean() then deleted its
    data files as unreferenced debris."""
    import json
    import os as _os

    m = _manifest_table(tmp_path)
    m.bulk_insert(
        spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string")
    )
    # the "winner": a real data file that a concurrent committer will
    # publish between our head listing and our link attempt
    wdir = _os.path.join(str(tmp_path / "m"), "data", "commit-winner")
    spark.createDataFrame(
        [(9, 1, "w")], "id int, ts int, v string"
    ).coalesce(1).write.parquet(wdir)
    winner_files = [
        _os.path.join(wdir, f)
        for f in _os.listdir(wdir)
        if f.endswith(".parquet")
    ]

    real_link = _os.link
    raced = {"done": False}

    def racing_link(src, dst):
        if not raced["done"] and dst.endswith(".json"):
            raced["done"] = True
            # the winner lands this exact version first
            head = m._manifest().files
            with open(dst, "w") as fh:
                json.dump(
                    {"version": 0, "files": sorted(head + winner_files)}, fh
                )
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(_os, "link", racing_link)
    m.bulk_insert(
        spark.createDataFrame([(2, 1, "b")], "id int, ts int, v string")
    )
    monkeypatch.setattr(_os, "link", real_link)
    got = sorted((r["id"], r["v"]) for r in m.read(spark).collect())
    assert got == [(1, "a"), (2, "b"), (9, "w")], got


def test_inline_compaction_counts_commits_since_compaction(spark, tmp_path):
    """hoodie.compact.inline.max.delta.commits counts commits SINCE the
    last compaction (seqs stay monotonic across compactions), not the
    absolute seq — the absolute compare fired on EVERY commit once the
    lifetime count passed the threshold, degrading MOR's O(batch) write
    to an O(table) rewrite per micro-batch."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "inline"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
        options={
            "hoodie.compact.inline": "true",
            "hoodie.compact.inline.max.delta.commits": 3,
        },
    )
    t.bulk_insert(
        spark.createDataFrame([(1, 0, "a")], "id int, ts int, v string")
    )
    for i in range(1, 4):  # seqs 0,1,2 -> compacts at the third commit
        t.upsert(
            spark.createDataFrame(
                [(1, i, f"v{i}")], "id int, ts int, v string"
            ),
            spark,
        )
    assert not t._has_log(spark)  # first compaction fired
    # the next two commits must NOT compact (2 < 3 since-compaction)
    for i in (4, 5):
        t.upsert(
            spark.createDataFrame(
                [(1, i, f"v{i}")], "id int, ts int, v string"
            ),
            spark,
        )
    assert t._has_log(spark), (
        "inline compaction fired on every commit after the first "
        "compaction — the trigger is comparing absolute seq, not "
        "commits since compaction"
    )
    assert [r["v"] for r in t.read(spark).collect()] == ["v5"]


def test_mor_bulk_insert_after_compaction_visible_incrementally(
    spark, tmp_path
):
    """bulk_insert on an EXISTING MOR table routes through the log so it
    carries a commit seq: a base append was invisible to incremental
    cursors (silent loss for downstream mirrors) and retroactively
    visible to time travel."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "morb"),
        record_key="id",
        precombine="ts",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame([(1, 1, "a")], "id int, ts int, v string")
    )
    t.upsert(
        spark.createDataFrame([(1, 2, "a2")], "id int, ts int, v string"),
        spark,
    )
    t.compact(spark)
    cursor = t.latest_commit_seq(spark)
    t.bulk_insert(
        spark.createDataFrame([(2, 3, "b")], "id int, ts int, v string")
    )
    inc = {r["id"]: r["v"] for r in t.read_incremental(spark, cursor).collect()}
    assert inc == {2: "b"}, inc
    # and the load is NOT retroactively visible at the pre-load seq
    asof = {r["id"] for r in t.read(spark, as_of_seq=cursor).collect()}
    assert asof == {1}, asof


def test_manifest_hive_sync_withholds_by_name_table(spark, tmp_path):
    """Manifest-mode + hive_sync: a path-based parquet table at the root
    would union EVERY commit dir (stale + duplicate rows), so the sync
    drops the by-name entry instead of serving wrong data — same
    fail-loud rule as the MOR pending-log case."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "msync"),
        record_key="id",
        precombine="ts",
        table_name="msync_tbl",
        options={
            "hoodie.commit.mode": "manifest",
            "hoodie.datasource.hive_sync.enable": "true",
            "hoodie.datasource.hive_sync.database": "default",
        },
    )
    rows = "id int, ts int, v string"
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], rows))
    t.upsert(spark.createDataFrame([(1, 2, "a2")], rows), spark)
    assert not spark.catalog.tableExists("default.msync_tbl")
    # read() serves the correct head state
    assert [r["v"] for r in t.read(spark).collect()] == ["a2"]


def test_drop_partitions_matches_escaped_directory_names(spark, tmp_path):
    """Deleting every row of a partition whose value Spark percent-
    escapes in the directory name ('a:b' -> dt=a%3Ab) must still drop
    the directory — constructing the raw dt=a:b name missed it and the
    'deleted' rows resurrected on the next read."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "esc"),
        record_key="id",
        precombine="ts",
        partition_field="dt",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a:b", "x"), (2, 1, "plain", "y")],
            "id int, ts int, dt string, v string",
        )
    )
    t.delete(spark.createDataFrame([(1,)], "id int"), spark)
    left = [(r["id"], r["dt"]) for r in t.read(spark).collect()]
    assert left == [(2, "plain")], left


def test_rectify_converges_on_manifest_tables(spark, tmp_path):
    """rectify_file_sizes on a manifest table sizes only the LIVE file
    list: os.walk also counted superseded commits' dead files, so the
    trigger mis-fired and each pass made the next one worse."""
    m = _manifest_table(tmp_path, "rect")
    rows = "id int, ts int, v string"
    for i in range(6):  # 6 append commits -> 6+ live files, 6 manifests
        m.bulk_insert(spark.createDataFrame([(i, 1, f"v{i}")], rows))
    n = m.rectify_file_sizes(spark, target_file_bytes=1 << 30)
    assert n == 1  # all rows fit one right-sized file
    assert m.read(spark).count() == 6
    # converged: the rewritten head is not fragmented, second pass no-ops
    assert m.rectify_file_sizes(spark, target_file_bytes=1 << 30) == 0


def test_read_cdc_on_cow_raises_cdc_specific_error(spark, tmp_path):
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    cow = HudiTable(path=str(tmp_path / "cdccow"), record_key="id", precombine="ts")
    with pytest.raises(ValueError, match="CDC read requires"):
        cow.read_cdc(spark)


def test_global_running_sum_null_prefix_carries_offset(spark):
    """A row whose IN-PARTITION value prefix is all NULL must still
    carry the preceding partitions' total — off + NULL-lcum used to
    yield NULL where SUM() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)
    gives the prior sum. The result is NULL only while the GLOBAL
    prefix holds zero non-null values (the SQL window semantic)."""
    from hudi_spark_utilities_plus_spark.operators.global_windows import (
        global_running_sum,
    )

    df = spark.createDataFrame(
        [(0, None), (1, 3.0), (2, None), (3, 2.0)], "id long, v double"
    )
    out = global_running_sum(
        df, [F.col("id")], F.col("v"), n_partitions=4, out_col="cum"
    )
    got = {r["id"]: r["cum"] for r in out.collect()}
    # SQL: id0 -> NULL (no non-null values yet), id1 -> 3, id2 -> 3, id3 -> 5
    assert got == {0: None, 1: 3.0, 2: 3.0, 3: 5.0}, got


def test_range_frame_sum_exact_blocks_beyond_double_precision(spark):
    """Block assignment uses integer floor division: the double-rounded
    quotient placed >2^53 keys in the wrong block, so an in-frame
    contributor was silently dropped from the join (Snowflake-style
    64-bit ids live entirely in that range)."""
    from hudi_spark_utilities_plus_spark.operators.global_windows import (
        range_frame_sum,
    )

    k = 18014398509481998  # ~2^54: 1 ulp of double is 4 here
    rows = [(k - 100, 1.0), (k, 10.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = {
        r["id"]: r["s"]
        for r in range_frame_sum(
            df, "id", F.col("v"), preceding=100, out_col="s",
            keys_unique=True,
        ).collect()
    }
    # frame [k-100, k] includes both rows
    assert out[k] == 11.0, out
    assert out[k - 100] == 1.0, out
    # negative keys: floor semantics, not truncation toward zero
    neg = spark.createDataFrame([(-150, 1.0), (-100, 2.0)], "id long, v double")
    got = {
        r["id"]: r["s"]
        for r in range_frame_sum(
            neg, "id", F.col("v"), preceding=100, out_col="s",
            keys_unique=True,
        ).collect()
    }
    assert got == {-150: 1.0, -100: 3.0}, got


def test_ntile_expr_rejects_nonpositive_tiles(spark):
    from hudi_spark_utilities_plus_spark.operators.global_windows import (
        ntile_expr,
    )

    with pytest.raises(ValueError, match="tiles"):
        ntile_expr(F.lit(1), 10, 0)
    with pytest.raises(ValueError, match="tiles"):
        ntile_expr(F.lit(1), 10, -3)


def test_materialize_gates_reliable_checkpoint_on_cleaner_conf(
    spark, tmp_path, monkeypatch
):
    """A set checkpoint dir alone must NOT route materialize() through
    reliable checkpoints: with the default
    spark.cleaner.referenceTracking.cleanCheckpoints=false the cleaner
    never deletes the files, so every dedup/similarity call would strand
    a corpus copy on disk for the session lifetime. Reliable form is
    opt-in via the startup conf (Spark 4 forbids setting it at runtime —
    CANNOT_MODIFY_CONFIG — so the enabled branch is driven through the
    module predicate)."""
    import os

    from hudi_spark_utilities_plus_spark.operators import materialize as mat

    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    try:
        sc.setCheckpointDir(ckpt)
        # default (conf off at startup): local checkpoint — ckpt stays empty
        assert mat._reliable_cleanup_enabled(sc) is False
        out = mat.materialize(df)
        assert out.count() == 100
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(ckpt) for f in fs
        ]
        assert files == [], f"reliable checkpoint written with cleaner off: {files}"
        # cleaner on: reliable checkpoint files appear under the dir
        monkeypatch.setattr(mat, "_reliable_cleanup_enabled", lambda sc: True)
        out2 = mat.materialize(df)
        assert out2.count() == 100
        files2 = [f for _, _, fs in os.walk(ckpt) for f in fs]
        assert files2, "cleaner on but no reliable checkpoint data written"
    finally:
        # restore "no checkpoint dir" so later tests keep the local path
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


# ---------------------------------------------------------------------------
# MOR commit seqs: claimed through the table's SeqClaimStore before the
# log append, truncated with the log on compact/restore
# ---------------------------------------------------------------------------


def _mor(tmp_path, name="sx", **options):
    return HudiTable(
        path=str(tmp_path / name),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
        options=options,
    )


def _claims(t):
    return t._seq_claim_store.list_claims()


def test_seqmax_crash_gap_never_duplicates_a_seq(spark, tmp_path):
    """Allocate-before-append: a crash after the seq claim but before
    the parquet append must leave a GAP, not re-issue the seq (two
    commits sharing a seq would merge as one)."""
    t = _mor(tmp_path)
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    t.upsert(spark.createDataFrame([(1, 2, "b")], "id int, ver int, v string"))
    # simulate the crash window: seq 1 claimed, append never landed
    assert t._seq_claim_store.claim(1)
    t.upsert(spark.createDataFrame([(1, 3, "c")], "id int, ver int, v string"))
    seqs = sorted(
        r["__hudi_seq"]
        for r in spark.read.option("mergeSchema", "true")
        .parquet(t.path + "__hudi_log")
        .select("__hudi_seq")
        .distinct()
        .collect()
    )
    assert seqs == [0, 2], f"expected a gap at seq 1, got {seqs}"
    assert {r["id"]: r["v"] for r in t.read(spark).collect()} == {1: "c"}


def test_seqmax_dropped_on_compact_and_restore(spark, tmp_path):
    """compact()/restore() remove log entries, so both must truncate
    the seq claims: after compaction the seqbase watermark rules; after
    restore the timeline continues from the SAVEPOINT, not past the
    discarded seqs."""
    t = _mor(tmp_path)
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    for i in range(3):
        t.upsert(
            spark.createDataFrame([(1, 2 + i, f"v{i}")], "id int, ver int, v string")
        )
    sp = t.savepoint(spark)  # seq 2
    assert sp == 2
    t.upsert(spark.createDataFrame([(1, 9, "doomed")], "id int, ver int, v string"))
    assert _claims(t) == [0, 1, 2, 3]
    t.restore(spark, to_seq=sp)
    assert _claims(t) == [], "restore left stale seq claims"
    assert t.latest_commit_seq(spark) == sp
    assert {r["v"] for r in t.read(spark).collect()} == {"v2"}
    # timeline continues from the savepoint: next commit takes seq 3
    t.upsert(spark.createDataFrame([(1, 10, "new")], "id int, ver int, v string"))
    assert t.latest_commit_seq(spark) == 3
    t.compact(spark)
    assert _claims(t) == [], "compact left stale seq claims"
    assert t.latest_commit_seq(spark) == 3  # watermark continues the timeline
    t.upsert(spark.createDataFrame([(1, 11, "post")], "id int, ver int, v string"))
    assert t.latest_commit_seq(spark) == 4
    assert {r["v"] for r in t.read(spark).collect()} == {"post"}


@pytest.mark.parametrize("stale_seqmax", [2, 9])
def test_seq_claim_bootstraps_from_log_of_sidecar_layout(
    spark, tmp_path, stale_seqmax
):
    """A table written by a build that kept the next seq in a
    ``__hudi_seqmax`` sidecar has log seqs but no claim dir. Its next
    commit bootstraps from the log (seq 3 after log seqs 0..2) and
    ignores the sidecar, even one left above the logged max by a crash
    gap; time travel and incremental reads stay exact."""
    import shutil

    t = _mor(tmp_path)
    row = lambda ver: spark.createDataFrame(  # noqa: E731
        [(ver % 3, ver, f"v{ver}")], "id int, ver int, v string"
    )
    t.bulk_insert(row(0))
    for ver in (1, 2, 3):
        t.upsert(row(ver))  # seqs 0, 1, 2
    shutil.rmtree(t.path + "__hudi_seqclaim", ignore_errors=True)
    with open(t.path + "__hudi_seqmax", "w") as fh:
        fh.write(str(stale_seqmax))
    t = _mor(tmp_path)  # a fresh instance, as after an upgrade
    t.upsert(row(4))
    assert t.latest_commit_seq(spark) == 3
    assert _claims(t) == [3]
    log = spark.read.parquet(t.path + "__hudi_log")
    seqs = sorted(r["__hudi_seq"] for r in log.select("__hudi_seq").collect())
    assert seqs == [0, 1, 2, 3], seqs
    state = lambda df: {r["id"]: r["v"] for r in df.collect()}  # noqa: E731
    assert state(t.read(spark)) == {0: "v3", 1: "v4", 2: "v2"}
    assert state(t.read(spark, as_of_seq=2)) == {0: "v3", 1: "v1", 2: "v2"}
    assert state(t.read(spark, as_of_seq=0)) == {0: "v0", 1: "v1"}
    assert state(t.read_incremental(spark, since_seq=2)) == {1: "v4"}
    assert state(t.read_incremental(spark, since_seq=0)) == {
        0: "v3", 1: "v4", 2: "v2",
    }


def test_mor_partition_values_of_mixed_inferred_types(spark, tmp_path):
    """Base partition dirs p=1, p=2 infer INT and a log dir p=x infers
    STRING: the merge reads them as STRING instead of failing the
    union's cast of 'x' to a number, compaction returns the same
    snapshot, and an all-numeric table keeps its INT partition type."""
    from pyspark.sql.types import IntegerType, StringType

    sch = "id int, ver int, p string, v string"

    def table(name):
        return HudiTable(
            path=str(tmp_path / name),
            record_key="id",
            precombine="ver",
            partition_field="p",
            table_type="MERGE_ON_READ",
        )

    def rows(df):
        return sorted(tuple(r) for r in df.select("id", "p", "v").collect())

    t = table("mixed")
    t.bulk_insert(spark.createDataFrame([(1, 1, "1", "a"), (2, 1, "2", "b")], sch))
    t.upsert(spark.createDataFrame([(3, 1, "x", "c")], sch))
    snap = t.read(spark)
    assert snap.schema["p"].dataType == StringType()
    want = [(1, "1", "a"), (2, "2", "b"), (3, "x", "c")]
    assert rows(snap) == want
    t.compact(spark)
    assert rows(t.read(spark)) == want
    n = table("numeric")
    n.bulk_insert(spark.createDataFrame([(1, 1, "1", "a"), (2, 1, "2", "b")], sch))
    n.upsert(spark.createDataFrame([(3, 1, "3", "c")], sch))
    snap = n.read(spark)
    assert snap.schema["p"].dataType == IntegerType()
    assert rows(snap) == [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")]


def test_read_cdc_delta_pruned_plan(spark, tmp_path):
    """read_cdc must semi-join BOTH as-of snapshots to the seq-pruned
    touched-key set before the merge windows run (cost tracks the
    delta, not the table) — and stay exact on i/u/d."""
    t = _mor(tmp_path, "cdcp")
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"v{i}") for i in range(100)], "id int, ver int, v string"
        )
    )
    cursor = t.latest_commit_seq(spark)
    t.upsert(spark.createDataFrame([(7, 2, "u7")], "id int, ver int, v string"))
    t.upsert(spark.createDataFrame([(200, 1, "new")], "id int, ver int, v string"))
    t.delete(spark.createDataFrame([(9, 9)], "id int, ver int"))
    feed = t.read_cdc(spark, since_seq=cursor)
    got = {r["id"]: r["op"] for r in feed.collect()}
    assert got == {7: "u", 200: "i", 9: "d"}
    plan = feed._jdf.queryExecution().executedPlan().toString()
    # two snapshots x (base + log) = 4 semi-joins keyed on the record
    # key (>=: AQE's final plan string also echoes the initial plan,
    # doubling node mentions)
    assert plan.count("LeftSemi") >= 4, plan


def test_read_incremental_delta_pruned_plan(spark, tmp_path):
    """read_incremental must feed the seq-pruned touched-key set
    through read()'s _keys hook — base AND log semi-joined BEFORE the
    latest-wins merge, so the feed's merge shuffle tracks the delta,
    not the table — and stay exact (updated key present, net-deleted
    key absent, untouched keys absent)."""
    t = _mor(tmp_path, "incp")
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"v{i}") for i in range(100)], "id int, ver int, v string"
        )
    )
    cursor = t.latest_commit_seq(spark)
    t.upsert(spark.createDataFrame([(7, 2, "u7")], "id int, ver int, v string"))
    t.upsert(spark.createDataFrame([(200, 1, "new")], "id int, ver int, v string"))
    t.delete(spark.createDataFrame([(9, 9)], "id int, ver int"))
    feed = t.read_incremental(spark, since_seq=cursor)
    got = {r["id"]: r["v"] for r in feed.collect()}
    assert got == {7: "u7", 200: "new"}
    plan = feed._jdf.queryExecution().executedPlan().toString()
    # one snapshot x (base + log) = 2 semi-joins below the merge
    assert plan.count("LeftSemi") >= 2, plan


# ---------------------------------------------------------------------------
# filesystem lock provider (Hudi FileSystemBasedLockProvider analog)
# ---------------------------------------------------------------------------

_LOCK_OPTS = {
    "hoodie.write.lock.provider": (
        "org.apache.hudi.client.transaction.lock.FileSystemBasedLockProvider"
    )
}


def test_lock_provider_makes_occ_an_atomic_cas(spark, tmp_path):
    """Two writers that both observed the same head and race their
    expected_seq upserts: with the lock provider ON, exactly one
    commits and the other gets ConcurrentWriteError — the
    check-then-write window the docstring used to disclaim is closed."""
    import threading as th

    from hudi_spark_utilities_plus_spark.lake import ConcurrentWriteError

    t = _mor(tmp_path, "cas", **_LOCK_OPTS)
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    t.upsert(spark.createDataFrame([(1, 2, "b")], "id int, ver int, v string"))
    head = t.latest_commit_seq(spark)
    barrier, results = th.Barrier(2), {}

    def writer(tag: str, ver: int) -> None:
        df = spark.createDataFrame(
            [(1, ver, tag)], "id int, ver int, v string"
        )
        barrier.wait()
        try:
            t.upsert(df, spark, expected_seq=head)
            results[tag] = "ok"
        except ConcurrentWriteError:
            results[tag] = "conflict"

    threads = [
        th.Thread(target=writer, args=(tag, ver))
        for tag, ver in (("w1", 10), ("w2", 11))
    ]
    for x in threads:
        x.start()
    for x in threads:
        x.join(timeout=120)
    assert sorted(results.values()) == ["conflict", "ok"], results
    # exactly one committed: head advanced by exactly one seq
    assert t.latest_commit_seq(spark) == head + 1
    assert not os.path.exists(t.path + "__hudi_lock"), "lock leaked"


def test_lock_provider_reentrant_timeout_and_expiry(spark, tmp_path):
    """Compound ops (upsert -> inline compact) take the lock once; a
    held lock times out with the retryable error; a STALE lock older
    than hoodie.write.lock.filesystem.expire minutes is stolen."""
    from hudi_spark_utilities_plus_spark.lake import ConcurrentWriteError

    t = _mor(
        tmp_path,
        "reent",
        **_LOCK_OPTS,
        **{
            "hoodie.compact.inline": "true",
            "hoodie.compact.inline.max.delta.commits": "2",
        },
    )
    t.bulk_insert(spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string"))
    for i in range(3):  # crosses the inline-compaction threshold under lock
        t.upsert(
            spark.createDataFrame([(1, 2 + i, "x")], "id int, ver int, v string")
        )
    assert {r["v"] for r in t.read(spark).collect()} == {"x"}
    lock = t.path + "__hudi_lock"
    assert not os.path.exists(lock)

    # foreign holder -> acquisition times out with the retryable class
    t2 = _mor(
        tmp_path,
        "reent",
        **_LOCK_OPTS,
        **{"hoodie.write.lock.wait_time_ms": "200"},
    )
    with open(lock, "w") as fh:
        fh.write("999999")
    with pytest.raises(ConcurrentWriteError, match="commit lock"):
        t2.upsert(
            spark.createDataFrame([(1, 9, "y")], "id int, ver int, v string")
        )
    # stale holder + expire set -> stolen, write proceeds, lock released
    t3 = _mor(
        tmp_path,
        "reent",
        **_LOCK_OPTS,
        **{
            "hoodie.write.lock.wait_time_ms": "5000",
            "hoodie.write.lock.filesystem.expire": "1",
        },
    )
    os.utime(lock, (0, 0))  # mtime: 1970 — long expired
    t3.upsert(spark.createDataFrame([(1, 9, "y")], "id int, ver int, v string"))
    assert not os.path.exists(lock)
    assert {r["v"] for r in t3.read(spark).collect()} == {"y"}


def test_lock_dispossessed_holder_spares_thief_lock(spark, tmp_path):
    """Ownership tokens (ADVICE r11): a holder that ran past the expiry
    and was lawfully dispossessed by an expiry-steal must NOT delete
    the thief's lock on release — the old remove-on-release code freed
    a lock a third writer could then acquire concurrently with the
    thief."""
    opts = {
        **_LOCK_OPTS,
        "hoodie.write.lock.wait_time_ms": "5000",
        "hoodie.write.lock.filesystem.expire": "1",
    }
    t1 = _mor(tmp_path, "disp", **opts)
    t2 = _mor(tmp_path, "disp", **opts)
    cm1 = t1._commit_lock()
    cm1.__enter__()
    lock = t1._lock_file()
    assert os.path.exists(lock)
    os.utime(lock, (0, 0))  # the holder outran the expiry
    cm2 = t2._commit_lock()
    cm2.__enter__()  # expiry-steal: t2 is now the lawful holder
    thief_token = open(lock).read()
    cm1.__exit__(None, None, None)  # dispossessed holder releases
    assert os.path.exists(lock), "release deleted the thief's lock"
    assert open(lock).read() == thief_token
    cm2.__exit__(None, None, None)
    assert not os.path.exists(lock)
    # no steal debris left behind on the lawful-steal path
    assert not list(tmp_path.glob("disp__hudi_lock.steal-*"))


def test_steal_expired_lock_restores_mistaken_steal(tmp_path, monkeypatch):
    """_steal_expired_lock's TOCTOU repair: when the stat saw a stale
    mtime but the file at the path turned over before the rename (old
    holder released, new one acquired), the moved file's re-check sees
    it fresh and restores it in place instead of deleting a live
    lock."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    p = tmp_path / "lk"
    p.write_text("live-owner-token")
    real = os.path.getmtime
    calls = {"n": 0}

    def fake(path):
        calls["n"] += 1
        if calls["n"] == 1:
            return 0.0  # the pre-steal stat: looks long-expired
        return real(path)  # the post-rename re-check: actually fresh

    monkeypatch.setattr(os.path, "getmtime", fake)
    assert HudiTable._steal_expired_lock(str(p), 60.0) is False
    assert p.read_text() == "live-owner-token", "live lock not restored"
    assert not list(tmp_path.glob("lk.steal-*")), "restore left debris"
    # and a genuinely expired lock is still cleared
    monkeypatch.undo()
    os.utime(p, (0, 0))
    assert HudiTable._steal_expired_lock(str(p), 60.0) is True
    assert not p.exists()


# ---------------------------------------------------------------------------
# manifest file-group pruning (partial-rewrite upsert/delete)
# ---------------------------------------------------------------------------


def _fg_manifest_table(tmp_path, name="fg"):
    return HudiTable(
        path=str(tmp_path / name),
        record_key="id",
        precombine="ver",
        options={"hoodie.commit.mode": "manifest"},
    )


def test_manifest_partial_upsert_carries_untouched_files(spark, tmp_path):
    """Two disjoint-key-range commits; an upsert hitting only the second
    range must carry the first range's files BY REFERENCE (same paths,
    same mtimes — never rewritten) while merging correctly."""
    t = _fg_manifest_table(tmp_path)
    lo = spark.createDataFrame(
        [(i, 1, f"lo{i}") for i in range(100)], "id int, ver int, v string"
    ).coalesce(1)
    hi = spark.createDataFrame(
        [(i, 1, f"hi{i}") for i in range(1000, 1100)],
        "id int, ver int, v string",
    ).coalesce(1)
    t.bulk_insert(lo)
    t.bulk_insert(hi)
    ranges = t._manifest().ranges
    assert ranges and all(len(r) == 3 for r in ranges.values())
    lo_files = {f for f, r in ranges.items() if r[1] < 1000}
    assert lo_files
    mtimes = {f: os.path.getmtime(f) for f in lo_files}
    t.upsert(
        spark.createDataFrame(
            [(1050, 2, "upd"), (1200, 1, "new")], "id int, ver int, v string"
        )
    )
    live = set(t._manifest().files)
    assert lo_files <= live, "untouched low-range files were not carried"
    assert {f: os.path.getmtime(f) for f in lo_files} == mtimes
    state = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert state[1050] == "upd" and state[1200] == "new" and state[0] == "lo0"
    assert len(state) == 201
    # carried files keep their envelopes in the NEW manifest version
    assert lo_files <= set(t._manifest().ranges)


def test_manifest_partial_delete_and_null_key_envelope(spark, tmp_path):
    """Delete opens only envelope-hit files; a NULL batch key touches
    exactly the files whose envelope records has_null."""
    t = _fg_manifest_table(tmp_path, "fgdel")
    a = spark.createDataFrame(
        [(i, 1, f"a{i}") for i in range(50)], "id int, ver int, v string"
    ).coalesce(1)
    b = spark.createDataFrame(
        [(None, 1, "nullrow"), (500, 1, "b500")], "id int, ver int, v string"
    ).coalesce(1)
    t.bulk_insert(a)
    t.bulk_insert(b)
    a_files = {f for f, r in t._manifest().ranges.items() if not r[2]}
    assert a_files  # the no-null commit
    # split check: a NULL-key batch touches only the has_null file
    touched, untouched = t._manifest_split_touched(
        spark.createDataFrame([(None,)], "id int"), spark, t._manifest()
    )
    assert set(untouched) == a_files
    mtimes = {f: os.path.getmtime(f) for f in a_files}
    t.delete(spark.createDataFrame([(500,)], "id int"))
    assert {f: os.path.getmtime(f) for f in a_files} == mtimes
    state = {r["id"] for r in t.read(spark).collect()}
    assert 500 not in state and None in state and len(state) == 51


def test_manifest_split_touched_runs_no_count(spark, tmp_path):
    """The touched-file split is one action: the null-key case rides in
    the join condition, so DataFrame.count is never called — and the
    split is still exact for plain, null and missed keys."""
    import unittest.mock as mock

    t = _fg_manifest_table(tmp_path, "fgcount")
    for rows in ([(i, 1, f"a{i}") for i in range(10)],
                 [(100 + i, 1, f"b{i}") for i in range(10)],
                 [(None, 1, "n"), (200, 1, "c")]):
        t.bulk_insert(
            spark.createDataFrame(rows, "id int, ver int, v string").coalesce(1)
        )
    m = t._manifest()
    lo, hi, nul = (
        next(f for f, r in m.ranges.items() if r[0] == lo_key)
        for lo_key in (0, 100, 200)
    )
    probes = spark.createDataFrame([(None,), (5,), (5,), (150,)], "id int")

    def split(keys):
        touched, untouched = t._manifest_split_touched(keys, spark, m)
        return set(touched), set(untouched)

    with mock.patch.object(type(probes), "count", side_effect=AssertionError(
        "the split must not run a count job"
    )) as count:
        assert split(probes) == ({lo, nul}, {hi})
        assert split(probes.filter("id is null")) == ({nul}, {lo, hi})
        assert split(probes.filter("id = 150")) == (set(), {lo, hi, nul})
    assert count.call_count == 0


def test_manifest_legacy_no_ranges_full_rewrite(spark, tmp_path):
    """A pre-ranges manifest (no envelopes) disables pruning: every file
    is treated as touched, and the upsert stays exact."""
    import json

    t = _fg_manifest_table(tmp_path, "fgleg")
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"v{i}") for i in range(20)], "id int, ver int, v string"
        )
    )
    # strip the envelopes — simulate a manifest written before ranges
    mdir = t._manifest_dir
    (mf,) = [f for f in os.listdir(mdir) if f.endswith(".json")]
    p = os.path.join(mdir, mf)
    with open(p) as fh:
        doc = json.load(fh)
    doc.pop("ranges", None)
    with open(p, "w") as fh:
        json.dump(doc, fh)
    assert t._manifest().ranges == {}
    files, untouched = t._manifest_split_touched(
        spark.createDataFrame([(1,)], "id int"), spark, t._manifest()
    )
    assert untouched == [] and set(files) == set(t._manifest().files)
    t.upsert(
        spark.createDataFrame([(1, 2, "upd")], "id int, ver int, v string")
    )
    state = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert state[1] == "upd" and len(state) == 20
    # the full rewrite re-establishes envelopes for the new layout
    assert t._manifest().ranges


def test_manifest_prune_probe_failure_falls_back_all_touched(
    spark, tmp_path
):
    """Envelope values that overflow a NARROWER batch key dtype must not
    fail the write: the probe degrades to all-touched (the full-rewrite
    path, which implicit-casts the join) and the delete stays exact."""
    t = HudiTable(
        path=str(tmp_path / "fgov"),
        record_key="id",
        precombine="ver",
        options={"hoodie.commit.mode": "manifest"},
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(2**40 + i, 1, f"v{i}") for i in range(5)],
            "id long, ver int, v string",
        )
    )
    assert t._manifest().ranges  # envelopes exist (long keys)
    # int batch: createDataFrame(IntegerType) cannot hold 2**40 →
    # probe raises internally → fallback, never a write failure
    touched, untouched = t._manifest_split_touched(
        spark.createDataFrame([(7,)], "id int"), spark, t._manifest()
    )
    assert untouched == [] and set(touched) == set(t._manifest().files)
    t.delete(spark.createDataFrame([(7,)], "id int"))
    assert len(t.read(spark).collect()) == 5


def test_manifest_point_read_prunes_files(spark, tmp_path):
    """read(keys=...) on a manifest table must scan ONLY files whose
    envelope may hold a probed key — the point-lookup read path."""
    t = _fg_manifest_table(tmp_path, "pread")
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"lo{i}") for i in range(100)],
            "id int, ver int, v string",
        ).coalesce(1)
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"hi{i}") for i in range(1000, 1100)],
            "id int, ver int, v string",
        ).coalesce(1)
    )
    lo_files = {f for f, r in t._manifest().ranges.items() if r[1] < 1000}
    assert lo_files
    df = t.read(spark, keys=spark.createDataFrame([(1050,)], "id int"))
    assert [(r["id"], r["v"]) for r in df.collect()] == [(1050, "hi1050")]
    scanned = {f.replace("file://", "").replace("file:", "") for f in df.inputFiles()}
    assert not (scanned & lo_files), "point read scanned pruned files"
    # key in no file's envelope: zero-row result, no data-file scan
    miss = t.read(spark, keys=spark.createDataFrame([(500,)], "id int"))
    assert miss.count() == 0 and miss.columns == df.columns
    # both spellings at once is a caller bug
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not both"):
        t.read(
            spark,
            keys=spark.createDataFrame([(1,)], "id int"),
            _keys=spark.createDataFrame([(1,)], "id int"),
        )


def test_manifest_mor_point_read_merges_log_over_pruned_base(
    spark, tmp_path
):
    """MOR+manifest: a point read file-prunes the BASE scan but must
    still merge the delta log — the log holds the newest version."""
    t = HudiTable(
        path=str(tmp_path / "morpr"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
        options={"hoodie.commit.mode": "manifest"},
    )
    # genesis only: an existing MOR table routes bulk_insert through
    # the log, so the two range-disjoint BASE files must come from one
    # range-partitioned genesis load
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"lo{i}") for i in range(50)]
            + [(i, 1, f"hi{i}") for i in range(1000, 1050)],
            "id int, ver int, v string",
        ).repartitionByRange(2, "id")
    )
    ranges = t._manifest().ranges
    lo_files = {f for f, r in ranges.items() if r[1] < 1000}
    assert lo_files and len(ranges) == 2
    # MOR upsert: goes to the delta log, base untouched
    t.upsert(
        spark.createDataFrame([(1020, 2, "upd")], "id int, ver int, v string")
    )
    df = t.read(spark, keys=spark.createDataFrame([(1020,)], "id int"))
    assert [(r["id"], r["ver"], r["v"]) for r in df.collect()] == [
        (1020, 2, "upd")
    ]
    scanned = {f.replace("file://", "").replace("file:", "") for f in df.inputFiles()}
    assert not (scanned & lo_files), "point read scanned pruned base files"


def test_read_cdc_manifest_mor_stays_exact_with_file_pruning(
    spark, tmp_path
):
    """read_cdc on MOR+manifest: the internal _keys hook now ALSO
    file-prunes the manifest base scan — i/u/d classification must stay
    exact through it."""
    t = HudiTable(
        path=str(tmp_path / "cdcm"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
        options={"hoodie.commit.mode": "manifest"},
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"v{i}") for i in range(100)], "id int, ver int, v string"
        ).repartitionByRange(4, "id")
    )
    cursor = t.latest_commit_seq(spark)
    t.upsert(spark.createDataFrame([(7, 2, "u7")], "id int, ver int, v string"))
    t.upsert(spark.createDataFrame([(200, 1, "new")], "id int, ver int, v string"))
    t.delete(spark.createDataFrame([(9, 9)], "id int, ver int"))
    got = {
        r["id"]: r["op"]
        for r in t.read_cdc(spark, since_seq=cursor).collect()
    }
    assert got == {7: "u", 200: "i", 9: "d"}


def test_point_read_pushes_in_filter_on_plain_tables(spark, tmp_path):
    """read(keys=small set) must reach the parquet scan as a pushed IN
    filter (row-group min/max skip — the point-lookup path for tables
    with NO manifest), stay exact with NULL probe keys (match nothing),
    and fall back to the pure semi-join plan past the cap."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(path=str(tmp_path / "inpush"), record_key="id", precombine="ver")
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"v{i}") for i in range(100)], "id int, ver int, v string"
        )
    )
    probe = spark.createDataFrame([(3,), (None,), (998,)], "id int")
    df = t.read(spark, keys=probe)
    assert [(r["id"], r["v"]) for r in df.collect()] == [(3, "v3")]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In(id" in plan, plan  # pushed to the scan, NULL stripped
    # MOR: the IN filter must reach the LOG scan too, and the delta-log
    # delete marker for a probed key must still win the merge
    m = HudiTable(
        path=str(tmp_path / "inpushm"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
    )
    m.bulk_insert(
        spark.createDataFrame(
            [(i, 1, f"v{i}") for i in range(10)], "id int, ver int, v string"
        )
    )
    m.delete(spark.createDataFrame([(3, 9)], "id int, ver int"))
    mdf = m.read(spark, keys=spark.createDataFrame([(3,), (4,)], "id int"))
    assert [(r["id"], r["v"]) for r in mdf.collect()] == [(4, "v4")]
    mplan = mdf._jdf.queryExecution().executedPlan().toString()
    assert mplan.count("In(id") >= 2, mplan  # base AND log scans
    # past the cap: no IN filter, result identical (pure semi-join)
    capped = HudiTable(
        path=str(tmp_path / "inpush"),
        record_key="id",
        precombine="ver",
        options={"hoodie.read.pointlookup.inlist.max": "2"},
    )
    cdf = capped.read(spark, keys=probe)
    assert [(r["id"], r["v"]) for r in cdf.collect()] == [(3, "v3")]
    assert "In(id" not in cdf._jdf.queryExecution().executedPlan().toString()
    # all-NULL probe: selects nothing, schema intact
    ndf = t.read(spark, keys=spark.createDataFrame([(None,)], "id int"))
    assert ndf.count() == 0 and ndf.columns == df.columns


def _pm_table(tmp_path, name, **kw):
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    return HudiTable(
        path=str(tmp_path / name),
        record_key="id",
        precombine="ver",
        partition_field="p",
        options={"hoodie.commit.mode": "manifest"},
        **kw,
    )


def test_manifest_partitioned_upsert_delete_filegroup(spark, tmp_path):
    """Partitioned manifest tables route through the SAME key-envelope
    file-group paths as unpartitioned ones (the partition column is a
    data column, and the latest-wins merge is GLOBAL-key, so partition
    pruning of upsert/delete candidates would be unsound — a key may
    move partitions): a point-key upsert rewrites only the file whose
    key envelope matches, carries the rest by reference, and records
    partition envelopes for every file."""
    import os

    t = _pm_table(tmp_path, "pmud")
    df = spark.createDataFrame(
        [(i, 1, "a" if i < 50 else "b", f"v{i}") for i in range(100)],
        "id int, ver int, p string, v string",
    )
    t.bulk_insert(df.repartition(2, "p"))
    pr = t._manifest().pranges
    assert sorted(e[:2] for e in pr.values()) == [["a", "a"], ["b", "b"]]
    b_file = next(f for f, e in pr.items() if e[0] == "b")
    mtime = os.path.getmtime(b_file)
    # key 7 lives in the 'a' file (ids 0-49): only that file rewritten
    t.upsert(
        spark.createDataFrame(
            [(7, 2, "a", "upd")], "id int, ver int, p string, v string"
        )
    )
    assert os.path.getmtime(b_file) == mtime
    assert b_file in t._manifest().files
    r = t.read(spark)
    assert r.count() == 100
    assert r.filter("id = 7").collect()[0]["v"] == "upd"
    # pranges carried forward across the partial rewrite
    assert t._manifest().pranges[b_file][:2] == ["b", "b"]
    t.delete(spark.createDataFrame([(60, 9)], "id int, ver int"))
    assert os.path.getmtime(b_file) != mtime or b_file not in t._manifest().files
    got = t.read(spark)
    assert got.count() == 99 and got.filter("id = 60").count() == 0


def test_manifest_partitioned_dynamic_overwrite(spark, tmp_path):
    """insert_overwrite on a partitioned manifest table classifies live
    files by partition envelope: PURE-TOUCHED dropped from the manifest
    (still on disk for time travel until clean()), DISJOINT carried by
    reference, MIXED rewritten to only its untouched-partition rows —
    and the NULL partition routes through the same classes."""
    import os

    t = _pm_table(tmp_path, "pmow")
    schema = "id int, ver int, p string, v string"
    # commit 1: an a-pure and a b-pure file
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, "a" if i < 10 else "b", f"v{i}") for i in range(20)],
            schema,
        ).repartition(2, "p")
    )
    # commit 2: one MIXED file (a + c rows) and one NULL-pure file
    t.bulk_insert(
        spark.createDataFrame(
            [(100, 1, "a", "ma"), (101, 1, "c", "mc")], schema
        ).coalesce(1)
    )
    t.bulk_insert(
        spark.createDataFrame([(200, 1, None, "nul")], schema).coalesce(1)
    )
    pr = t._manifest().pranges
    by_env = {tuple(e[:2]) + (e[2],): f for f, e in pr.items()}
    a_pure = by_env[("a", "a", False)]
    b_pure = by_env[("b", "b", False)]
    mixed = by_env[("a", "c", False)]
    null_pure = by_env[(None, None, True)]
    keep_mtimes = {f: os.path.getmtime(f) for f in (b_pure, null_pure)}
    v_before = t._manifest_versions()[-1]
    t.insert_overwrite(
        spark.createDataFrame([(1000, 1, "a", "fresh")], schema)
    )
    live = set(t._manifest().files)
    assert a_pure not in live and mixed not in live
    assert os.path.exists(a_pure), "dropped file must stay for time travel"
    assert {f: os.path.getmtime(f) for f in keep_mtimes} == keep_mtimes
    assert b_pure in live and null_pure in live
    r = t.read(spark)
    assert sorted(
        (x["id"], x["v"]) for x in r.filter("p = 'a'").collect()
    ) == [(1000, "fresh")]
    assert r.filter("p = 'b'").count() == 10
    assert [(x["id"], x["v"]) for x in r.filter("p = 'c'").collect()] == [
        (101, "mc")
    ]
    assert r.filter("p is null").count() == 1
    # pre-overwrite state stays readable at the old version
    assert (
        t.read_manifest_version(spark, v_before).filter("p = 'a'").count()
        == 11
    )
    # NULL-partition overwrite: null-pure dropped, everything else carried
    live_before = set(t._manifest().files)
    t.insert_overwrite(
        spark.createDataFrame([(300, 1, None, "nul2")], schema)
    )
    assert null_pure not in set(t._manifest().files)
    assert live_before - set(t._manifest().files) == {null_pure}
    r2 = t.read(spark)
    assert [(x["id"], x["v"]) for x in r2.filter("p is null").collect()] == [
        (300, "nul2")
    ]
    # clean reclaims the dropped files
    t.clean(keep_last=1)
    assert not os.path.exists(a_pure) and not os.path.exists(null_pure)


def test_manifest_partitioned_overwrite_without_pranges(spark, tmp_path):
    """Legacy manifests (no partition envelopes) degrade to rewriting
    every file — dynamic overwrite stays EXACT, just unpruned."""
    t = _pm_table(tmp_path, "pmleg")
    schema = "id int, ver int, p string, v string"
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a", "va"), (2, 1, "b", "vb")], schema
        ).repartition(2, "p")
    )
    # simulate a pre-pranges manifest
    import json, os

    mdir = t._manifest_dir
    latest = sorted(os.listdir(mdir))[-1]
    with open(os.path.join(mdir, latest)) as fh:
        m = json.load(fh)
    m.pop("pranges", None)
    with open(os.path.join(mdir, latest), "w") as fh:
        json.dump(m, fh)
    t.insert_overwrite(spark.createDataFrame([(10, 1, "a", "new")], schema))
    r = t.read(spark)
    assert sorted((x["id"], x["p"], x["v"]) for x in r.collect()) == [
        (2, "b", "vb"),
        (10, "a", "new"),
    ]


def test_manifest_partitioned_mor_flow(spark, tmp_path):
    """MOR + manifest + partitioned: log upserts merge over the base,
    compact folds, insert_overwrite compacts-then-replaces only the
    touched partition, and point reads still envelope-prune."""
    t = _pm_table(tmp_path, "pmmor", table_type="MERGE_ON_READ")
    schema = "id int, ver int, p string, v string"
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, "a" if i < 5 else "b", f"v{i}") for i in range(10)],
            schema,
        ).repartition(2, "p")
    )
    t.upsert(spark.createDataFrame([(3, 2, "a", "upd")], schema))
    r = t.read(spark)
    assert r.count() == 10 and r.filter("id = 3").collect()[0]["v"] == "upd"
    t.delete(spark.createDataFrame([(4,)], "id int"))
    t.compact(spark)
    assert t.read(spark).count() == 9
    t.insert_overwrite(spark.createDataFrame([(100, 1, "a", "x")], schema))
    r2 = t.read(spark)
    assert [x["id"] for x in r2.filter("p = 'a'").collect()] == [100]
    assert r2.filter("p = 'b'").count() == 5
    t.upsert(spark.createDataFrame([(100, 2, "a", "y")], schema))
    pt = t.read(spark, keys=spark.createDataFrame([(100,)], "id int"))
    assert [(x["id"], x["v"]) for x in pt.collect()] == [(100, "y")]


def test_partition_scoped_read_prunes_manifest_files(spark, tmp_path):
    """read(partitions=[...]) on a partitioned manifest COW table must
    scan ONLY the files whose partition envelope overlaps the request,
    handle the null partition, and return zero rows for []."""
    import os

    t = _pm_table(tmp_path, "psread")
    schema = "id int, ver int, p string, v string"
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, "a" if i < 10 else "b", f"v{i}") for i in range(20)],
            schema,
        ).repartition(2, "p")
    )
    t.bulk_insert(
        spark.createDataFrame([(100, 1, None, "nul")], schema).coalesce(1)
    )
    pr = t._manifest().pranges
    a_files = {f for f, e in pr.items() if e[0] == "a" == e[1]}
    df = t.read(spark, partitions=["a"])
    assert df.count() == 10
    scanned = {
        f.replace("file://", "").replace("file:", "") for f in df.inputFiles()
    }
    assert scanned == a_files, "partition read scanned non-a files"
    ndf = t.read(spark, partitions=[None])
    assert [(r["id"], r["v"]) for r in ndf.collect()] == [(100, "nul")]
    both = t.read(spark, partitions=["b", None])
    assert both.count() == 11
    assert t.read(spark, partitions=[]).count() == 0
    import pytest as _pytest

    from hudi_spark_utilities_plus_spark.lake import HudiTable

    plain = HudiTable(
        path=str(tmp_path / "noplain"), record_key="id", precombine="ver"
    )
    plain.bulk_insert(spark.createDataFrame([(1, 1, "x")], "id int, ver int, v string"))
    with _pytest.raises(ValueError, match="partition_field"):
        plain.read(spark, partitions=["a"])


def test_partition_scoped_read_stale_log_guard(spark, tmp_path):
    """THE soundness case for MOR partition pruning: the base holds the
    WINNING version of a key (newer precombine) in partition 'a', the
    delta log holds a STALE entry claiming partition 'b'. A read scoped
    to 'b' that pruned the 'a' base file would let the stale log row
    win the merge unopposed and resurrect it — the log-guard must keep
    that file in the merge, and the post-merge filter drops the key."""
    t = _pm_table(tmp_path, "psguard", table_type="MERGE_ON_READ")
    schema = "id int, ver int, p string, v string"
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 5, "a", "winner"), (2, 1, "b", "vb")], schema
        ).repartition(2, "p")
    )
    # stale upsert: older precombine, different partition — must LOSE
    t.upsert(spark.createDataFrame([(1, 3, "b", "stale")], schema))
    got_b = {
        r["id"]: r["v"] for r in t.read(spark, partitions=["b"]).collect()
    }
    assert got_b == {2: "vb"}, f"stale log row resurrected: {got_b}"
    got_a = {
        r["id"]: (r["ver"], r["v"])
        for r in t.read(spark, partitions=["a"]).collect()
    }
    assert got_a == {1: (5, "winner")}
    # a key that genuinely MOVED partitions via the log appears only
    # in its new partition
    t.upsert(spark.createDataFrame([(2, 9, "a", "moved")], schema))
    assert t.read(spark, partitions=["b"]).count() == 0
    got_a2 = {
        r["id"]: r["v"] for r in t.read(spark, partitions=["a"]).collect()
    }
    assert got_a2 == {1: "winner", 2: "moved"}


def test_partition_scoped_read_base_duplicate_guard(spark, tmp_path):
    """The base-vs-base half of the partition-read soundness story
    (ADVICE r11): a genesis bulk_insert (no index lookup) lands key 1's
    WINNING version in partition 'a' and a stale duplicate in 'b'. A
    read scoped to 'b' that pruned the 'a' file would let the stale
    duplicate win the merge unopposed — the log-guard can't save it
    (key 1 never reaches the log) — so the base-duplicate guard must
    keep the 'a' file in the merge whenever the manifest can't prove
    base keys unique."""
    t = _pm_table(tmp_path, "psdup", table_type="MERGE_ON_READ")
    schema = "id int, ver int, p string, v string"
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 5, "a", "winner"), (1, 3, "b", "stale"), (2, 1, "b", "vb")],
            schema,
        ).repartition(2, "p")
    )
    # overlapping key envelopes ([1,1] vs [1,2]): no uniqueness proof
    assert not t._manifest().key_unique
    # a live log with an UNRELATED key: the merge path runs, and the
    # log's key set alone would keep nothing beyond partition 'b'
    t.upsert(spark.createDataFrame([(3, 1, "b", "log")], schema))
    got_b = {
        r["id"]: r["v"] for r in t.read(spark, partitions=["b"]).collect()
    }
    assert got_b == {2: "vb", 3: "log"}, (
        f"stale base duplicate resurrected: {got_b}"
    )
    # partition-scoped must equal full-read-then-filter, both scopes
    full = t.read(spark)
    assert got_b == {
        r["id"]: r["v"] for r in full.filter("p = 'b'").collect()
    }
    got_a = {
        r["id"]: r["v"] for r in t.read(spark, partitions=["a"]).collect()
    }
    assert got_a == {1: "winner"}
    assert got_a == {
        r["id"]: r["v"] for r in full.filter("p = 'a'").collect()
    }
    # compaction merges the duplicate away and PUBLISHES the
    # uniqueness claim — same answers, guard now skipped
    t.compact(spark)
    assert t._manifest().key_unique
    t.upsert(spark.createDataFrame([(4, 1, "b", "log2")], schema))
    got_b2 = {
        r["id"]: r["v"] for r in t.read(spark, partitions=["b"]).collect()
    }
    assert got_b2 == {2: "vb", 3: "log", 4: "log2"}


def test_partition_scoped_read_pruning_intact_when_disjoint(spark, tmp_path):
    """The duplicate guard must not tax sound layouts: with per-file
    key envelopes disjoint (range-clustered genesis) the guard
    re-admits nothing even WITHOUT the key_unique claim — the scoped
    read still opens only the requested partition's base file."""
    import json
    import os

    t = _pm_table(tmp_path, "psdisj", table_type="MERGE_ON_READ")
    schema = "id int, ver int, p string, v string"
    t.bulk_insert(
        spark.createDataFrame(
            [(i, 1, "a" if i < 10 else "b", f"v{i}") for i in range(20)],
            schema,
        ).repartition(2, "p")
    )
    assert t._manifest().key_unique  # disjoint envelopes proved it
    # simulate a legacy manifest: strip the claim, keep the envelopes
    mdir = t._manifest_dir
    latest = sorted(os.listdir(mdir))[-1]
    with open(os.path.join(mdir, latest)) as fh:
        m = json.load(fh)
    m.pop("key_unique", None)
    with open(os.path.join(mdir, latest), "w") as fh:
        json.dump(m, fh)
    assert not t._manifest().key_unique
    t.upsert(spark.createDataFrame([(25, 1, "b", "log")], schema))
    df = t.read(spark, partitions=["b"])
    assert {r["id"] for r in df.collect()} == set(range(10, 20)) | {25}
    base = set(t._manifest().files)
    scanned = {
        f.replace("file://", "").replace("file:", "")
        for f in df.inputFiles()
    }
    pr = t._manifest().pranges
    b_files = {f for f in base if pr[f][0] == "b"}
    assert scanned & base == b_files, (
        f"disjoint-envelope layout lost its pruning: {scanned & base}"
    )


def test_manifest_key_unique_lifecycle(spark, tmp_path):
    """The key_unique claim's write-path state machine: proven at a
    range-clustered genesis, preserved by partial upsert/delete,
    demoted by a merge-head append; on partitioned tables an
    insert_overwrite preserves it only when the batch's key envelopes
    are disjoint from every surviving file's."""
    # unpartitioned COW manifest: genesis proof + partial-path preserve
    t = _fg_manifest_table(tmp_path, "kulife")
    schema = "id int, ver int, v string"
    rows = [(i, 1, f"v{i}") for i in range(40)]
    t.bulk_insert(
        spark.createDataFrame(rows, schema).repartitionByRange(4, "id")
    )
    assert t._manifest().key_unique
    t.upsert(spark.createDataFrame([(3, 2, "up")], schema))
    assert t._manifest().key_unique  # partial rewrite preserves
    t.delete(spark.createDataFrame([(7,)], "id int"), spark)
    assert t._manifest().key_unique  # delete preserves
    t.bulk_insert(spark.createDataFrame([(100, 1, "x")], schema))
    assert not t._manifest().key_unique  # merge-head append demotes

    # partitioned COW manifest: overwrite's envelope-disjointness gate
    t2 = _pm_table(tmp_path, "kuow")
    pschema = "id int, ver int, p string, v string"
    t2.bulk_insert(
        spark.createDataFrame(
            [(i, 1, "a" if i < 10 else "b", "x") for i in range(20)],
            pschema,
        ).repartition(2, "p")
    )
    assert t2._manifest().key_unique  # a:[0,9] / b:[10,19] disjoint
    # batch keys [0,5] can't live in the carried b file [10,19]: preserved
    t2.insert_overwrite(
        spark.createDataFrame(
            [(i, 2, "a", "ow") for i in range(6)], pschema
        )
    )
    assert t2._manifest().key_unique
    # batch key 15 COULD duplicate a carried b row: demoted
    t2.insert_overwrite(
        spark.createDataFrame([(15, 3, "a", "dup")], pschema)
    )
    assert not t2._manifest().key_unique
    # and the table now really does hold key 15 twice — the demotion
    # is what keeps a later partition-scoped MOR read honest
    assert t2.read(spark).filter("id = 15").count() == 2


def test_bulk_insert_verify_unique_keys_option(spark, tmp_path):
    """hoodie.bulkinsert.verify.unique.keys: a loader that KNOWS its
    batch is key-unique can buy the key_unique claim with one
    key-column aggregate over the written files even when envelope
    overlap can't prove it (hash-scattered keys) — and a batch that
    actually carries duplicates or null keys is never falsely
    claimed."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    schema = "id int, ver int, p string, v string"
    # scattered keys across partition files: envelopes overlap
    rows = [(i, 1, "a" if i % 2 else "b", "x") for i in range(20)]

    def mk(name, **opts):
        return HudiTable(
            path=str(tmp_path / name),
            record_key="id",
            precombine="ver",
            partition_field="p",
            options={"hoodie.commit.mode": "manifest", **opts},
        )

    t0 = mk("novrfy")
    t0.bulk_insert(spark.createDataFrame(rows, schema).repartition(2, "p"))
    assert not t0._manifest().key_unique  # overlap, no verification

    t1 = mk("vrfy", **{"hoodie.bulkinsert.verify.unique.keys": "true"})
    t1.bulk_insert(spark.createDataFrame(rows, schema).repartition(2, "p"))
    assert t1._manifest().key_unique  # verified at load time

    t2 = mk("vrfydup", **{"hoodie.bulkinsert.verify.unique.keys": "true"})
    t2.bulk_insert(
        spark.createDataFrame(
            rows + [(1, 0, "b", "dup"), (None, 0, "b", "nul")], schema
        ).repartition(2, "p")
    )
    assert not t2._manifest().key_unique  # real duplicates: no claim
    assert t2.read(spark).count() == 22  # and the data is untouched


def test_envelope_disjointness_helpers():
    """Pure-logic contracts of the two driver-side proofs."""
    from hudi_spark_utilities_plus_spark.lake import (
        _envelope_groups_disjoint,
        _key_envelopes_disjoint,
    )

    r = {"f1": [1, 5, False], "f2": [6, 9, False]}
    assert _key_envelopes_disjoint(r, ["f1", "f2"])
    # touching endpoints = a key could be in both
    assert not _key_envelopes_disjoint(
        {"f1": [1, 5, False], "f2": [5, 9, False]}, ["f1", "f2"]
    )
    assert not _key_envelopes_disjoint(r, ["f1", "f2", "f3"])  # no env
    assert not _key_envelopes_disjoint(
        {"f1": [1, 2, True], "f2": [3, 4, True]}, ["f1", "f2"]
    )  # two null carriers
    assert not _key_envelopes_disjoint({}, [])  # empty: no proof claimed
    assert not _key_envelopes_disjoint(
        {"f1": [1, 2, False], "f2": ["a", "b", False]}, ["f1", "f2"]
    )  # incomparable dtypes

    assert _envelope_groups_disjoint([[1, 5, False]], [[6, 9, False]])
    assert not _envelope_groups_disjoint([[1, 5, False]], [[5, 9, False]])
    # WITHIN-group overlap is fine — only cross-group matters
    assert _envelope_groups_disjoint(
        [[1, 5, False], [4, 8, False]], [[9, 12, False]]
    )
    assert not _envelope_groups_disjoint([[1, 2, True]], [[5, 6, True]])
    assert _envelope_groups_disjoint([[None, None, True]], [[1, 2, False]])
    assert not _envelope_groups_disjoint(
        [[1, 10, False]], [[2, 3, False], [20, 30, False]]
    )
    assert not _envelope_groups_disjoint(
        [[1, 2, False]], [["a", "b", False]]
    )  # incomparable dtypes: never claim disjoint


def test_partition_scoped_read_hive_layout_prunes_dirs(spark, tmp_path):
    """On hive-layout tables the partitions= filter is a plain
    partition-column predicate — Catalyst prunes partition
    directories (inputFiles confined to the requested dir)."""
    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "pshive"),
        record_key="id",
        precombine="ver",
        partition_field="p",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a", "va"), (2, 1, "b", "vb")],
            "id int, ver int, p string, v string",
        )
    )
    df = t.read(spark, partitions=["a"])
    assert [(r["id"], r["v"]) for r in df.collect()] == [(1, "va")]
    # the predicate must reach the scan as a PARTITION filter (dir
    # pruning at planning time — inputFiles() is not filter-aware)
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*p#\d+ = a", plan), plan


def test_lock_serializes_overwrite_vs_upsert_on_partitioned_manifest(
    spark, tmp_path
):
    """A racing partition overwrite and a key upsert on a PARTITIONED
    manifest table must serialize under the lock provider: the final
    state equals ONE of the two serial orders (the ops don't commute),
    the untouched partition survives either way, and both commits land
    (no silently dropped manifest)."""
    import threading as th

    from hudi_spark_utilities_plus_spark.lake import HudiTable

    t = HudiTable(
        path=str(tmp_path / "owrace"),
        record_key="id",
        precombine="ver",
        partition_field="p",
        options={"hoodie.commit.mode": "manifest", **_LOCK_OPTS},
    )
    schema = "id int, ver int, p string, v string"
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a", "base"), (2, 1, "b", "vb")], schema
        ).repartition(2, "p")
    )
    v0 = t._manifest_versions()[-1]
    barrier = th.Barrier(2)

    def up() -> None:
        df = spark.createDataFrame([(1, 5, "a", "upd")], schema)
        barrier.wait()
        t.upsert(df, spark)

    def ow() -> None:
        df = spark.createDataFrame([(9, 1, "a", "ow")], schema)
        barrier.wait()
        t.insert_overwrite(df, spark)

    threads = [th.Thread(target=up), th.Thread(target=ow)]
    for x in threads:
        x.start()
    for x in threads:
        x.join(timeout=180)
    got = {
        r["id"]: (r["p"], r["v"]) for r in t.read(spark).collect()
    }
    serial_up_then_ow = {9: ("a", "ow"), 2: ("b", "vb")}
    serial_ow_then_up = {9: ("a", "ow"), 1: ("a", "upd"), 2: ("b", "vb")}
    assert got in (serial_up_then_ow, serial_ow_then_up), got
    # both commits published a manifest version; no lock leaked
    assert t._manifest_versions()[-1] == v0 + 2
    assert not os.path.exists(t.path + "__hudi_lock"), "lock leaked"


# -- seq claim stores: O(1) MOR seq allocation on any scheme -----------


class _MemClaimStore:
    """In-memory SeqClaimStore with RPC counters — the unit-test stand-in
    for an object-store client registered via register_seq_claim_store.
    put-if-absent over a dict models the if-none-match PUT exactly."""

    def __init__(self):
        import threading as _th

        self.claims: set[int] = set()
        self.rpc = {"list": 0, "put": 0}
        # the real stores' conditional put is atomic (hard-link /
        # if-none-match); the stand-in must be too, or the concurrency
        # test races its own fixture instead of the allocator
        self._mu = _th.Lock()

    def list_claims(self):
        self.rpc["list"] += 1
        # deliberately UNSORTED (descending): the abstract contract does
        # not require order — a consumer trusting claims[-1] instead of
        # max() would re-allocate a crash-gap seq below the max
        return sorted(self.claims, reverse=True)

    def claim(self, seq: int) -> bool:
        self.rpc["put"] += 1
        with self._mu:
            if seq in self.claims:
                return False
            self.claims.add(seq)
            return True

    def truncate(self) -> None:
        self.claims.clear()


def test_seq_claim_nonlocal_allocation_is_o1(spark):
    """On a non-local scheme with a registered SeqClaimStore, MOR seq
    allocation is O(1) conditional-put RPCs — one LIST + one PUT per
    allocation, never the per-append Spark log scan (O(log) since the
    last compaction). The log-scan fallback is
    monkeypatch-poisoned to prove it is never consulted once claims
    exist."""
    from hudi_spark_utilities_plus_spark import lake as L

    store = _MemClaimStore()
    L.register_seq_claim_store("mem-s3", lambda uri: store)
    try:
        t = HudiTable(
            path="mem-s3://bucket/tbl",
            record_key="id",
            precombine="ver",
            table_type="MERGE_ON_READ",
        )
        # bootstrap: empty claim dir + no log -> seqbase floor (0)
        assert t._alloc_seq(spark) == 0
        # poison the fallback: every later allocation must be claim-only
        orig = t._log_scan_next
        t._log_scan_next = lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("claim path fell back to the Spark log scan")
        )
        base = dict(store.rpc)
        for expect in (1, 2, 3):
            assert t._alloc_seq(spark) == expect
        dl = store.rpc["list"] - base["list"]
        dp = store.rpc["put"] - base["put"]
        assert dl == 3 and dp == 3, (dl, dp)  # 1 LIST + 1 PUT each
        t._log_scan_next = orig
        # contention: a racing writer claims the candidate BETWEEN our
        # LIST and our PUT -> exactly one extra PUT (bump-and-retry),
        # still no log scan
        inner_list = store.list_claims

        def stale_list():
            out = inner_list()
            store.claims.add(4)  # the racer lands after our LIST
            return out

        store.list_claims = stale_list
        base = dict(store.rpc)
        assert t._alloc_seq(spark) == 5
        store.list_claims = inner_list
        assert store.rpc["put"] - base["put"] == 2
        # peek (_next_seq) is read-only: one LIST, no PUT
        base = dict(store.rpc)
        assert t._next_seq(spark) == 6
        assert store.rpc["list"] - base["list"] == 1
        assert store.rpc["put"] == base["put"]
        # truncation (what compact/restore do with the log)
        t._truncate_claims()
        assert store.claims == set()
    finally:
        L.unregister_seq_claim_store("mem-s3")
    # no store registered: no claims, allocation scans the log
    assert HudiTable(
        path="mem-s3://bucket/tbl", record_key="id", precombine="ver",
        table_type="MERGE_ON_READ",
    )._seq_claim_store is None


def test_seq_claim_concurrent_allocators_unique_dense(spark):
    """Claims are natively multi-writer-unique WITHOUT the table lock:
    concurrent allocators against one store produce distinct, dense
    seqs (threads here; the multiprocess test below covers OS
    processes)."""
    import threading as th

    from hudi_spark_utilities_plus_spark import lake as L

    store = _MemClaimStore()
    # wrap claim with a tiny stagger to widen the race window
    inner = store.claim

    def racy_claim(seq):
        import time as _time

        _time.sleep(0.001)
        return inner(seq)

    store.claim = racy_claim
    L.register_seq_claim_store("mem-s3b", lambda uri: store)
    try:
        t = HudiTable(
            path="mem-s3b://bucket/tbl",
            record_key="id",
            precombine="ver",
            table_type="MERGE_ON_READ",
        )
        got: list[int] = []
        lock = th.Lock()

        def alloc():
            for _ in range(25):
                s = t._alloc_seq(spark)
                with lock:
                    got.append(s)

        threads = [th.Thread(target=alloc) for _ in range(8)]
        for x in threads:
            x.start()
        for x in threads:
            x.join(timeout=120)
        assert len(got) == 200
        assert sorted(got) == list(range(200)), "seqs not distinct+dense"
    finally:
        L.unregister_seq_claim_store("mem-s3b")


def test_seq_claim_mode_forced_local_full_lifecycle(spark, tmp_path):
    """A local MOR table with default options allocates through the
    hard-link claim dir: full MOR lifecycle — writes, merge reads,
    compaction (claims truncated, seqbase advances, cursors stay
    valid), incremental read — stays exact, and the claim files mirror
    the allocated seqs."""
    t = HudiTable(
        path=str(tmp_path / "claimt"),
        record_key="id",
        precombine="ver",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b")], "id int, ver int, v string"
        )
    )
    t.upsert(
        spark.createDataFrame([(1, 2, "a2"), (3, 1, "c")], "id int, ver int, v string")
    )
    t.delete(spark.createDataFrame([(2,)], "id int"))
    claim_dir = t.path + "__hudi_seqclaim"
    assert os.path.isdir(claim_dir)
    claimed = sorted(
        int(f[4:16]) for f in os.listdir(claim_dir) if f.endswith(".claim")
    )
    assert claimed == [0, 1], claimed  # upsert=0, delete=1
    # the one-LIST answer agrees with a scan of the log
    assert t._next_seq(spark) == t._log_scan_next(spark) == 2
    assert {r["id"]: r["v"] for r in t.read(spark).collect()} == {1: "a2", 3: "c"}
    cursor = t.latest_commit_seq(spark)
    t.compact(spark)
    # compaction truncates claims and advances the seqbase watermark
    assert sorted(
        int(f[4:16]) for f in os.listdir(claim_dir) if f.endswith(".claim")
    ) == []
    t.upsert(
        spark.createDataFrame([(4, 1, "d")], "id int, ver int, v string")
    )
    # post-compaction allocation continues MONOTONIC from seqbase
    claimed = sorted(
        int(f[4:16]) for f in os.listdir(claim_dir) if f.endswith(".claim")
    )
    assert claimed == [2], claimed
    inc = {r["id"] for r in t.read_incremental(spark, since_seq=cursor).collect()}
    assert inc == {4}
    assert {r["id"]: r["v"] for r in t.read(spark).collect()} == {
        1: "a2", 3: "c", 4: "d",
    }


def test_seq_claim_local_store_conditional_put(tmp_path):
    """The built-in local claim store: put-if-absent wins exactly once
    per seq across racing writers (hard-link conditional put), listing
    parses only well-formed claim names, truncate empties."""
    from hudi_spark_utilities_plus_spark.lake import _LocalSeqClaimStore

    d = str(tmp_path / "claims")
    a, b = _LocalSeqClaimStore(d), _LocalSeqClaimStore(d)
    assert a.claim(0) is True
    assert b.claim(0) is False  # conditional put: loser fails
    assert b.claim(1) is True
    (tmp_path / "claims" / "garbage.txt").write_text("x")
    assert a.list_claims() == [0, 1]
    a.truncate()
    assert a.list_claims() == []
    assert os.path.exists(tmp_path / "claims" / "garbage.txt")


def test_seq_claim_threaded_allocators_unique_and_no_reissue(spark, tmp_path):
    """Concurrent allocators on their own table instances of one local
    MOR path, default options, no lock provider, more threads than
    cores: every allocated seq is distinct and the set is dense (the
    conditional put arbitrates), and the next commit lands past all of
    them."""
    import sys
    import threading

    path = str(tmp_path / "race")

    def tbl():
        return HudiTable(
            path=path,
            record_key="id",
            precombine="ver",
            table_type="MERGE_ON_READ",
        )

    t0 = tbl()
    t0.bulk_insert(
        spark.createDataFrame([(1, 1, "a")], "id int, ver int, v string")
    )
    t0.upsert(
        spark.createDataFrame([(1, 2, "b")], "id int, ver int, v string")
    )  # seq 0 claimed+logged: the racing peeks below never need the log
    workers, per_worker = 8, 50
    got: dict[int, list[int]] = {w: [] for w in range(workers)}
    barrier = threading.Barrier(workers)

    def alloc(worker: int) -> None:
        t = tbl()
        barrier.wait()
        for _ in range(per_worker):
            got[worker].append(t._alloc_seq(spark))

    threads = [
        threading.Thread(target=alloc, args=(w,)) for w in range(workers)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads), "allocator hung"
    allocated = sorted(s for seqs in got.values() for s in seqs)
    n = workers * per_worker
    assert len(set(allocated)) == n, f"{len(set(allocated))}/{n} distinct"
    assert allocated == list(range(1, n + 1)), "seqs not dense"
    t = tbl()
    assert t._next_seq(spark) == n + 1
    t.upsert(
        spark.createDataFrame([(1, 3, "c")], "id int, ver int, v string")
    )
    assert t.latest_commit_seq(spark) == n + 1
    assert [r["v"] for r in t.read(spark).collect()] == ["c"]


def _claim_worker(args):
    """Module-level worker (multiprocessing pickling): greedily claim
    `count` seqs through a fresh store instance in THIS process."""
    dirpath, count = args
    from hudi_spark_utilities_plus_spark.lake import _LocalSeqClaimStore

    store = _LocalSeqClaimStore(dirpath)
    got = []
    cand = 0
    while len(got) < count:
        claims = store.list_claims()
        cand = max(cand, (max(claims) + 1) if claims else 0)
        while not store.claim(cand):
            cand += 1
        got.append(cand)
    return got


def test_seq_claim_local_store_multiprocess_unique_dense(tmp_path):
    """The hard-link conditional put is atomic ACROSS OS PROCESSES, not
    just threads (the GIL serializes the thread test's os calls far
    more than real multi-writer deployments): 8 processes × 25 greedy
    claims against one directory must produce 200 distinct, dense
    seqs."""
    from multiprocessing import Pool

    d = str(tmp_path / "mpclaims")
    with Pool(8) as pool:
        results = pool.map(_claim_worker, [(d, 25)] * 8)
    allseqs = sorted(s for r in results for s in r)
    assert len(allseqs) == 200
    assert allseqs == list(range(200)), (
        f"not distinct+dense: dupes={len(allseqs) - len(set(allseqs))}, "
        f"max={allseqs[-1]}"
    )


def test_footer_envelopes_match_spark_agg_and_fall_back(spark, tmp_path):
    """_footer_envelopes (r16: zero-Spark-job per-commit stats straight
    from the parquet row-group footers) must return [min, max, has_null]
    IDENTICAL to the distributed stats aggregate for footer-safe dtypes
    — across files, null mixes, and an all-null-in-one-file column —
    and must return None (the exact-aggregate fallback) when parquet
    dropped the stats (oversized string values)."""
    from urllib.parse import unquote, urlparse

    df = spark.createDataFrame(
        [(1, "a", "O"), (2, None, "F"), (3, "zz", None), (4, "m", "F")],
        "id int, s string, p string",
    ).repartition(2, F.col("id"))
    d = str(tmp_path / "fe")
    df.write.parquet(d)
    files = [
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    ]
    envs = HudiTable._footer_envelopes(files, ["id", "s", "p"])
    assert envs is not None and set(envs) == set(files)
    truth = {}
    for r in (
        spark.read.schema(df.schema)
        .parquet(d)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("id"), F.max("id"), F.max(F.col("id").isNull()),
            F.min("s"), F.max("s"), F.max(F.col("s").isNull()),
            F.min("p"), F.max("p"), F.max(F.col("p").isNull()),
        )
        .collect()
    ):
        truth[unquote(urlparse(r[0]).path)] = r
    assert set(truth) == set(envs)
    for p, env in envs.items():
        r = truth[p]
        assert env["id"] == [r[1], r[2], bool(r[3])], (p, env["id"], r)
        assert env["s"] == [r[4], r[5], bool(r[6])], (p, env["s"], r)
        assert env["p"] == [r[7], r[8], bool(r[9])], (p, env["p"], r)
    # oversized string values: parquet drops has_min_max -> whole-path
    # fallback for that column, while integral stats stay usable
    big = spark.createDataFrame(
        [(1, "q" * 100_000)], "id int, s string"
    ).coalesce(1)
    d2 = str(tmp_path / "fe_big")
    big.write.parquet(d2)
    files2 = [
        os.path.join(d2, f) for f in os.listdir(d2) if f.endswith(".parquet")
    ]
    assert HudiTable._footer_envelopes(files2, ["s"]) is None
    assert HudiTable._footer_envelopes(files2, ["id"]) == {
        files2[0]: {"id": [1, 1, False]}
    }


def test_session_shuffle_partitions_track_core_count():
    """build_spark_session (r16) derives spark.sql.shuffle.partitions
    from the session's ACTUAL parallelism — the bench runs at several
    $SPARK_GRAFT_CPUS values to measure scaling, so a constant tuned for
    one core count mis-sizes every other run — while an explicit caller
    conf is never clobbered. Subprocess: the decision happens at session
    build, which the shared fixture already spent."""
    import subprocess
    import sys

    code = """
import sys; sys.path.insert(0, {repo!r})
from hudi_spark_utilities_plus_spark.session import build_spark_session
s = build_spark_session(app_name="sp-t", master="local[3]",
                        conf={{"spark.ui.enabled": "false"}})
assert s.sparkContext.defaultParallelism == 3
assert s.conf.get("spark.sql.shuffle.partitions") == "3", \\
    s.conf.get("spark.sql.shuffle.partitions")
s.stop()
s2 = build_spark_session(app_name="sp-t2", master="local[3]",
                         conf={{"spark.ui.enabled": "false",
                                "spark.sql.shuffle.partitions": "11"}})
assert s2.conf.get("spark.sql.shuffle.partitions") == "11"
s2.stop()
print("OK")
""".format(repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0 and "OK" in out.stdout, (
        out.stdout[-2000:], out.stderr[-2000:]
    )


def test_tune_runtime_respects_startup_shuffle_conf():
    """A shuffle-partition value configured at STARTUP — even the
    literal 200, which equals Spark's default — is never clobbered by
    tune_runtime's core-count derive; an untouched default still is.
    Subprocess: the decision reads the startup SparkConf, which the
    shared fixture already spent."""
    import subprocess as sp
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # two separate subprocesses: SQL confs leak across stop/getOrCreate
    # inside one python process, which would fake the second case
    explicit = """
import sys; sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from hudi_spark_utilities_plus_spark.session import tune_runtime
s = (SparkSession.builder.master("local[3]").appName("tr-t")
     .config("spark.ui.enabled", "false")
     .config("spark.sql.shuffle.partitions", "200").getOrCreate())
tune_runtime(s)
assert s.conf.get("spark.sql.shuffle.partitions") == "200", \\
    s.conf.get("spark.sql.shuffle.partitions")
print("OK")
""".format(repo=repo)
    default = """
import sys; sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from hudi_spark_utilities_plus_spark.session import tune_runtime
s = (SparkSession.builder.master("local[3]").appName("tr-t2")
     .config("spark.ui.enabled", "false").getOrCreate())
tune_runtime(s)
assert s.conf.get("spark.sql.shuffle.partitions") == "3", \\
    s.conf.get("spark.sql.shuffle.partitions")
print("OK")
""".format(repo=repo)
    for code in (explicit, default):
        out = sp.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            timeout=300,
        )
        assert out.returncode == 0 and "OK" in out.stdout, (
            out.stdout[-2000:], out.stderr[-2000:]
        )


def test_kmeans_driver_assembled_means_are_bit_identical(spark):
    """r17: _kmeans assembles centroid arrays driver-side from the
    k × dim (cluster, pos, mean) rows; the removed second Spark
    aggregation (collect_list/array_sort rebuild) must have produced
    EXACTLY the same doubles — same per-(cluster, pos) avg rows, so
    equality must be bitwise, not approximate."""
    import random

    from hudi_spark_utilities_plus_spark.operators import similarity as S

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(5)], i % 3)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "id long, nv array<double>, cluster int"
    )
    # new path: driver-side assembly over the collected mean rows
    by_c = {}
    for r in S._centroid_means_rows(df, "nv"):
        by_c.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
    got = {c: [pm[p] for p in sorted(pm)] for c, pm in by_c.items()}
    # r16 path: the in-Spark ordered-array rebuild, reproduced inline
    old = {
        r["cluster"]: list(r["centroid"])
        for r in (
            df.select("cluster", F.posexplode("nv").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("m")))
                ).alias("pm")
            )
            .select(
                "cluster", F.transform("pm", lambda s: s["m"]).alias("centroid")
            )
            .collect()
        )
    }
    assert got == old  # exact float equality, not approx


def test_log_read_schema_matches_merge_inference(spark, tmp_path):
    """r17 timeline fast path: the driver-side footer-verified log
    schema must (a) equal mergeSchema inference field-for-field on a
    mixed upsert/delete-marker log, (b) yield an identical read()
    result, and (c) REFUSE (None → fallback) when a log entry carries
    a column the base never had (log-side schema evolution)."""
    t = HudiTable(
        path=str(tmp_path / "t"),
        record_key="k",
        precombine="ts",
        table_type="MERGE_ON_READ",
    )
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "k long, ts long, v string"
    )
    t.bulk_insert(base)
    t.upsert(
        spark.createDataFrame([(2, 25, "b2")], "k long, ts long, v string"),
        spark,
    )
    t.delete(spark.createDataFrame([(3,)], "k long"), spark)
    fast = t._log_full_schema(spark)
    assert fast is not None
    merged = (
        spark.read.option("mergeSchema", "true").parquet(t._log_path).schema
    )
    assert {f.name: f.dataType for f in fast.fields} == {
        f.name: f.dataType for f in merged.fields
    }
    got = {
        (r["k"], r["ts"], r["v"]) for r in t.read(spark).collect()
    }
    assert got == {(1, 10, "a"), (2, 25, "b2")}
    # narrow key/seq read agrees with the merged read
    narrow = t._log_read(
        spark, columns=["k", "__hudi_seq"], base_schema=t._base_schema(spark)
    )
    assert {r["k"] for r in narrow.select("k").collect()} == {2, 3}
    # (c) log-side evolution: an upsert whose frame carries a NEW column
    t.upsert(
        spark.createDataFrame(
            [(4, 40, "d", 99)], "k long, ts long, v string, extra long"
        ),
        spark,
    )
    assert t._log_full_schema(spark) is None  # fallback engages
    evolved = t.read(spark)
    assert "extra" in evolved.columns
    assert {
        (r["k"], r["ts"], r["v"], r["extra"]) for r in evolved.collect()
    } == {(1, 10, "a", None), (2, 25, "b2", None), (4, 40, "d", 99)}


def test_exists_fs_probe_edges(spark, tmp_path):
    """exists() decides driver-side on local paths (no Spark
    footer-inference job). Missing dir / dir with only non-parquet
    files => False; any parquet data file (including nested) => True."""
    t = HudiTable(path=str(tmp_path / "t"), record_key="k", precombine="ts")
    assert not t.exists(spark)
    os.makedirs(t.path)
    (tmp_path / "t" / "_SUCCESS").write_text("")
    assert not t.exists(spark)
    df = spark.createDataFrame([(1, 10)], "k long, ts long")
    t.bulk_insert(df)
    assert t.exists(spark)
    tp = HudiTable(
        path=str(tmp_path / "p"),
        record_key="k",
        precombine="ts",
        partition_field="d",
    )
    tp.bulk_insert(spark.createDataFrame([(1, 10, "x")], "k long, ts long, d string"))
    assert tp.exists(spark)  # nested hive-layout files found


def test_exists_ignores_hidden_parquet(spark, tmp_path):
    """A crashed writer's ``_temporary/0/part-0.parquet`` (or any file
    under a hidden dir, or a hidden file) in an otherwise empty root is
    not a table: Spark's file index would read nothing there."""
    t = HudiTable(path=str(tmp_path / "t"), record_key="k", precombine="ts")
    tmp = tmp_path / "t" / "_temporary" / "0"
    os.makedirs(tmp)
    (tmp / "part-0.parquet").write_bytes(b"PAR1")
    os.makedirs(tmp_path / "t" / ".hidden")
    (tmp_path / "t" / ".hidden" / "part-1.parquet").write_bytes(b"PAR1")
    (tmp_path / "t" / "_part-2.parquet").write_bytes(b"PAR1")
    assert not t.exists(spark)
    # a `_`-prefixed PARTITION dir is visible, as it is to Spark
    tp = HudiTable(
        path=str(tmp_path / "p"),
        record_key="k",
        precombine="ts",
        partition_field="_d",
    )
    tp.bulk_insert(
        spark.createDataFrame([(1, 10, "x")], "k long, ts long, _d string")
    )
    assert tp.exists(spark)


def test_log_read_partition_column_takes_merge_read(spark, tmp_path):
    """On a partitioned MERGE_ON_READ table a narrow log read that asks
    for the partition column must not type it from the base: the log's
    directory values are inferred from the log's own directories.
    Here the base partitions look numeric and a log entry's does not;
    an explicit schema typed from the base would lose that value."""
    t = HudiTable(
        path=str(tmp_path / "pm"),
        record_key="k",
        precombine="ts",
        partition_field="p",
        table_type="MERGE_ON_READ",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, 1, "1"), (2, 1, "2")], "k long, ts long, p string"
        )
    )
    t.upsert(
        spark.createDataFrame([(3, 2, "x"), (1, 2, "2")], "k long, ts long, p string")
    )
    got = {
        (r["k"], str(r["p"]))
        for r in t._log_read(
            spark, columns=["k", "p"], base_schema=t._base_schema(spark)
        ).collect()
    }
    assert got == {(3, "x"), (1, "2")}
    # the key-only projection keeps its explicit-schema read
    keys = t._log_read(spark, columns=["k"], base_schema=t._base_schema(spark))
    assert sorted(r["k"] for r in keys.select("k").collect()) == [1, 3]


def test_append_with_narrower_schema_keeps_older_columns(spark, tmp_path):
    """An append whose batch lacks a column the base already has must
    not narrow the schema later reads use: the memo keeps every column
    the files carry, a wider append adds its new columns, an append
    that retypes a column drops the memo, and an instance that did not
    write the genesis memoizes nothing on append."""
    t = HudiTable(path=str(tmp_path / "t"), record_key="k", precombine="ts")
    t.bulk_insert(
        spark.createDataFrame([(1, 1, "a", 10)], "k long, ts long, v string, w long")
    )
    genesis = t._base_schema_memo
    assert genesis is not None
    t.bulk_insert(spark.createDataFrame([(2, 1, "b")], "k long, ts long, v string"))
    assert t._base_schema_memo == genesis
    rows = {r["k"]: (r["v"], r["w"]) for r in t.read(spark).collect()}
    assert rows == {1: ("a", 10), 2: ("b", None)}
    t.bulk_insert(
        spark.createDataFrame([(3, 1, "c", 5)], "k long, ts long, v string, x int")
    )
    assert t._base_schema_memo.fieldNames() == ["k", "ts", "v", "w", "x"]
    rows = {r["k"]: (r["w"], r["x"]) for r in t.read(spark).collect()}
    assert rows == {1: (10, None), 2: (None, None), 3: (None, 5)}
    t.bulk_insert(spark.createDataFrame([(4, 1, 7)], "k long, ts long, v long"))
    assert t._base_schema_memo is None
    u = HudiTable(path=t.path, record_key="k", precombine="ts")
    u.bulk_insert(spark.createDataFrame([(5, 1, "e")], "k long, ts long, v string"))
    assert u._base_schema_memo is None


def test_build_spark_session_codegen_cache_bound():
    """build_spark_session sets the generated-class cache bound, a
    caller's ``conf`` overrides it, and the bound is the one the JVM's
    code generator uses even when its first plan executes on a new
    thread outside a query (a ``df.rdd`` partition probe, as
    operators/dedup.scatter makes): a second pass over more distinct
    classes than Spark's default of 100 compiles nothing.
    Subprocesses: the bound is a static conf, read once per JVM."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    default = """
import sys; sys.path.insert(0, {repo!r})
from concurrent.futures import ThreadPoolExecutor
from hudi_spark_utilities_plus_spark.session import DEFAULT_CONF, build_spark_session
key = "spark.sql.codegen.cache.maxEntries"
spark = build_spark_session(master="local[2]", conf={{"spark.ui.enabled": "false"}})
assert spark.conf.get(key) == DEFAULT_CONF[key], spark.conf.get(key)
assert int(DEFAULT_CONF[key]) >= 300
jvm = spark.sparkContext._jvm
compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
probe = lambda: spark.range(4).selectExpr("id + 1 AS v").rdd.getNumPartitions()
with ThreadPoolExecutor(1) as pool:
    pool.submit(probe).result()
q = lambda i: spark.range(3).selectExpr(f"id * {{i}} + 7 AS v").collect()
for i in range(150):
    q(i)
c0 = compiles.getCount()
for i in range(150):
    q(i)
assert compiles.getCount() == c0, compiles.getCount() - c0
print("OK")
""".format(repo=repo)
    override = """
import sys; sys.path.insert(0, {repo!r})
from hudi_spark_utilities_plus_spark.session import build_spark_session
spark = build_spark_session(
    master="local[1]",
    conf={{"spark.ui.enabled": "false", "spark.sql.codegen.cache.maxEntries": "64"}},
)
assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "64"
print("OK")
""".format(repo=repo)
    for code in (default, override):
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            timeout=300,
        )
        assert out.returncode == 0 and "OK" in out.stdout, (
            out.stdout[-2000:], out.stderr[-2000:]
        )


# ---------------------------------------------------------------------------
# fixed driver cost per query: schema memo, scatter memo, conf lookups
# ---------------------------------------------------------------------------


def _drain_listener(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def test_load_table_schema_memo_matches_inference(spark, sf_dir, tmp_path):
    """The schema load_table serves from its memo equals a fresh
    inference for every fixture table, for a TIMESTAMP(NANOS) file
    whether or not nanosAsLong was already on, and for a binary column
    on both sides of a binaryAsString toggle (the conf is in the key)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hudi_spark_utilities_plus_spark import catalog

    # the sf0.01 fixture set next to the test one, when present
    sf = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if not os.path.isdir(sf):
        sf = sf_dir
    for name in catalog.TABLES:
        catalog.load_table(spark, sf, name)
        hit = catalog.load_table(spark, sf, name)
        fresh = spark.read.parquet(os.path.join(sf, f"{name}.parquet")).schema
        assert hit.schema == fresh, name

    nanos_key = "spark.sql.legacy.parquet.nanosAsLong"
    binary_key = "spark.sql.parquet.binaryAsString"
    saved = {k: spark.conf.get(k) for k in (nanos_key, binary_key)}
    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table({
            "id": pa.array([1], pa.int64()),
            "ts": pa.array([1704164645123456789], pa.timestamp("ns")),
            "raw": pa.array([b"ab"], pa.binary()),
        }),
        path,
    )

    def memo_entry():
        _, footer = catalog._read_footer(path)
        confs = tuple(spark.conf.get(c) for c in catalog._SCHEMA_CONFS)
        return catalog._SCHEMA_MEMO[footer + confs]

    try:
        for nanos_on in ("false", "true"):
            spark.conf.set(nanos_key, nanos_on)
            for _ in range(2):  # miss, then hit
                df = catalog.load_table(spark, str(tmp_path), "t")
                assert memo_entry() == spark.read.parquet(path).schema
                assert [r.ts for r in df.collect()] == [
                    datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
                ]
                assert df.schema["raw"].dataType.typeName() == "binary"
        spark.conf.set(binary_key, "true")
        for _ in range(2):
            df = catalog.load_table(spark, str(tmp_path), "t")
            assert memo_entry() == spark.read.parquet(path).schema
            assert df.schema["raw"].dataType.typeName() == "string"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_load_table_memo_hit_starts_no_job(spark, sf_dir):
    """A second load of an unchanged file takes its schema from the
    memo: no schema-inference job."""
    from hudi_spark_utilities_plus_spark.catalog import load_table

    sc = spark.sparkContext
    load_table(spark, sf_dir, "orders")
    group = "load-table-memo-hit"
    sc.setJobGroup(group, "second load")
    try:
        load_table(spark, sf_dir, "orders")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _drain_listener(spark)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_load_table_reinfers_rewritten_file(spark, tmp_path):
    """A file rewritten at the same path with another schema has
    another footer key, so its schema is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hudi_spark_utilities_plus_spark.catalog import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    assert load_table(spark, str(tmp_path), "t").count() == 2
    pq.write_table(
        pa.table({"a": pa.array(["x"]), "b": pa.array([1.5])}), path
    )
    df = load_table(spark, str(tmp_path), "t")
    assert [(f.name, f.dataType.typeName()) for f in df.schema] == [
        ("a", "string"), ("b", "double"),
    ]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_scatter_memo_skips_rdd_on_second_call(spark, sf_dir, monkeypatch):
    """scatter()'s memo key builds on this Spark (its split-size conf
    reads must not raise), and a second call over the same file makes
    no DataFrame→RDD conversion."""
    from hudi_spark_utilities_plus_spark.catalog import load_table
    from hudi_spark_utilities_plus_spark.operators.dedup import (
        _scatter_key,
        scatter,
    )

    target = spark.sparkContext.defaultParallelism
    first = load_table(spark, sf_dir, "documents")
    assert _scatter_key(first, target) is not None
    scatter(first)
    cls = type(first)
    orig = cls.rdd
    calls = []

    def counting(self):
        calls.append(1)
        return orig.fget(self)

    monkeypatch.setattr(cls, "rdd", property(counting))
    again = load_table(spark, sf_dir, "documents")
    assert _scatter_key(again, target) == _scatter_key(first, target)
    out = scatter(again)
    assert calls == []
    assert "RoundRobinPartitioning" in out._jdf.queryExecution().executedPlan().toString()
    assert _scatter_key(spark.range(3), target) is None


def test_conf_reads_do_not_copy_sparkconf(spark, monkeypatch):
    """tune_runtime (run before every query of an external session) and
    materialize's cleaner-conf check look confs up on the live
    SparkConf instead of copying it with getConf()."""
    from hudi_spark_utilities_plus_spark.operators.materialize import (
        _reliable_cleanup_enabled,
    )
    from hudi_spark_utilities_plus_spark.session import tune_runtime

    sc = spark.sparkContext
    before = spark.conf.get("spark.sql.shuffle.partitions")
    calls = []
    monkeypatch.setattr(
        type(sc), "getConf", lambda self: calls.append(1) or None
    )
    tune_runtime(spark)
    assert _reliable_cleanup_enabled(sc) is False
    assert calls == []
    # the fixture's startup value is explicit, so it is kept
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_build_spark_session_keeps_startup_shuffle_conf():
    """build_spark_session over a context whose startup conf sets
    spark.sql.shuffle.partitions (even to Spark's default 200) keeps
    that value, as tune_runtime does. Subprocess: the shared fixture
    already started its context."""
    import subprocess
    import sys

    code = """
import sys; sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from hudi_spark_utilities_plus_spark.session import build_spark_session
SparkSession.builder.master("local[3]").appName("ks-t").config(
    "spark.ui.enabled", "false").config(
    "spark.sql.shuffle.partitions", "200").getOrCreate()
s = build_spark_session(app_name="ks-t", master="local[3]",
                        conf={{"spark.ui.enabled": "false"}})
assert s.conf.get("spark.sql.shuffle.partitions") == "200", \\
    s.conf.get("spark.sql.shuffle.partitions")
print("OK")
""".format(repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0 and "OK" in out.stdout, (
        out.stdout[-2000:], out.stderr[-2000:]
    )


def test_job_ledger_reports_the_fastest_reps_counts():
    """A query's ledger record takes its job counts from the fastest
    rep, lists every rep, and flags reps whose counts disagree; here the
    last rep whose count differs from its predecessor's (8/4) is not the
    fastest (7/4)."""
    from tools.job_ledger import summarize_reps

    reps = [
        (0.50, 0.40, 7, 4, 31),
        (0.20, 0.30, 7, 4, 0),
        (0.60, 0.30, 8, 4, 0),
        (0.70, 0.30, 7, 5, 0),
    ]
    rec = summarize_reps(reps)
    assert rec["best"] == {
        "build_s": 0.20, "action_s": 0.30, "build_jobs": 7,
        "action_jobs": 4, "compiles": 0,
    }
    assert rec["reps"] == [list(r) for r in reps]
    assert rec["counts_vary"] is True
    steady = summarize_reps([(0.3, 0.2, 2, 4, 5), (0.2, 0.2, 2, 4, 0)])
    assert steady["best"]["build_s"] == 0.2
    assert "counts_vary" not in steady
