"""Partitioned-manifest dynamic-overwrite probe: 2M rows across 64
partition values on a manifest genesis hash-clustered into 42 buckets
— a single-partition insert_overwrite must CARRY the partition-disjoint
files by reference (same path, same mtime), drop/rewrite only the
envelope-overlapping rest, and the whole operation's wall time must
track the touched files, not the table.

Band (local[4] through build_spark_session): the hash-clustered
genesis writes 33 files (42 buckets, 64 partition values: 9 buckets
stay empty), 27/33 are carried by reference, 4.9 s end to end. The
same probe on 8 local cores with a plain SparkSession builder also writes
33 files and carries 27.
"""
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from pyspark.sql import functions as F

from bench import TOOL_CONF
from hudi_spark_utilities_plus_spark.session import build_spark_session

spark = build_spark_session(app_name="poverwrite-probe", conf=TOOL_CONF)
from hudi_spark_utilities_plus_spark.lake import HudiTable

ROWS, PARTS, FILES = 2_000_000, 64, 42
path = tempfile.mkdtemp(prefix="powp_") + "/t"
t = HudiTable(
    path=path,
    record_key="id",
    precombine="ver",
    partition_field="p",
    options={"hoodie.commit.mode": "manifest"},
)
df = spark.range(ROWS).select(
    F.col("id"),
    F.lit(0).alias("ver"),
    (F.col("id") % PARTS).cast("int").alias("p"),
    F.sha1(F.col("id").cast("string")).alias("v"),
)
# hash-clustered: every file MIXES partitions except where hashing
# happens to isolate one — the realistic worst-ish case for the
# envelope classifier (range-clustered layouts carry even more)
t.bulk_insert(df.repartition(FILES, "p"))
live = t._manifest().files
print(f"genesis: {len(live)} files")
batch = (
    df.filter(F.col("p") == 7)
    .withColumn("ver", F.lit(1))
    .withColumn("v", F.lit("overwritten"))
)
mtimes = {f: os.path.getmtime(f) for f in live}
s = time.time()
t.insert_overwrite(batch, spark)
dt = round(time.time() - s, 2)
after = set(t._manifest().files)
carried = [f for f in live if f in after and os.path.getmtime(f) == mtimes[f]]
print(
    f"single-partition overwrite: carried {len(carried)}/{len(live)} "
    f"files by reference, {dt}s"
)
n7 = t.read(spark, partitions=[7]).count()
expect = batch.count()
assert n7 == expect, (n7, expect)
assert t.read(spark).count() == ROWS
print(f"state check ok: partition 7 rows={n7}")
spark.stop()
