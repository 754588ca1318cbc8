"""Point-read file-pruning probe on a 512-file, 8M-row manifest table,
COW and MOR (MOR with a live delta log): files opened, Spark jobs and
latency of a one-key read(keys=), against a full read + filter of the
same key.

Band (local[4] through build_spark_session): base_files_scanned=1 of
512 for COW and for MOR; the point read runs 8 jobs (COW) / 10 (MOR)
in 4.1 s / 2.8 s, against 4.9 / 5.1 s for the full read + filter.
"""
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from pyspark.sql import functions as F

from bench import TOOL_CONF
from hudi_spark_utilities_plus_spark.session import build_spark_session
from perfbench.sparkstats import SparkCounters

spark = build_spark_session(app_name="pointread-probe", conf=TOOL_CONF)
counters = SparkCounters(spark)
from hudi_spark_utilities_plus_spark.lake import HudiTable

N_FILES = 512
ROWS = 8_000_000

for ttype in ("COPY_ON_WRITE", "MERGE_ON_READ"):
    path = tempfile.mkdtemp(prefix=f"prp_{ttype[:3]}_") + "/t"
    t = HudiTable(
        path=path,
        record_key="id",
        precombine="ver",
        table_type=ttype,
        options={"hoodie.commit.mode": "manifest"},
    )
    df = spark.range(ROWS).select(
        F.col("id"),
        F.lit(1).alias("ver"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    t.bulk_insert(df.repartitionByRange(N_FILES, "id"))
    if ttype == "MERGE_ON_READ":
        # a live delta log: the point read must merge it over the pruned base
        t.upsert(
            spark.createDataFrame(
                [(ROWS // 2, 2, "updated")], "id long, ver int, payload string"
            )
        )
    n_manifest = len(t._manifest().files)
    probe = spark.createDataFrame([(ROWS // 2,)], "id long")

    counters.mark()
    t0 = time.time()
    pt = t.read(spark, keys=probe)
    rows = pt.collect()
    t_point = time.time() - t0
    point_jobs = int(counters.since_mark()["jobs"])
    base_scanned = len(
        {
            f.replace("file://", "").replace("file:", "")
            for f in pt.inputFiles()
        }
        & set(t._manifest().files)
    )

    t0 = time.time()
    full = t.read(spark).where(F.col("id") == ROWS // 2).collect()
    t_full = time.time() - t0
    assert [r["payload"] for r in rows] == [r["payload"] for r in full]
    print(
        f"{ttype}: manifest_files={n_manifest} point_read: "
        f"base_files_scanned={base_scanned} jobs={point_jobs} "
        f"t={t_point:.2f}s | "
        f"full_read+filter: t={t_full:.2f}s | speedup {t_full / t_point:.1f}x"
    )
spark.stop()
