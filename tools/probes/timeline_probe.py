"""120-commit MOR upsert probe: 5-row batches with inline compaction OFF
vs ON; prints the per-20-commit bucket medians of the upsert wall and
the cost of one read after. With compaction off, 120 seq claims pile up
in the claim dir, so flat bucket medians show that allocation (one
claim LIST + one conditional put per commit) adds no per-commit drift.

    python tools/probes/timeline_probe.py

Band (local[4] through build_spark_session): rows=1000 after both
runs; bucket medians 0.20-0.33 s with compaction off and 0.17-0.24 s
with it on, flat after the first bucket; the read after 120
uncompacted commits takes 2.9 s, after compaction 0.13 s.
"""
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from bench import TOOL_CONF
from hudi_spark_utilities_plus_spark.lake import HudiTable
from hudi_spark_utilities_plus_spark.session import build_spark_session

spark = build_spark_session(app_name="timeline-probe", conf=TOOL_CONF)


def run(tag, options):
    p = f"/tmp/probe/t_{tag}"
    for d in (p, p + "__hudi_log", p + "__hudi_seqclaim"):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(p + "__hudi_seqbase"):
        os.remove(p + "__hudi_seqbase")
    t = HudiTable(path=p, record_key="id", precombine="ver",
                  table_type="MERGE_ON_READ", options=options)
    t.bulk_insert(spark.range(1000).selectExpr("id", "0 as ver", "uuid() as v"))
    times = []
    for i in range(120):
        df = spark.range(i * 5, i * 5 + 5).selectExpr(f"id % 1000 as id", f"{i+1} as ver", "uuid() as v")
        s = time.time()
        t.upsert(df)
        times.append(time.time() - s)
    buckets = [round(statistics.median(times[k:k+20]), 2) for k in range(0, 120, 20)]
    s = time.time()
    n = t.read(spark).count()
    rd = round(time.time() - s, 2)
    print(f"{tag}: bucket-medians={buckets} read_after={rd}s rows={n}")

run("compaction_off", {})
run("compaction_on", {"hoodie.compact.inline": "true"})
spark.stop()
