"""Partition-scoped read probe: 8M rows across 64 partition values on a
128-file MOR manifest genesis with a live delta log —
read(partitions=[7]) must open only the files the soundness guards
provably need, beat the full-scan+filter baseline, and return exactly
the partition's merged rows.

Phase A: partition values CORRELATED with the record-key ranges
(p = id // (ROWS/PARTS) — the date-partitioned-ingest shape),
range-clustered genesis. Key envelopes are disjoint, so the manifest
proves key_unique at genesis, the base-duplicate guard re-admits
nothing, and the log guard is envelope-tight.

Phase B: partition values HASH-SCATTERED against the keys
(p = id % PARTS), so every file's key envelope spans the table and
envelope disjointness can't prove uniqueness. The loader opts into
hoodie.bulkinsert.verify.unique.keys (one key-column aggregate at
load). With the claim, a scoped read under a live log pays only the
log guard's envelope-overlap keeps; with the claim STRIPPED (the layout
of a manifest written without it) the base-duplicate guard soundly
degrades the same read to all 128 files.

Band (local[4] through build_spark_session): A opens 3/128 files
(6.4 s, against 9.4 s for full-scan+filter); B with the claim opens
10/128 (3.0 s; the assert allows 16), without it 128/128 (8.9 s);
every read returns 125,000 rows. A's 3/128 is also the figure taken on
8 local cores with a plain SparkSession builder.
"""
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from pyspark.sql import functions as F

from bench import TOOL_CONF
from hudi_spark_utilities_plus_spark.session import build_spark_session

spark = build_spark_session(app_name="psread-probe", conf=TOOL_CONF)
from hudi_spark_utilities_plus_spark.lake import HudiTable

ROWS, PARTS, FILES = 8_000_000, 64, 128


def build(tag, pcol, log_key, **opts):
    path = tempfile.mkdtemp(prefix=f"psrp_{tag}_") + "/t"
    t = HudiTable(
        path=path,
        record_key="id",
        precombine="ver",
        partition_field="p",
        table_type="MERGE_ON_READ",
        options={"hoodie.commit.mode": "manifest", **opts},
    )
    df = spark.range(ROWS).select(
        F.col("id"),
        F.lit(0).alias("ver"),
        pcol.cast("int").alias("p"),
        F.sha1(F.col("id").cast("string")).alias("v"),
    )
    t.bulk_insert(df.repartitionByRange(FILES, "p", "id"))
    # a live log so the merging path (and both guards) actually runs;
    # log_key is chosen per layout so the key STAYS in partition 7
    # (a moved key changes the partition's row count)
    t.upsert(
        spark.createDataFrame(
            [(log_key, 1, 7, "logged")], "id long, ver int, p int, v string"
        )
    )
    return t


def scoped(t):
    base = set(t._manifest().files)
    s = time.time()
    d = t.read(spark, partitions=[7])
    n = d.count()
    dt = round(time.time() - s, 2)
    opened = {
        f.replace("file://", "").replace("file:", "") for f in d.inputFiles()
    } & base
    return len(opened), len(base), dt, n


# ---- Phase A: correlated layout ----
ta = build("corr", F.col("id") / (ROWS // PARTS), 7 * (ROWS // PARTS))
assert ta._manifest().key_unique, "disjoint envelopes should prove it"
na, nb, dta, rows_a = scoped(ta)
s = time.time()
n_full = ta.read(spark).filter(F.col("p") == 7).count()
dt_full = round(time.time() - s, 2)
print(
    f"A correlated: read(partitions=[7]) {na}/{nb} base files {dta}s "
    f"vs full-scan+filter {dt_full}s; rows={rows_a}"
)
assert rows_a == n_full == ROWS // PARTS
assert na <= 4, f"pruning regressed: opened {na} files"

# ---- Phase B: scattered layout + load-time verification ----
tb = build(
    "scat",
    F.col("id") % PARTS,
    7,  # 7 % 64 == 7: stays in partition 7
    **{"hoodie.bulkinsert.verify.unique.keys": "true"},
)
assert tb._manifest().key_unique, "load-time verification should claim it"
nc, nd, dtc, rows_c = scoped(tb)
print(
    f"B scattered+claim: {nc}/{nd} base files {dtc}s; rows={rows_c} "
    "(extra opens = the log-guard's envelope keeps, inherent to "
    "scattered keys)"
)
assert rows_c == ROWS // PARTS
assert nc <= 16, f"claimed-unique pruning regressed: opened {nc} files"
# strip the claim: the base-duplicate guard must soundly degrade
import json

mdir = tb._manifest_dir
latest = sorted(os.listdir(mdir))[-1]
with open(os.path.join(mdir, latest)) as fh:
    m = json.load(fh)
m.pop("key_unique", None)
with open(os.path.join(mdir, latest), "w") as fh:
    json.dump(m, fh)
ne, nf, dte, rows_e = scoped(tb)
print(f"B scattered no-claim: {ne}/{nf} base files {dte}s; rows={rows_e}")
assert rows_e == ROWS // PARTS
assert ne == nf, "without the claim every overlapping file must stay"
spark.stop()
