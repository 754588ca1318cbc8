"""Incremental-read cost probe: on a LARGE manifest MOR table with a
long post-compaction log, an incremental pull after a small delta must
cost O(delta), not O(table) — the lake layer's streaming-consumer
contract at 100 TB.

Setup: 4M-row / 256-file manifest MOR genesis (range-clustered →
key_unique proven), then 40 small upsert commits (500 rows each, keys
clustered so file pruning has something to prune). Cursor taken after
commit 30; the incremental pull covers commits 31-40 (5,000 changed
keys out of 4M).

Signals:
  1. correctness: the pull returns exactly the keys changed after the
     cursor, each at its newest version (checked by value);
  2. cost: base_files_scanned by the incremental pull (inputFiles ∩
     manifest) must track the DELTA's key envelopes, not the table —
     the same files-opened signal probe_pointread pins. Wall is
     secondary: at 4M rows both paths are dominated by fixed overhead,
     as is probe_pointread's point read;
  3. the cursor-horizon contract: a cursor predating compaction
     raises with the resync recipe (pinned by a unit test elsewhere;
     probed here only as the happy path).

Band (local[4] through build_spark_session): 2/256 base files opened
by the 5k-key incremental pull, keys exact, versions newest; snapshot
10.1 s / incremental 7.5 s wall (3.6 / 3.7 s on 8 local cores with a plain
SparkSession builder).
"""
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from bench import TOOL_CONF
from hudi_spark_utilities_plus_spark.session import build_spark_session

spark = build_spark_session(app_name="incremental-read-probe", conf=TOOL_CONF)
from hudi_spark_utilities_plus_spark.lake import HudiTable

ROWS, FILES, COMMITS, BATCH = 4_000_000, 256, 40, 500

path = tempfile.mkdtemp(prefix="incr_") + "/t"
t = HudiTable(
    path=path,
    record_key="id",
    precombine="ver",
    table_type="MERGE_ON_READ",
    options={
        "hoodie.commit.mode": "manifest",
        # keep the whole history in the log: the probe measures the
        # incremental path, not compaction's folding
        "hoodie.compact.inline": "false",
    },
)
genesis = (
    spark.range(ROWS)
    .repartitionByRange(FILES, "id")
    .selectExpr("id", "0 as ver", "id * 7 as payload")
)
t.bulk_insert(genesis)

cursor = None
for i in range(1, COMMITS + 1):
    lo = (i - 1) * BATCH
    t.upsert(
        spark.range(lo, lo + BATCH).selectExpr("id", f"{i} as ver", "id as payload")
    )
    if i == 30:
        cursor = t.latest_commit_seq(spark)

t0 = time.time()
full = t.read(spark)
n_full = full.count()
t_full = time.time() - t0

t0 = time.time()
inc = t.read_incremental(spark, since_seq=cursor)
n_inc = inc.count()
t_inc = time.time() - t0
# fresh (uncached) frame for inputFiles: a persisted plan reports no
# scan inputs
base_scanned = len(
    {f.replace("file://", "").replace("file:", "") for f in inc.inputFiles()}
    & set(t._manifest().files)
)
inc = inc.persist()

# exactness: commits 31..40 touched keys [15000, 20000); every returned
# row must carry its newest version
expect_keys = set(range(30 * BATCH, 40 * BATCH))
got = {r["id"]: r["ver"] for r in inc.select("id", "ver").collect()}
keys_ok = set(got) == expect_keys
vers_ok = all(ver == (k // BATCH) + 1 for k, ver in got.items())
print(
    f"rows={ROWS} commits={COMMITS} | snapshot: {n_full} rows {t_full:.1f}s | "
    f"incremental(after c30): {n_inc} rows {t_inc:.1f}s, "
    f"base_files_scanned={base_scanned}/{len(t._manifest().files)} | "
    f"keys_exact={keys_ok} versions_newest={vers_ok}",
    flush=True,
)
spark.stop()
