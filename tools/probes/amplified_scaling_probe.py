"""Amplified multi-task scaling corpus.

Every sf0.1 fixture parquet is a SINGLE file with ONE row group, so
every scan is one task and walls at different core counts sit at ~1x
of each other regardless of code quality. This probe materializes a 20x
corpus whose scans have real parallelism — 32 files per table, ~1 MB
parquet row groups — then the bench can be pointed at it:

    python tools/probes/amplified_scaling_probe.py build [out_dir]
    SPARK_GRAFT_SF_DIR=<out_dir> SPARK_GRAFT_CPUS=32 \
        SPARK_GRAFT_ONLY=q1,q2 python bench.py

bench.py warms up on an sf0.001 directory next to the corpus, else on
the corpus itself; link the sf0.001 fixtures beside out_dir to keep the
warmup small.

Amplification is replica-structure-preserving, not copy-paste:

- documents: each replica k rewrites every inter-word gap to
  " rk<k> " — replica-k shingles (word n-grams AND char-grid windows)
  share nothing with replica-j ones, so the near-dup pair structure
  scales ~linearly with replicas instead of quadratically exploding
  on cross-replica exact copies. doc_id shifts by k * max_id.
- embeddings: replica k adds a deterministic per-replica offset to two
  coordinates (breaks cross-replica cosine alignment); vec_id shifts.
- orders: o_orderkey shifts by k * (max key); other columns verbatim
  (partition structure per replica identical — the overwrite scenario
  scales in file count and bytes).

Everything is derived deterministically from the sf0.1 fixtures; the
output dir is a PROBE artifact (never read by bench.py unless
explicitly pointed at it, never consulted by any query path).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from pyspark.sql import functions as F

from bench import TOOL_CONF
from hudi_spark_utilities_plus_spark.session import build_spark_session

REPS = int(os.environ.get("AMP_REPS", "20"))
SRC = os.environ.get("AMP_SRC", "/root/testdata/sf0.1")
FILES_PER_TABLE = 32
PASSTHROUGH = ["region", "nation", "customer", "supplier", "part",
               "lineitem", "events"]


def build(out_dir: str) -> None:
    spark = build_spark_session(
        app_name="amplified-scaling-probe",
        conf={
            **TOOL_CONF,
            # small row groups so even one file splits into many units
            "spark.hadoop.parquet.block.size": str(1 << 20),
            "spark.sql.legacy.parquet.nanosAsLong": "true",
        },
    )
    os.makedirs(out_dir, exist_ok=True)

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    max_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = []
    for k in range(REPS):
        mutated = F.regexp_replace(F.col("text"), r"\s+", f" rk{k} ")
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * max_doc)).alias("doc_id"),
                F.when(F.lit(k) == 0, F.col("text")).otherwise(mutated).alias("text"),
                "lang", "source", "n_chars",
            )
        )
    amp_docs = parts[0]
    for p in parts[1:]:
        amp_docs = amp_docs.unionByName(p)
    amp_docs.repartition(FILES_PER_TABLE).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    max_vec = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    parts = []
    for k in range(REPS):
        bump = F.transform(
            "embedding",
            lambda x, i: F.when(
                (i + F.lit(k * 37)) % 11 < 2, x + F.lit(0.37 + 0.01 * k)
            ).otherwise(x),
        )
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * max_vec)).alias("vec_id"),
                F.when(F.lit(k) == 0, F.col("embedding")).otherwise(bump).alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            )
        )
    amp_emb = parts[0]
    for p in parts[1:]:
        amp_emb = amp_emb.unionByName(p)
    amp_emb.repartition(FILES_PER_TABLE).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    max_key = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    parts = [
        orders.select(
            (F.col("o_orderkey") + F.lit(k * max_key)).alias("o_orderkey"),
            *[c for c in orders.columns if c != "o_orderkey"],
        )
        for k in range(REPS)
    ]
    amp_orders = parts[0]
    for p in parts[1:]:
        amp_orders = amp_orders.unionByName(p)
    amp_orders.repartition(FILES_PER_TABLE).write.mode("overwrite").parquet(
        f"{out_dir}/orders.parquet"
    )

    for t in PASSTHROUGH:
        dst = f"{out_dir}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)
    for t in ["documents", "embeddings", "orders"]:
        n = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
        files = [
            f for f in os.listdir(f"{out_dir}/{t}.parquet") if f.endswith(".parquet")
        ]
        print(f"{t}: {n} rows in {len(files)} files")
    print("amplified corpus at", out_dir)


if __name__ == "__main__":
    build(sys.argv[2] if len(sys.argv) > 2 else "/tmp/r17/ampsf")
