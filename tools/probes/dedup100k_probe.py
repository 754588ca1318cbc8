"""100k-doc near-dedup probe: inflate the sf0.1 documents table to 100k
docs (mutated copies, so the near-dup structure is known), run
ngram_jaccard_pairs at threshold 0.8 twice, and print the pair count
and wall of each run. The pair count is the regression signal; the
wall tracks host load.

Band (local[4] through build_spark_session): 884,516 pairs in both
runs, walls 53-55 s.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from pyspark.sql import functions as F

from bench import TOOL_CONF
from hudi_spark_utilities_plus_spark.operators.dedup import ngram_jaccard_pairs
from hudi_spark_utilities_plus_spark.session import build_spark_session

spark = build_spark_session(app_name="dedup100k-probe", conf=TOOL_CONF)
docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select("doc_id", "text")
n0 = docs.count()
reps = 100_000 // n0
inflated = docs
for k in range(1, reps):
    mut = docs.select(
        (F.col("doc_id") + k * 1_000_000).alias("doc_id"),
        # every 3rd copy mutates the tail (near-dup), others get fresh text
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(f" tail{k}")))
        .otherwise(F.concat(F.lit(f"variant {k} prefix "), F.reverse(F.col("text"))))
        .alias("text"),
    )
    inflated = inflated.unionByName(mut)
inflated = inflated.repartition(32).persist()
total = inflated.count()
for run in (1, 2):
    t0 = time.time()
    pairs = ngram_jaccard_pairs(inflated, "text", "doc_id", threshold=0.8)
    n_pairs = pairs.count()
    print(f"run{run}: docs={total} pairs={n_pairs} wall={time.time()-t0:.1f}s")
spark.stop()
