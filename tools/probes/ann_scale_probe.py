"""ANN scale probe: inflate the sf0.1 embeddings table (2,000 x 64-dim)
to ~512k vectors via deterministic element-wise jitter, then race the
top-k engines over the same 32 queries: exact brute force (the
baseline), one-shot IVF, a persisted IVF index, banded-hyperplane LSH,
product quantization, and a 100k-query PQ batch.

Signals, in order of importance:
  1. recall@10 of the approximate paths vs the exact baseline
     (candidate-generation soundness: a banding or probing bug shows up
     here first);
  2. wall time at 256x the bench corpus (candidate generation must not
     track the corpus the way brute force does);
  3. determinism: row counts and recall exact across re-runs (no rand()
     anywhere; the jitter is sin() over ids).

Two choices keep the LSH leg below brute force. `_band_keys` computes
the hyperplane signatures as one Arrow-vectorized matmul, bit-exact
against `_band_keys_spec`, because Catalyst higher-order functions are
interpreted (CodegenFallback, ~520 us per vector against ~1.4 us for
the same flops in codegen). And `band_bits` scales with the corpus
(clamp(ceil(log2(n/16)), 6, 20)), because 6-bit band keys (keyspace 64)
collide on nearly every pair at 512k vectors.

Band (local[4] through build_spark_session, 32 queries, k=10; every
leg returns 320 rows at recall@10 = 1.000): brute 64 s; one-shot IVF
(n_clusters=32, n_probe=4) 299 s, k-means training dominating;
IVF index build 307 s, warm query batches 9.6-11.8 s; LSH at the full
512k corpus 18 s; PQ build 1,587 s, encode 6 s, query reps 21-22 s at
shortlist=1024; PQ bulk (100k queries, shortlist 64) build+encode
266 s, query 639 s, blocked_path=True. On 32 local cores with a plain
SparkSession builder the same legs took brute 9.5-18 s, IVF 23-31 s,
index build 28-30 s and queries 1.9-6 s, LSH 2.5-6 s, PQ build
60-110 s, encode 8-16 s and queries 4-7 s, PQ bulk 90-100 s, at the
same rows and recall.

ANN_PROBE_LSH_CORPUS runs the LSH leg on a smaller corpus and prints
the brute wall at that corpus alongside; ANN_PROBE_BULK_Q=0 skips the
bulk leg.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from pyspark.sql import functions as F

from bench import TOOL_CONF
from hudi_spark_utilities_plus_spark.session import build_spark_session

spark = build_spark_session(app_name="ann-scale-probe", conf=TOOL_CONF)
from hudi_spark_utilities_plus_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_topk_bruteforce,
    ivf_topk,
)

base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").select(
    "vec_id", "embedding"
)
n0 = base.count()
K = 10
LSH_CORPUS = int(os.environ.get("ANN_PROBE_LSH_CORPUS", "512000"))


def inflate(target_rows):
    copies = spark.range(max(target_rows // n0, 1)).withColumnRenamed("id", "c")
    return (
        base.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("c") * 1_000_000).alias("vec_id"),
            # deterministic per-copy, per-position jitter: direction
            # perturbed, no rand() (re-runs are exact)
            F.transform(
                "embedding",
                lambda x, i: x
                + F.lit(0.02)
                * F.sin(F.col("vec_id") * 131 + F.col("c") * 17 + i),
            ).alias("embedding"),
        )
        .repartition(32)
        .persist()
    )


queries = base.filter(F.col("vec_id") < 32).persist()
nq = queries.count()

corpus = inflate(512_000)
total = corpus.count()

t0 = time.time()
truth = set(
    (r.query_id, r.neighbor_id)
    for r in cosine_topk_bruteforce(corpus, queries, k=K)
    .select("query_id", "neighbor_id")
    .collect()
)
print(f"corpus={total} queries={nq} k={K}")
print(f"brute: rows={len(truth)} wall={time.time() - t0:.1f}s")

t0 = time.time()
ivf = set(
    (r.query_id, r.neighbor_id)
    for r in ivf_topk(corpus, queries, k=K, n_clusters=32, n_probe=4)
    .select("query_id", "neighbor_id")
    .collect()
)
print(
    f"ivf@512k: rows={len(ivf)} wall={time.time() - t0:.1f}s "
    f"recall@{K}={len(ivf & truth) / len(truth):.3f}"
)

# persisted IVF index: training paid once at build, each query batch
# partition-prunes to its probed clusters (the one-shot ivf_topk
# retrains per call)
import shutil as _shutil

from hudi_spark_utilities_plus_spark.operators.similarity import (
    build_ivf_index,
    ivf_index_topk,
)

_idx = "/tmp/probe/ivf_index_512k"
_shutil.rmtree(_idx, ignore_errors=True)
t0 = time.time()
build_ivf_index(corpus, _idx, n_clusters=32, kmeans_iters=2)
print(f"ivf_index build@512k: wall={time.time() - t0:.1f}s")
for rep in (1, 2):
    t0 = time.time()
    idxq = set(
        (r.query_id, r.neighbor_id)
        for r in ivf_index_topk(spark, _idx, queries, k=K, n_probe=4)
        .select("query_id", "neighbor_id")
        .collect()
    )
    print(
        f"ivf_index query rep{rep}: rows={len(idxq)} "
        f"wall={time.time() - t0:.1f}s "
        f"recall@{K}={len(idxq & truth) / len(truth):.3f}"
    )

lsh_corpus = corpus if LSH_CORPUS >= total else inflate(LSH_CORPUS)
lsh_total = lsh_corpus.count()
t0 = time.time()
lsh_truth = truth if lsh_corpus is corpus else set(
    (r.query_id, r.neighbor_id)
    for r in cosine_topk_bruteforce(lsh_corpus, queries, k=K)
    .select("query_id", "neighbor_id")
    .collect()
)
if lsh_corpus is not corpus:
    # the brute wall at the corpus the LSH leg actually uses, so the
    # LSH-vs-brute ratio below is measurable
    print(f"brute@{lsh_total}: rows={len(lsh_truth)} wall={time.time() - t0:.1f}s")
t0 = time.time()
lsh = set(
    (r.query_id, r.neighbor_id)
    for r in ann_topk_lsh(lsh_corpus, queries, k=K)
    .select("query_id", "neighbor_id")
    .collect()
)
print(
    f"lsh@{lsh_total}: rows={len(lsh)} wall={time.time() - t0:.1f}s "
    f"recall@{K}={len(lsh & lsh_truth) / len(lsh_truth):.3f}"
)

# PQ: codebook + encode are train-once artifacts; the query is an ADC
# table-gather shortlist + exact rerank
from hudi_spark_utilities_plus_spark.operators.similarity import (
    build_pq_codebook,
    pq_encode,
    pq_topk,
)

t0 = time.time()
_cb = build_pq_codebook(corpus, m=8, bits=8, kmeans_iters=2)
print(f"pq build@512k: wall={time.time() - t0:.1f}s")
t0 = time.time()
_enc = pq_encode(corpus, _cb).persist()
_enc.count()
print(f"pq encode@512k: wall={time.time() - t0:.1f}s")
for rep in (1, 2):
    t0 = time.time()
    pq = set(
        (r.query_id, r.neighbor_id)
        for r in pq_topk(
            corpus, queries, k=K, codebook=_cb, encoded=_enc, shortlist=1024
        )
        .select("query_id", "neighbor_id")
        .collect()
    )
    print(
        f"pq query rep{rep}: rows={len(pq)} wall={time.time() - t0:.1f}s "
        f"recall@{K}={len(pq & truth) / len(truth):.3f}"
    )

# PQ bulk: a 100k-query batch — the corpus queries itself, the
# self-join shape of corpus-wide near-neighbor mining — driven through
# pq_topk's blocked cogroup engine (driver_query_limit exceeded), which
# must (a) never collect the query batch (plan pinned:
# FlatMapCoGroupsInPandas present) and (b) return brute-truth recall on
# the 32 sampled probe queries embedded in the batch; ~10^10 scored
# pairs go through the Arrow cells.
BULK_Q = int(os.environ.get("ANN_PROBE_BULK_Q", "100000"))
if BULK_Q > 0:
    corpus_bulk = inflate(BULK_Q)
    nb = corpus_bulk.count()
    # truth for the 32 SAMPLED queries, taken from the corpus itself
    # (the bulk run queries with the jittered corpus rows, so the
    # truth must use those same vectors, not the unjittered base)
    sample_q = corpus_bulk.filter(F.col("vec_id") < 32)
    t0 = time.time()
    truth_bulk = set(
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(corpus_bulk, sample_q, k=K)
        .select("query_id", "neighbor_id")
        .collect()
    )
    print(f"brute@{nb} (bulk-leg truth): wall={time.time() - t0:.1f}s")
    t0 = time.time()
    cbb = build_pq_codebook(corpus_bulk, m=8, bits=8, kmeans_iters=2)
    encb = pq_encode(corpus_bulk, cbb).persist()
    encb.count()
    print(f"pq bulk build+encode@{nb}: wall={time.time() - t0:.1f}s")
    t0 = time.time()
    bulk = pq_topk(
        corpus_bulk,
        corpus_bulk,  # EVERY corpus vector is a query — 100k batch
        k=K,
        codebook=cbb,
        encoded=encb,
        shortlist=64,
    )
    plan = bulk._jdf.queryExecution().executedPlan().toString()
    sampled = set(
        (r.query_id, r.neighbor_id)
        for r in bulk.filter(F.col("query_id") < 32)
        .select("query_id", "neighbor_id")
        .collect()
    )
    print(
        f"pq bulk query@{nb}x{nb}: sampled_rows={len(sampled)} "
        f"wall={time.time() - t0:.1f}s "
        f"recall@{K}={len(sampled & truth_bulk) / len(truth_bulk):.3f} "
        f"blocked_path={'FlatMapCoGroupsInPandas' in plan}"
    )
spark.stop()
