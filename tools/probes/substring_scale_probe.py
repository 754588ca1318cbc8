"""Substring-dedup probe: inflate the sf0.1 documents to
SUBSTRING_PROBE_DOCS docs (default 100k) with KNOWN duplicated-span
structure — every 3rd base doc's copies share the full original body
(tail-mutated copies), so the grid detector must find large cross-copy
regions — run duplicated_spans (L=64, s=32), time it, and pin
determinism: span count and duplicated-char total must be EXACT across
back-to-back runs (the wall tracks host load; the counts are the
regression signal).

Second leg, HOT-KEY SKEW: plant one 64-char block at position 0 of
EVERY document — a single shingle key owned by the whole corpus, the
boilerplate-header shape 100 TB corpora actually have. The two-stage
distinct-doc aggregation must stay partial-aggregable (no single-
reducer funnel), and every doc must report a span starting at 0.

Third leg, REFINE: refine_span_bounds over the same corpus — island
count must EQUAL the detect leg's, refined bounds must contain the grid
bounds with extensions < stride, and counts must be exact across runs.

Bands (local[4] through build_spark_session):
  default leg @100k — exactly 93,142 spans / 26,437,664 dup chars
  (~900k grid shingles), walls 7.5-13.6 s per run;
  skew leg @100k — exactly 100,000 docs with a span at 0 (149,246
  spans), wall 7.6 s — the hot key must NOT blow the wall up;
  refine leg @100k — 93,142 islands, exact_chars 29,224,470 (= grid +
  10.5% recovered boundary chars), violations 0, walls 12.6-20.8 s.
The counts are the same as on 32 local cores with a plain SparkSession
builder, where the walls were 2.5-7 s (default), ~3 s (skew) and
7.8-8.8 s (refine). 1M-doc measurement on that session
(SUBSTRING_PROBE_DOCS=1000000): exactly 959,158 spans / 272,702,496
dup chars both runs (slightly super-10× the 100k counts — more copies
per base doc match each other), walls 38.8/20.1 s (~8× on 10× docs,
near-linear); skew leg 1,000,000/1,000,000 docs at 7.9 s; refine
959,158 islands, exact_chars 301,641,888 (+10.6%), walls 35.8-42.1 s,
violations 0.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
from pyspark.sql import functions as F

from bench import TOOL_CONF
from hudi_spark_utilities_plus_spark.operators.spans import duplicated_spans
from hudi_spark_utilities_plus_spark.session import build_spark_session

TARGET = int(os.environ.get("SUBSTRING_PROBE_DOCS", "100000"))
HOT = "#" * 40 + "COMMON-LICENSE-HEADER-BLOCK#... "[:24]  # 64 chars
assert len(HOT) == 64, len(HOT)

spark = build_spark_session(app_name="substring-scale-probe", conf=TOOL_CONF)
docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
    "doc_id", "text"
)
n0 = docs.count()
reps = TARGET // n0
inflated = docs
for k in range(1, reps):
    mut = docs.select(
        (F.col("doc_id") + k * 1_000_000).alias("doc_id"),
        # every 3rd copy keeps the body (cross-copy duplicated spans),
        # others get a reversed body behind a variant prefix — content
        # the grid may or may not re-align on, but deterministically so
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(f" tail{k}")),
        )
        .otherwise(
            F.concat(F.lit(f"variant {k} prefix "), F.reverse(F.col("text")))
        )
        .alias("text"),
    )
    inflated = inflated.unionByName(mut)
inflated = inflated.repartition(32).persist()
total = inflated.count()
prev = None
for run in (1, 2):
    t0 = time.time()
    spans = duplicated_spans(inflated, "text", "doc_id", 64, 32).persist()
    n_spans = spans.count()
    dup_chars = spans.select(
        F.sum(F.col("span_end") - F.col("span_start")).alias("c")
    ).first()["c"]
    spans.unpersist()
    print(
        f"run{run}: docs={total} spans={n_spans} dup_chars={dup_chars} "
        f"wall={time.time()-t0:.1f}s"
    )
    if prev is not None and prev != (n_spans, dup_chars):
        print(f"NONDETERMINISTIC: {prev} != {(n_spans, dup_chars)}")
        sys.exit(1)
    prev = (n_spans, dup_chars)

# hot-key skew leg: one block shared by EVERY doc
skewed = inflated.select(
    "doc_id", F.concat(F.lit(HOT), F.col("text")).alias("text")
).persist()
skewed.count()
t0 = time.time()
sk = duplicated_spans(skewed, "text", "doc_id", 64, 32).persist()
at_zero = sk.filter(F.col("span_start") == 0).select("doc_id").distinct().count()
sk_spans = sk.count()
sk.unpersist()
skewed.unpersist()
print(
    f"skew: docs={total} docs_with_span_at_0={at_zero} spans={sk_spans} "
    f"wall={time.time()-t0:.1f}s"
)
if at_zero != total:
    print(f"SKEW MISS: {at_zero} != {total}")
    sys.exit(1)

# refine leg: boundary refinement at probe scale — determinism
# of the refined bounds, the grid-containment invariant
# (exact_start <= span_start, span_end <= exact_end, extensions
# < stride), and the wall band. The flank-group pass touches only
# boundary-key occurrences, so the leg should track the detect leg's
# wall, not multiply it.
from hudi_spark_utilities_plus_spark.operators.spans import (
    refine_span_bounds,
)

prev = None
for run in (1, 2):
    t0 = time.time()
    ref = refine_span_bounds(inflated, "text", "doc_id", 64, 32).persist()
    n_ref = ref.count()
    agg = ref.select(
        F.sum(F.col("span_end") - F.col("span_start")).alias("grid_c"),
        F.sum(F.col("exact_end") - F.col("exact_start")).alias("exact_c"),
        F.sum(
            (
                (F.col("exact_start") > F.col("span_start"))
                | (F.col("exact_end") < F.col("span_end"))
                | (F.col("span_start") - F.col("exact_start") >= 32)
                | (F.col("exact_end") - F.col("span_end") >= 32)
            ).cast("long")
        ).alias("violations"),
    ).first()
    ref.unpersist()
    print(
        f"refine run{run}: islands={n_ref} grid_chars={agg['grid_c']} "
        f"exact_chars={agg['exact_c']} violations={agg['violations']} "
        f"wall={time.time()-t0:.1f}s"
    )
    if agg["violations"]:
        print(f"REFINE INVARIANT VIOLATED: {agg['violations']} rows")
        sys.exit(1)
    if prev is not None and prev != (n_ref, agg["grid_c"], agg["exact_c"]):
        print(f"NONDETERMINISTIC refine: {prev}")
        sys.exit(1)
    prev = (n_ref, agg["grid_c"], agg["exact_c"])
spark.stop()
