"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1); prints ONE JSON line
{"metric", "value" (total sec), "unit", "queries" {name: sec}, "sf"}.

Queries execute to completion via a noop sink (no driver collect of big
results, no column pruning of the measured projection).

The measurement tools (``tools/job_ledger.py``, ``tools/explain_dump.py``
and ``tools/probes``) share this file's ``TOOL_CONF``, ``warmup`` and
``settle``, so every figure is taken on the session ``bench.py`` runs on.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The conf every measurement tool passes to ``build_spark_session``, on
# top of its DEFAULT_CONF; the master is that function's own default,
# local[$SPARK_GRAFT_CPUS], else local[*].
TOOL_CONF = {
    "spark.ui.enabled": "false",
    "spark.log.level": "ERROR",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}

# Headline set: scan+agg, joins, windows, upsert-merge, top-k, and the
# LLM-pipeline ops (exact/near dedup, similarity, text analysis).
HEADLINE = [
    "agg_group",
    "join_inner",
    "join_left",
    "dedup_latest_wins",
    "sort_limit_topk",
    "hudi_upsert",
    "stream_tumbling",
    "json_funcs",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_topk",
    "text_quality",
    "lang_id",
    "doc_fingerprint",
    "embedding_similar_pairs",
    "embedding_similar_pairs_lsh",
    "win_ntile",
    "win_range_between",
    "hudi_mor_read",
    "sessionize_events",
    "text_repetition",
    "join_asof",
    "ngram_bigrams",
    "pack_token_budget",
    "tpch_q3_shape",
    "tpch_q10_shape",
    "tpch_q1_shape",
    "tpch_q5_shape",
    "tpch_q18_shape",
    "hudi_cluster_read",
    "sample_stratified",
    "contamination_check",
    "tpch_q6_shape",
    "tpch_q7_shape",
    "tpch_q14_shape",
    "tpch_q19_shape",
    "tpch_q22_shape",
    "join_bucketed_write",
    "join_bucketed_join",
    "corpus_filter_funnel",
    "funnel_conversion",
    "retention_cohorts",
    "hudi_time_travel",
    "stream_stream_join",
    "scd2_build",
    "outlier_zscore",
    "tfidf_topterms",
    # the Arrow Python-boundary path (audio windowed energy over
    # mapInPandas)
    "mm_audio_energy",
    "dedup_containment",
    # dynamic partition overwrite on the manifest commit path: partitions
    # dropped, carried by reference or rewritten
    "hudi_partition_overwrite",
    # exact substring dedup (grid-shingle island merge, operators/spans.py)
    # and the boundary refinement over its islands
    "dedup_substring_spans",
    "dedup_substring_refine",
]


def noop(df) -> None:
    """Run ``df`` to completion into the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def warmup(spark, queries: dict, sf_dir: str) -> dict[str, str]:
    """Run each ``{name: fn}`` query once at the smallest scale factor
    (the sf0.001 fixtures next to ``sf_dir``, else ``sf_dir`` itself), so
    codegen compilation and the broadcast machinery are warm and measured
    runs reflect steady-state throughput (what a long-lived cluster
    session delivers). A failure does not stop the warmup; it is returned
    as ``{name: "Type: message"}``, because a query that fails only on
    its first run in a fresh JVM passes every measured pass."""
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    failed: dict[str, str] = {}
    for name, fn in queries.items():
        try:
            noop(fn(spark, warm_dir))
        except Exception as exc:  # noqa: BLE001
            failed[name] = f"{type(exc).__name__}: {exc}"[:500]
    spark.catalog.clearCache()
    return failed


def settle(spark) -> None:
    """Drop the last query's persisted intermediates, so later queries
    are not taxed by its cache residency, and collect garbage on both
    sides: the ContextCleaner reclaims unreferenced broadcast and shuffle
    state only on a driver GC, so the explicit JVM GC makes each query
    run against a steady-state JVM rather than its predecessors'
    accumulated garbage."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Isolation mode: SPARK_GRAFT_ONLY=q1,q2 restricts the suite to the
    # named queries — for re-measuring one query without 40 neighbors'
    # JVM/cache noise. Unset → full headline suite (the driver's path).
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        wanted = {q.strip() for q in only.split(",") if q.strip()}
        unknown = wanted - set(HEADLINE)
        # fail loudly: a typo or empty list must not pollute the perf
        # record with a silently partial (or zero-query) artifact
        if unknown or not wanted:
            raise SystemExit(
                f"SPARK_GRAFT_ONLY names no valid queries "
                f"(unknown: {sorted(unknown)}; headline ids: {sorted(HEADLINE)})"
            )
        headline = [q for q in HEADLINE if q in wanted]
    else:
        headline = HEADLINE

    from hudi_spark_utilities_plus_spark.queries import QUERIES
    from hudi_spark_utilities_plus_spark.session import build_spark_session

    # join_bucketed benched as two phases (one-time layout write vs the
    # recurring zero-exchange join) so a join regression isn't masked by
    # ~3 s of write noise; the registry id join_bucketed stays end-to-end
    # for correctness. The write phase stashes its table names for the
    # join phase (HEADLINE order keeps write before join).
    from hudi_spark_utilities_plus_spark import queries as Q

    bucketed_tables: dict[str, tuple[str, str]] = {}

    def _bucketed_write_phase(spark, d):
        bucketed_tables[d] = Q.bucketed_write(spark, d)
        return spark.range(1)  # noop-sink placeholder; timing = the writes

    def _bucketed_join_phase(spark, d):
        return Q.bucketed_join(spark, *bucketed_tables[d])

    special = {
        "join_bucketed_write": _bucketed_write_phase,
        "join_bucketed_join": _bucketed_join_phase,
    }

    spark = build_spark_session(app_name="bench", conf=TOOL_CONF)
    fns = {name: special.get(name, QUERIES.get(name)) for name in headline}
    warmup_failed = warmup(spark, fns, sf_dir)

    # Best-of-2: two full measured passes, per-query min. A query's
    # in-suite time carries up to ~2x noise from its neighbours' GC and
    # shuffle-cleanup pressure; two passes spaced a full suite apart
    # de-correlate that transient noise (back-to-back repeats would
    # share it). Min-of-2 is BASELINE.md's comparison statistic.
    passes: list[dict[str, float]] = []
    failed: dict[str, str] = {}
    for _ in range(2):
        pass_timings: dict[str, float] = {}
        for name, fn in fns.items():
            t0 = time.perf_counter()
            # one broken query must never erase the suite's artifact:
            # record the failure, keep timing
            try:
                noop(fn(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001
                failed[name] = f"{type(exc).__name__}: {exc}"[:500]
                continue
            pass_timings[name] = round(time.perf_counter() - t0, 3)
            settle(spark)
        passes.append(pass_timings)

    timings = {
        name: min(p[name] for p in passes if name in p)
        for name in headline
        if any(name in p for p in passes)
    }
    total = round(sum(timings.values()), 3)
    # The consumer of this output captures only the TAIL of stdout
    # (~2 kB) and parses the FINAL line. A raw two-pass audit there would
    # push the head of the JSON past the capture window, so the audit
    # goes to a side file plus an earlier stdout line; the final line is
    # the compact summary only, degraded to 2-decimal timings iff 3
    # decimals would exceed the capture window.
    audit = {"passes": passes}
    if failed:
        audit["failed"] = failed
    if warmup_failed:
        audit["warmup_failed"] = warmup_failed
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_passes.json"),
            "w",
        ) as fh:
            json.dump(audit, fh)
    except OSError:
        pass
    print(json.dumps({"audit_passes": passes, "failed": failed,
                      "warmup_failed": warmup_failed}))
    out = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "stat": "min_of_2_passes",
    }
    if failed:
        # a broken query is EXCLUDED from the total, which would
        # otherwise read as a speedup — flag it on the official line
        # (full tracebacks live in the audit line / BENCH_passes.json)
        out["failed"] = sorted(failed)
    line = json.dumps(out)
    # degrade stepwise until the official line fits the driver's ~2 kB
    # tail capture: 3-decimal timings -> 2-decimal -> (last resort) drop
    # the per-query map entirely but keep the headline value parseable
    if len(line) > 1900:
        out["queries"] = {k: round(v, 2) for k, v in timings.items()}
        line = json.dumps(out)
    if len(line) > 1900:
        out["queries"] = {}
        out["queries_in_side_file"] = len(timings)
        line = json.dumps(out)
    print(line)


if __name__ == "__main__":
    main()
