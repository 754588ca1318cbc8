"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line
{"metric", "value" (total sec), "unit", "queries" {name: sec}, "sf"}.

Queries execute to completion via a noop sink (no driver collect of big
results, no column pruning of the measured projection).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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
    # round-7 second batch: the Arrow python-boundary path (audio
    # windowed energy over mapInPandas) and the containment variant of
    # the prefix-filtered near-dup join
    "mm_audio_energy",
    "dedup_containment",
    # round-14: dynamic partition overwrite on the manifest commit path
    # (drop/carry/rewrite classification; files carried by reference) —
    # VERDICT r13 ask 3; first recording establishes its baseline
    "hudi_partition_overwrite",
    # round-14 late batch: exact substring dedup (grid-shingle island
    # merge, operators/spans.py); first recording establishes its
    # baseline (isolated warm walls 1.5 s at sf0.1)
    "dedup_substring_spans",
    # round-15: boundary refinement over the substring islands (flank
    # groups + sorted-neighbor LCP); first recording establishes its
    # baseline
    "dedup_substring_refine",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
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

    spark = build_spark_session(
        app_name="bench",
        master=f"local[{cpus}]",
        conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: run each headline plan once at the smallest scale factor so
    # codegen compilation + broadcast machinery are warm; measured runs
    # then reflect steady-state throughput (what a long-lived cluster
    # session delivers). A warmup failure does not stop the suite, but it
    # is recorded: a query that fails only on its first run in a fresh
    # JVM passes every measured pass.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    warmup_failed: dict[str, str] = {}
    for name in headline:
        try:
            special.get(name, QUERIES.get(name))(spark, warm_dir).write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            warmup_failed[name] = f"{type(exc).__name__}: {exc}"[:500]
    spark.catalog.clearCache()

    # Best-of-2: two full measured passes, per-query min. Two rounds in a
    # row a single in-suite number crossed (or grazed) the 2x baseline
    # gate while its isolated re-measure was fine (ann_topk r5, agg_group
    # r6: 4.19 s in-suite vs 2.32 s isolated) — per-query in-suite times
    # on this host carry up to ~2x contamination from neighbors' GC /
    # shuffle-cleanup pressure. Two passes spaced a full suite apart
    # de-correlate that transient noise (back-to-back repeats would share
    # it); min-of-2 is BASELINE.md's own prescribed comparison statistic,
    # so the emitted artifact is self-adjudicating — no manual re-measure.
    passes: list[dict[str, float]] = []
    failed: dict[str, str] = {}
    for _ in range(2):
        pass_timings: dict[str, float] = {}
        for name in headline:
            fn = special.get(name, QUERIES.get(name))
            t0 = time.perf_counter()
            # Per-query guard: one broken query must never erase the
            # round's perf artifact — record the failure, keep timing.
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                failed[name] = f"{type(exc).__name__}: {exc}"[:500]
                continue
            pass_timings[name] = round(time.perf_counter() - t0, 3)
            # drop per-query persisted intermediates so later queries
            # aren't taxed by earlier queries' cache residency; the
            # explicit GC lets the ContextCleaner actually reclaim
            # unreferenced broadcast / shuffle state now (it only runs on
            # driver GC), so each query is measured against a steady-state
            # JVM rather than 40 queries of accumulated garbage
            spark.catalog.clearCache()
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()
        passes.append(pass_timings)

    timings = {
        name: min(p[name] for p in passes if name in p)
        for name in headline
        if any(name in p for p in passes)
    }
    total = round(sum(timings.values()), 3)
    # Driver contract: the driver captures only the TAIL of stdout (~2 kB)
    # and parses the FINAL line as the round's official number. Round 7
    # lost its artifact by putting the raw two-pass audit on that line
    # (50-entry "passes" pushed the head of the JSON past the capture
    # window -> parsed:null). The audit now goes to a side file plus an
    # earlier stdout line; the final line is the compact summary only,
    # degraded to 2-decimal timings iff 3 decimals would exceed the
    # capture window.
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
