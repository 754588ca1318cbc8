"""Shared materialize-and-cut-lineage helper for multi-consumer
intermediates.

``persist()`` has two problems as the freeze mechanism for an
intermediate that a RETURNED DataFrame still references:

1. **It leaks.** Nothing inside the producing function can unpersist it
   (the caller's frame still needs the blocks), so every call adds a
   CacheManager entry that lives until the session dies. A long-lived
   service calling a dedup/similarity operator per request accretes
   cached full-corpus tables; eviction is LRU-best-effort, and the
   CacheManager's plan registry (used to NAME cached relations) grows
   without bound — the exact class that OOMed the driver in the
   connected-components loop (operators/graph.py).
2. **It caches data but keeps the logical plan.** Downstream re-analysis
   still walks the full upstream tree; for iterative or deeply-nested
   plans the tree itself is the cost.

``checkpoint(eager=True)`` (reliable form when the session has a
checkpoint directory — survives executor loss, the cluster posture) or
``localCheckpoint(eager=True)`` (MEMORY_AND_DISK blocks on the
executors) replaces the plan with a scan of the materialized RDD.
On the global-window operators an interleaved A/B measured checkpoint
≈ persist.

Reclamation differs by form, so the reliable branch is CONDITIONAL:
``localCheckpoint`` blocks are freed by the ContextCleaner once the
last RDD reference is GC'd — no leak, no conf needed. Reliable
checkpoint FILES, however, are only deleted by the cleaner when
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (default
false — Spark core's ``ReliableRDDCheckpointData.cleanCheckpoint``
path); with the default, every operator call would strand a full
materialized corpus copy under the checkpoint dir for the session's
lifetime. So a set checkpoint dir opts IN to reliable materialization
only when that conf is also enabled; otherwise localCheckpoint is used
and the checkpoint dir is left to explicitly-managed checkpoints
(iterative drivers that clean up after themselves).

Use for: (a) nondeterministic intermediates whose single evaluation is a
CORRECTNESS requirement (monotonic ids, sampled range boundaries —
operators/global_windows.py); (b) deterministic compute-once
intermediates that outlive their producing function (shingle/signature
tables feeding both a candidate join and a verify join).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_LOG = logging.getLogger(__name__)

# app-ids already warned about the localCheckpoint downgrade — the
# session sets a checkpoint dir ONCE, so one notice per context is
# signal and one per operator call is noise
_WARNED_APPS: set[str] = set()


def _reliable_cleanup_enabled(sc) -> bool:
    """Whether the ContextCleaner will actually delete reliable-checkpoint
    files. Read from the STARTUP SparkConf, not the runtime session conf:
    spark.cleaner.* is a core conf the cleaner captures at context start
    (Spark 4 rejects runtime modification with CANNOT_MODIFY_CONFIG), so
    the startup value is the only one that governs reclamation. Looked
    up on the context's live SparkConf: ``sc.getConf()`` would copy the
    whole conf over py4j on every call."""
    return (
        sc._conf.get("spark.cleaner.referenceTracking.cleanCheckpoints", "false")
        .lower()
        == "true"
    )


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` NOW and return a frame whose plan is a scan of
    the materialized blocks (lineage cut, no CacheManager entry, no
    unreclaimed checkpoint files — module note on the conf gate).

    ``eager=False`` cuts the lineage immediately but defers the
    materializing computation to the FIRST action over the returned
    frame — one job instead of two when the caller's next step is
    already a full-partition pass (an aggregate/collect that consumes
    every partition). Only for deterministic frames whose first consumer
    provably scans everything; nondeterministic single-evaluation
    callers (global_windows) must stay eager."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        if _reliable_cleanup_enabled(sc):
            return df.checkpoint(eager=eager)
        # a caller who set a checkpoint dir for executor-loss resilience
        # is being silently downgraded (localCheckpoint blocks die with
        # their executors) — say why, once per context, so the fix
        # (enable the cleaner conf at startup) is discoverable
        app_id = sc.applicationId
        if app_id not in _WARNED_APPS:
            _WARNED_APPS.add(app_id)
            _LOG.warning(
                "materialize(): a checkpoint dir is set but "
                "spark.cleaner.referenceTracking.cleanCheckpoints is "
                "false, so reliable checkpoints would strand files "
                "there for the session lifetime — falling back to "
                "localCheckpoint (blocks do NOT survive executor "
                "loss). Set the cleaner conf at context startup to "
                "opt in to reliable materialization."
            )
    return df.localCheckpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Free the blocks behind a frame returned by ``materialize`` now,
    instead of when the ContextCleaner collects its RDD. For a
    producer that knows its last consumer has run; the frame must not
    be used afterwards. Checkpoint files of the reliable branch stay
    with the cleaner."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def materialize_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``materialize`` fused with a row count: ONE job instead of two.

    The lazy form is driven by ``count()``, which consumes every
    partition's full iterator, so the checkpoint stores complete blocks
    and the count comes from the same job. Plan-level count pruning
    cannot bypass the work: the returned frame's plan is already a scan
    of the to-be-checkpointed RDD, not the logical tree above it. Only
    for DETERMINISTIC frames (see ``materialize``'s ``eager``).

    On the reliable-checkpoint branch the fusion does not hold:
    ``checkpoint(eager=False)`` writes its files in a separate job after
    the count, a second full lineage recompute. Callers there that want
    one compute pass should persist() before and unpersist() after."""
    out = materialize(df, eager=False)
    return out, out.count()
