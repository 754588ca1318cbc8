"""SparkSession builder with production defaults.

Reference parity: ``boxer-common/.../Sparker.scala:8-28`` builds a session
with Kryo + 512m buffer defaults, but drops its config map before applying
it (defaults only took effect via ``--conf`` in launch scripts,
``test-startup.sh:4-6``). This builder actually applies them, plus the
scale-oriented settings the reference left to submit scripts:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- Arrow for pandas UDF exchange
- parquet datetime rebase CORRECTED (``test-startup.sh:5``)
- UTC session timezone so timestamp semantics are stable across hosts
- a generated-class cache that holds a pipeline's working set
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults the reference set in Sparker.scala:10-11 + every launch script,
# merged with the scale posture this rebuild standardizes on.
DEFAULT_CONF: dict[str, str] = {
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.kryoserializer.buffer.max": "512m",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # Scale posture: AQE handles skew joins + post-shuffle coalescing at
    # 100 TB without hand-tuning every query's partition count.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Generated-class cache size. Spark's default of 100 is below the
    # distinct classes a lake pipeline (about 310: importer commits,
    # lookups, CDC batches, snapshot reads) or a 15-query mix (about
    # 260 per pass, 510 with the collect-side variants) keeps reusing,
    # so the LRU evicted byte-identical classes before their next use
    # and every cycle recompiled them; 1000 holds either with room to
    # spare. A STATIC conf: the JVM reads it once, when the code
    # generator first loads, so it only takes effect through the
    # builder, never through tune_runtime.
    "spark.sql.codegen.cache.maxEntries": "1000",
}

_CODEGEN_CLASS = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"


def build_spark_session(
    app_name: str = "hudi-spark-utilities-plus-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with defaults actually applied.

    ``conf`` overrides ``DEFAULT_CONF``; ``master`` defaults to
    ``local[$SPARK_GRAFT_CPUS]`` when unset and no cluster master is
    configured in the environment.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    merged = dict(DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Load the code generator on this thread, which sees the session's
    # conf. Its class cache is sized when it first loads; left to the
    # first plan, that can happen on a thread whose SQLConf lookup falls
    # back to Spark's defaults (a ``df.rdd`` probe made from a new
    # Python thread does), leaving 100 entries whatever the conf says.
    # A no-op once the JVM has loaded it.
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(_CODEGEN_CLASS)
    except Exception:
        pass
    # Shuffle parallelism tracks the session's actual core count. An
    # explicitly configured value, found in the startup SparkConf
    # (spark-defaults, --conf or the builder), is kept even when it is
    # Spark's default "200"; it is looked up on the context's live
    # SparkConf, since ``sc.getConf()`` copies the whole conf over py4j.
    # The derive runs on local masters only: on a cluster with dynamic
    # allocation, defaultParallelism at session build can reflect zero
    # registered executors. Results do not depend on the partition count.
    if "spark.sql.shuffle.partitions" not in merged:
        try:
            sc = spark.sparkContext
            if (
                sc.master.startswith("local")
                and not sc._conf.contains("spark.sql.shuffle.partitions")
                # value check too: getOrCreate may have handed us a
                # REUSED session whose owner set the conf at runtime
                and spark.conf.get("spark.sql.shuffle.partitions", "200")
                == "200"
            ):
                spark.conf.set(
                    "spark.sql.shuffle.partitions",
                    str(max(1, sc.defaultParallelism)),
                )
        except Exception:
            pass
    return spark


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally built session.

    Used when the harness hands us a session we didn't build (driver
    verify path): only runtime-mutable confs are set, silently skipping
    any that this Spark build treats as static. Static confs in
    ``DEFAULT_CONF``, such as the codegen cache size, cannot be applied
    here: the JVM has already read them.
    """
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    # Align shuffle parallelism with the host's core count only when the
    # session owner left Spark's 200 default in place: a value set in
    # the startup conf is kept, and so is any runtime value other than
    # 200. A deliberate runtime set of exactly 200 cannot be told apart
    # from the default and gets the core-count value; results do not
    # depend on the partition count. Local masters only, as in
    # build_spark_session. This runs before every query of a caller that
    # hands in its own session, so it makes single conf lookups only.
    try:
        sc = spark.sparkContext
        if (
            sc.master.startswith("local")
            and not sc._conf.contains("spark.sql.shuffle.partitions")
            and spark.conf.get("spark.sql.shuffle.partitions", "200") == "200"
        ):
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(max(1, sc.defaultParallelism)),
            )
    except Exception:
        pass
    return spark
