"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
conf set is cluster-safe — AQE, adaptive coalescing and skew-join handling
are exactly the knobs a 1000-executor run over ~100 TB wants, and the
shuffle-partition default is overridden per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime confs we also (re-)apply to externally provided sessions so query
# results are independent of the caller's session defaults. Timezone pinning
# matters for DuckDB-oracle comparison (DuckDB timestamps are UTC-naive).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalesces by BYTES (1 MiB floor per partition), which serializes
    # CPU-heavy small-byte stages (iterated window clips, regressions) onto
    # 2-3 tasks while the other cores idle — observed as multi-second
    # stragglers. A lower floor keeps those stages parallel; on a real
    # cluster the extra tasks are noise next to the per-task CPU win.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # a caller session with the 200-partition default over-parallelizes the
    # small-SF gates; AQE coalescing mostly fixes it, but pinning is cheaper
    "spark.sql.shuffle.partitions": "32",
    # every gated (driver-contract) run PROVES pair_id injectivity on its
    # actual pair population — one tiny count-distinct job per pipeline
    # query at gate scale. The bench session (get_spark, no prepare) keeps
    # it off: the guard is a correctness instrument, not query work.
    "spark.wfc3.pipeline.assertPairIdUnique": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "wfc3_cte_monitor_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a tuned local SparkSession.

    ``extra_conf`` entries are applied at BUILD time, for confs that are
    read once at context start (e.g. ``spark.ui.retainedJobs`` for the
    job-census probes); they have no effect if a session already exists.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Spark's default 100-entry codegen cache is smaller than one
        # pass: measured per perfbench pass, incremental_refresh generates
        # ~155 distinct classes and corpus_dedup (e02) ~170, so with 100
        # entries every repeat pass recompiled 117 and ~160 of them (plus
        # the JIT work on the fresh bytecode); with 1024 it recompiles 0
        # for both
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally provided session (driver contract:
    queries receive an arbitrary SparkSession; results must not depend on its
    timezone or adaptive settings)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # read-only conf on some deployments; defaults are fine
    return spark
