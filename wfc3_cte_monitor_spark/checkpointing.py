"""One switch for every diamond-reuse materialization in the engine.

Every plan that feeds one relation into several downstream subtrees
(the pair map + re-attach + zero-fill in ``plans/pipeline``, the LSH
index layouts and decoded corpus in ``functions/similarity``, the
band/edge tables in ``plans/dedup_queries``, the trend/fileinfo analogs
in ``plans/domain_queries``) truncates the shared subtree with a
checkpoint so it executes once. Two strategies exist:

- ``localCheckpoint`` (default): executor-local, unreplicated blocks —
  the fast single-node path, and the right call on a static cluster
  willing to retry a query on executor loss. NOT survivable under
  dynamic allocation or a lost executor: the blocks have no lineage
  left to recompute (see SCALING.md "Cluster caveat").
- ``checkpoint`` (``spark.wfc3.checkpoint.reliable=true``): blocks
  written to the SparkContext checkpoint directory — set it to HDFS/S3
  via ``spark.wfc3.checkpoint.dir`` (applied on first use if the
  context has no directory yet) — so a 100 TB run survives executor
  churn at the cost of a distributed write per materialization.

The plan shapes around these sites are identical either way; only the
storage of the truncation point changes. Callers must not call
``DataFrame.localCheckpoint`` directly — route through
:func:`materialize` so the conf governs every site at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

RELIABLE_CONF = "spark.wfc3.checkpoint.reliable"
DIR_CONF = "spark.wfc3.checkpoint.dir"


def reliable_enabled(spark) -> bool:
    return spark.conf.get(RELIABLE_CONF, "false").lower() == "true"


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate lineage at ``df``: ``localCheckpoint`` by default,
    reliable ``checkpoint`` when ``spark.wfc3.checkpoint.reliable=true``.

    ``eager=False`` keeps the materialization off the caller's critical
    path until first use (the measured winner on the timed queries —
    domain_queries._materialize_fi's A/B); ``eager=True`` is for
    read-then-overwrite hygiene (streaming stores) where the blocking
    barrier is the point.

    With AQE on, a lazy truncation point whose subtree holds a shuffle
    runs that subtree's query stages driver-side while the plan is
    BUILT, not when it is first used (t01's "planning tax"). Relocating
    that work to first use by planning the subtree non-adaptively was
    measured and refuted twice (r13, r14); ``perfbench/run.py --trace 1``
    reports those jobs under the ``phase=build`` tag.
    """
    spark = df.sparkSession
    if not reliable_enabled(spark):
        return df.localCheckpoint(eager=eager)
    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(spark.conf.get(DIR_CONF, "/tmp/wfc3_reliable_ckpt"))
    return df.checkpoint(eager=eager)
