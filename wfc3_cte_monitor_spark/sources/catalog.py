"""Parquet catalog over the synthetic test tables.

The driver generates deterministic TPC-H-ish tables plus ``events``
(stream-shaped), ``documents`` (text corpus) and ``embeddings``
(vector column) at /root/testdata/sf*/ — see TESTDATA.md. These loaders
are thin: `spark.read.parquet` already gives vectorized scans, predicate
pushdown and column pruning; at cluster scale the same call reads a
partitioned table from object storage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables — always broadcast-joinable.
DIM_TABLES = {"region", "nation", "customer", "supplier", "part"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def events_ts_kind(path: str) -> str | None:
    """Parquet logical-type probe for events.ts, keyed off the FOOTER
    ANNOTATION rather than the Spark-facing type: under nanosAsLong both
    TIMESTAMP(NANOS) and a plain unannotated INT64 surface as LongType,
    and dividing an already-µs INT64 by 1000 would silently corrupt it.
    Returns 'ns' (nanos timestamp), 'us' (any other timestamp unit —
    Spark reads those natively), 'long' (unannotated INT64, interpreted
    as µs), or None (no data to probe — callers assume the generator's
    historical nanos layout).

    A MISSING path (e.g. a stream sink dir not yet populated) is a
    normal None; a PRESENT file whose footer can't be probed (pyarrow
    absent, corrupt footer) warns before falling back — that fallback
    would misread an unannotated-INT64 µs column, which is exactly the
    corruption the probe exists to prevent. Multi-file datasets are
    probed via their first part file, searching recursively so a
    partitionBy layout (dataset/date=…/part-*.parquet) is probed too —
    a populated dir with no findable part file is present-but-
    unprobeable, which warns rather than silently assuming nanos."""
    probe = path
    if os.path.isdir(path):
        probe = None
        empty = True
        # lazy walk: break fires after the FIRST part file (a probe over
        # thousands of partition dirs must not stat the whole tree), with
        # deterministic traversal via in-place dirname sort. System dirs
        # (_temporary, _spark_metadata, .…) are pruned — an in-flight
        # commit's partial file must not win the probe, and a dataset
        # holding only such dirs counts as not-yet-populated.
        for root, dirnames, filenames in os.walk(path):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
            vis = [f for f in sorted(filenames) if not f.startswith(("_", "."))]
            empty = empty and not vis
            parts = [f for f in vis if f.endswith(".parquet")]
            if parts:
                probe = os.path.join(root, parts[0])
                break
        if probe is None:
            if empty:
                return None  # empty dataset dir: nothing to probe yet
            import warnings

            warnings.warn(
                f"events dataset dir {path!r} is populated but contains no "
                "probeable part file; assuming the historical "
                "TIMESTAMP(NANOS) layout (ts div 1000) — WRONG for an "
                "unannotated-INT64 microseconds column",
                stacklevel=2,
            )
            return None
    elif not os.path.exists(path):
        return None
    try:
        import pyarrow.parquet as pq

        t = str(pq.read_schema(probe).field("ts").type)
    except Exception as exc:  # noqa: BLE001 - footer probe is best-effort
        import warnings

        warnings.warn(
            f"events ts-kind footer probe failed for {probe!r} ({exc}); "
            "assuming the historical TIMESTAMP(NANOS) layout (ts div 1000) "
            "— WRONG for an unannotated-INT64 microseconds column",
            stacklevel=2,
        )
        return None
    if t.startswith("timestamp[ns"):
        return "ns"
    if t.startswith("timestamp"):
        return "us"
    return "long"


def _ts_long_to_micros(kind: str | None):
    """Long-read ts → µs epoch expression for the given footer kind."""
    if kind in ("ns", None):
        return F.expr("ts div 1000")
    return F.col("ts")  # unannotated INT64: already micros by convention


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects; read it as a long and truncate ns → µs,
        # exactly matching DuckDB's TIMESTAMP_NS → TIMESTAMP truncation.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        path = table_path(sf_dir, name)
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # → TIMESTAMP_NTZ to match the other tables' parquet timestamps
            # and DuckDB's naive TIMESTAMP (session TZ pinned to UTC by
            # session.prepare, so the ltz→ntz hop is deterministic)
            df = df.withColumn(
                "ts",
                F.timestamp_micros(_ts_long_to_micros(events_ts_kind(path))).cast(
                    "timestamp_ntz"
                ),
            )
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def literal_table(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A small constant relation (bin specs, mapping and skip tables)
    planned entirely in the JVM: one ``inline`` over a literal array of
    structs on a one-row, one-partition range, cast to the ``ddl``
    schema's types.

    ``spark.createDataFrame(<python list>)`` would ship the rows through
    a Python RDD (``parallelize`` + ``applySchemaToPythonRDD``), so every
    scan of it starts Python worker tasks inside an otherwise pure-JVM
    plan. An empty ``rows`` gives a typed empty relation."""
    from pyspark.sql.types import DataType

    fields = DataType.fromDDL(ddl).fields
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields]
        )
    structs = [
        F.struct(*[
            F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, fields, strict=True)
        ])
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition a small-file table to the executor parallelism.

    The synthetic corpora (documents, embeddings) arrive as ONE parquet
    file → one input partition → CPU-heavy per-row work (tokenizing,
    shingling, hashing, vector math) serializes onto a single task while
    31 cores idle. The shuffle costs a few MB; the win is full-width
    execution. At cluster scale a properly-partitioned source makes this
    a no-op decision — the helper documents the intent either way."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view so plans can be written in SQL."""
    for n, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(n)
