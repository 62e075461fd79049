"""Structured Streaming surface: the streaming window plans must agree
with their batch twins (same logical plan, different source/trigger)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from wfc3_cte_monitor_spark.plans.registry import load_all
from wfc3_cte_monitor_spark.streaming.events import (
    read_events_stream,
    run_to_memory,
    sessionized_stream,
    stream_dedup,
    windowed_counts_stream,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_smoke):
    return read_events_stream(spark, sf_smoke)


def _rows(spark, name):
    return {tuple(str(v) for v in r) for r in spark.sql(f"SELECT * FROM {name}").collect()}


def _batch_arm(spark, sf_smoke, kind, cols):
    """One arm of the merged ev01_event_windows batch query, projected to
    the streaming twin's column layout."""
    from pyspark.sql import functions as F

    df = load_all()["ev01_event_windows"].fn(spark, sf_smoke)
    return {
        tuple(str(v) for v in r)
        for r in df.where(F.col("kind") == kind).select(*cols).collect()
    }


def test_stream_tumbling_matches_batch(spark, sf_smoke, events_stream):
    from pyspark.sql import functions as F

    q = run_to_memory(windowed_counts_stream(events_stream), "stream_tumbling", "complete")
    try:
        got = _rows(spark, "stream_tumbling")
        batch = _batch_arm(
            spark, sf_smoke, "tumbling",
            ["window_start", F.col("key").alias("event_type"), "n_events", "sum_value"],
        )
        assert got == batch
    finally:
        q.stop()


def test_stream_sessions_match_batch(spark, sf_smoke, events_stream):
    from pyspark.sql import functions as F

    q = run_to_memory(sessionized_stream(events_stream), "stream_sessions", "complete")
    try:
        got = _rows(spark, "stream_sessions")
        batch = _batch_arm(
            spark, sf_smoke, "session",
            [
                F.col("key").cast("bigint").alias("user_id"),
                F.col("window_start").alias("session_start"),
                F.col("window_end").alias("session_end"),
                "n_events",
            ],
        )
        assert got == batch
    finally:
        q.stop()


def test_foreachbatch_upsert_sink(spark, events_stream, tmp_path):
    """Exactly-once sink pattern: each micro-batch MERGEs into a parquet
    table by natural key (the streaming form of S7) — re-processing the
    same batch leaves the table unchanged."""
    from pyspark.sql import functions as F

    from wfc3_cte_monitor_spark.operators.upsert import upsert

    target = str(tmp_path / "events_merged")

    def merge_batch(batch_df, epoch_id):
        batch = batch_df.withColumn("version", F.lit(epoch_id).cast("int"))
        try:
            base = spark.read.parquet(target)
        except Exception:
            base = None
        merged = batch if base is None else upsert(base, batch, ["event_id"], "version")
        merged.write.mode("overwrite").parquet(target + "_tmp")
        spark.read.parquet(target + "_tmp").write.mode("overwrite").parquet(target)

    q = (
        events_stream.writeStream.outputMode("append")
        .foreachBatch(merge_batch)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    merged = spark.read.parquet(target)
    n, nd = merged.count(), merged.select("event_id").distinct().count()
    assert n == nd > 0


def test_stateful_running_profile(spark, sf_smoke, events_stream):
    """applyInPandasWithState: per-user running totals must equal the
    batch aggregation after one pass over the data."""
    from pyspark.sql import functions as F

    from wfc3_cte_monitor_spark.sources.catalog import load_table
    from wfc3_cte_monitor_spark.streaming.stateful import running_user_profile

    q = run_to_memory(running_user_profile(events_stream), "stream_profile", "update")
    try:
        got = {
            r.user_id: (r.n_events, round(r.sum_value, 6))
            for r in spark.sql(
                # latest emission per user (one per micro-batch)
                """SELECT user_id, n_events, sum_value FROM (
                       SELECT *, row_number() OVER (PARTITION BY user_id
                                                    ORDER BY n_events DESC) rn
                       FROM stream_profile) WHERE rn = 1"""
            ).collect()
        }
        batch = {
            r.user_id: (r.n, round(r.s, 6))
            for r in load_table(spark, sf_smoke, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        assert got == batch
    finally:
        q.stop()


def test_stream_dedup_drops_duplicate_keys(spark, events_stream):
    q = run_to_memory(stream_dedup(events_stream), "stream_dedup", "append")
    try:
        n = spark.sql("SELECT count(*) FROM stream_dedup").collect()[0][0]
        ids = spark.sql("SELECT count(DISTINCT event_id) FROM stream_dedup").collect()[0][0]
        assert n == ids > 0
    finally:
        q.stop()


def test_incremental_results_batch_equals_full_recompute(spark):
    """Split exposures into an initial corpus and a late-arriving batch;
    the incremental merge over affected pairs must equal the full
    recompute exactly (same pairs, same values)."""
    from wfc3_cte_monitor_spark.plans.pipeline import compute_results
    from wfc3_cte_monitor_spark.streaming.incremental import (
        affected_pairs,
        incremental_results_batch,
    )
    from wfc3_cte_monitor_spark.testing.fixtures import make_domain_fixtures

    _, fileinfo, phot_long = make_domain_fixtures(spark)
    fileinfo = fileinfo.cache()
    full = compute_results(fileinfo, phot_long)

    cutoff = 56100  # fixture dates are 56000/56020/56200 -> last epoch arrives late
    old_fi = fileinfo.where(F.col("dateobs") < cutoff)
    new_fi = fileinfo.where(F.col("dateobs") >= cutoff)
    assert old_fi.count() and new_fi.count()

    store0 = compute_results(old_fi, phot_long)
    touched = affected_pairs(new_fi, fileinfo)
    # the touched set is exactly the pairs with a late side
    assert 0 < touched.count() < full.count()

    merged = incremental_results_batch(store0, new_fi, fileinfo, phot_long)
    key = lambda r: (r["targname"], r["imagename_1"], r["imagename_2"])
    full_rows = {key(r): tuple(r) for r in full.collect()}
    merged_rows = {key(r): tuple(r) for r in merged.collect()}
    assert merged_rows == full_rows


def test_incremental_merge_same_mode_group_keeps_untouched_pairs(spark, monkeypatch):
    """A batch lands BOTH chips of one mode-key group that already holds
    an older chip pair, so the group's pair relation is the 2x2 cross
    product: three touched pairs (each with a new side) and the old pair,
    whose two images are both partners of new exposures but which is
    itself untouched. The merge must recompute exactly the touched
    pairs, carry the old pair's stored row over unchanged, replace only
    the batch's aperture and equal a full recompute; the pair_id guard
    must run on the touched pairs when the session enables it."""
    from wfc3_cte_monitor_spark.plans import pipeline
    from wfc3_cte_monitor_spark.plans.pipeline import compute_results
    from wfc3_cte_monitor_spark.streaming.incremental import (
        affected_pairs,
        incremental_results_batch,
    )
    from wfc3_cte_monitor_spark.testing.fixtures import make_domain_fixtures

    _, fileinfo, phot_long = make_domain_fixtures(spark)
    group = (F.col("targname") == "ngc104") & (F.col("dateobs") == 56000) & (F.col("ctecorr") == 0)
    renamed = F.concat(F.lit("late_"), F.col("imagename"))
    # the late exposures repeat the group's mode keys under new names, with
    # chip-1 fluxes scaled so their pairs fit different slopes
    new_fi = fileinfo.where(group).withColumn("imagename", renamed).cache()
    group_images = fileinfo.where(group).select("imagename", "chip")
    new_ph = (
        phot_long.join(F.broadcast(group_images), "imagename")
        .withColumn("flux", F.when(F.col("chip") == 1, F.col("flux") * 1.003)
                    .otherwise(F.col("flux")))
        .withColumn("imagename", renamed)
        .select(*phot_long.columns)
    )
    corpus = fileinfo.unionByName(new_fi).cache()
    phot = phot_long.unionByName(new_ph).cache()
    old_pair = [r["imagename"] for r in group_images.orderBy("chip").collect()]

    touched = {(r["imagename_1"], r["imagename_2"])
               for r in affected_pairs(new_fi, corpus).collect()}
    assert len(touched) == 3 and tuple(old_pair) not in touched

    key = lambda r: (r["targname"], r["imagename_1"], r["imagename_2"], r["aperture"])
    store3 = compute_results(fileinfo, phot, aperture=3).cache()
    # rows of another aperture share the touched pair keys and must survive
    store5 = compute_results(corpus, phot, aperture=5).cache()
    store0 = store3.unionByName(store5)

    guarded = []
    real_guard = pipeline.assert_pair_id_unique
    monkeypatch.setattr(pipeline, "assert_pair_id_unique",
                        lambda keyed: guarded.append(keyed.count()) or real_guard(keyed))
    spark.conf.set("spark.wfc3.pipeline.assertPairIdUnique", "true")
    try:
        merged = incremental_results_batch(store0, new_fi, corpus, phot, aperture=3)
    finally:
        spark.conf.set("spark.wfc3.pipeline.assertPairIdUnique", "false")
    assert guarded == [3]
    assert merged.columns == store0.columns
    merged_rows = [tuple(r) for r in merged.collect()]
    want = [tuple(r) for r in compute_results(corpus, phot, aperture=3).collect()]
    want += [tuple(r) for r in store5.collect()]
    assert sorted(merged_rows, key=str) == sorted(want, key=str)

    # the old pair's row is carried over from the store, not recomputed
    poisoned = store3.withColumn(
        "slope_2000_8000",
        F.when((F.col("imagename_1") == old_pair[0]) & (F.col("imagename_2") == old_pair[1]),
               F.lit(-1.0)).otherwise(F.col("slope_2000_8000")),
    )
    got = {key(r): r["slope_2000_8000"]
           for r in incremental_results_batch(poisoned, new_fi, corpus, phot).collect()}
    assert got[("ngc104", *old_pair, 3.0)] == -1.0
    assert len(got) == store3.count() + 3


def test_maintain_results_stream_file_source(spark, tmp_path):
    """End-to-end: exposures dropped as files -> availableNow stream ->
    per-batch incremental MERGE into the parquet Results store.

    The hard case is pinned deliberately: the snapshot is EMPTY (every
    exposure arrives on the stream), the inbox is split by CHIP so each
    image pair's two sides arrive in DIFFERENT micro-batches, and
    maxFilesPerTrigger=1 forces those batches to actually run
    separately. Pair formation therefore depends on the ingested-exposure
    sidecar remembering batch 0 when batch 1 runs."""
    from wfc3_cte_monitor_spark.plans.pipeline import compute_results
    from wfc3_cte_monitor_spark.streaming.incremental import maintain_results_stream
    from wfc3_cte_monitor_spark.testing.fixtures import make_domain_fixtures

    _, fileinfo, phot_long = make_domain_fixtures(spark)
    fileinfo = fileinfo.cache()
    phot_long = phot_long.cache()

    inbox = tmp_path / "inbox"
    fileinfo.where(F.col("chip") == 1).write.parquet(str(inbox / "b0"))
    fileinfo.where(F.col("chip") == 2).write.parquet(str(inbox / "b1"))

    stream = spark.readStream.schema(fileinfo.schema).option(
        "recursiveFileLookup", "true"
    ).option("maxFilesPerTrigger", "1").parquet(str(inbox))
    q = maintain_results_stream(
        spark, stream, fileinfo.limit(0), phot_long,
        store_path=str(tmp_path / "results"),
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    assert q.awaitTermination(240)

    got = spark.read.parquet(str(tmp_path / "results"))
    full = compute_results(fileinfo, phot_long)
    key = lambda r: (r["targname"], r["imagename_1"], r["imagename_2"])
    assert {key(r): tuple(r) for r in got.collect()} == {
        key(r): tuple(r) for r in full.collect()
    }


def test_maintain_trend_stream_partition_grain(spark, tmp_path):
    """Trend maintenance at target grain: the snapshot is EMPTY and the
    inbox is split by DATE with maxFilesPerTrigger=1, so batch 1 delivers
    late dates that shift epochs computed in batch 0 — the touched
    targets must be recomputed over batch 0's exposures too (via the
    ingested sidecar), and the store must equal the full-batch trend."""
    from wfc3_cte_monitor_spark.plans.pipeline import compute_results_long
    from wfc3_cte_monitor_spark.plans.trends import cte_slope_vs_time, epoch_dimension
    from wfc3_cte_monitor_spark.streaming.incremental import maintain_trend_stream
    from wfc3_cte_monitor_spark.testing.fixtures import make_domain_fixtures

    _, fileinfo, phot_long = make_domain_fixtures(spark)
    fileinfo = fileinfo.cache()
    phot_long = phot_long.cache()

    inbox = tmp_path / "inbox"
    fileinfo.where(F.col("dateobs") < 56100).write.parquet(str(inbox / "b0"))
    fileinfo.where(F.col("dateobs") >= 56100).write.parquet(str(inbox / "b1"))

    stream = spark.readStream.schema(fileinfo.schema).option(
        "recursiveFileLookup", "true"
    ).option("maxFilesPerTrigger", "1").parquet(str(inbox))
    q = maintain_trend_stream(
        spark, stream, fileinfo.limit(0), phot_long,
        store_path=str(tmp_path / "trend"),
        checkpoint=str(tmp_path / "ckpt_trend"),
    ).start()
    assert q.awaitTermination(240)

    got = spark.read.parquet(str(tmp_path / "trend"))
    full = cte_slope_vs_time(
        fileinfo, compute_results_long(fileinfo, phot_long), epoch_dimension(fileinfo)
    )
    key = lambda r: (r["targname"], r["epoch"], r["fluxbin"])
    val = lambda r: (round(r["mean_slope"], 8), round(r["mean_stderr"], 8), r["n_pairs"])
    assert {key(r): val(r) for r in got.collect()} == {
        key(r): val(r) for r in full.collect()
    }


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke, events_stream):
    # stream-stream interval join (attribution): the same plan over the
    # batch events table is a plain interval join; results must agree.
    from wfc3_cte_monitor_spark.sources.catalog import load_table
    from wfc3_cte_monitor_spark.streaming.events import attributed_events

    q = run_to_memory(
        attributed_events(events_stream), "stream_attrib", "append"
    )
    try:
        got = _rows(spark, "stream_attrib")
        batch_events = load_table(spark, sf_smoke, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        batch = {
            tuple(str(v) for v in r)
            for r in attributed_events(batch_events).collect()
        }
        assert batch, "expected attribution matches in the fixture data"
        assert got == batch
    finally:
        q.stop()


def test_attributed_events_window_boundaries(spark):
    # the attribution window is inclusive on both edges: a cause exactly
    # window-ago and one simultaneous with the trigger both match; one
    # microsecond earlier / later do not. Batch mode drives the shared
    # plan (withWatermark is a no-op there).
    import datetime as dt

    from wfc3_cte_monitor_spark.streaming.events import attributed_events

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    hours6 = dt.timedelta(hours=6)
    us = dt.timedelta(microseconds=1)
    rows = [
        (1, "purchase", 100, t0),
        (1, "click", 200, t0 - hours6),        # exactly window-ago -> in
        (1, "click", 201, t0 - hours6 - us),   # 1 us too early -> out
        (1, "click", 202, t0),                 # simultaneous -> in
        (1, "click", 203, t0 + us),            # after the trigger -> out
        (2, "click", 204, t0),                 # other user -> out
    ]
    events = spark.createDataFrame(
        rows, "user_id long, event_type string, event_id long, ts timestamp"
    )
    got = {
        (r.trigger_id, r.cause_id)
        for r in attributed_events(events).collect()
    }
    assert got == {(100, 200), (100, 202)}


def test_stream_outer_interval_join_emits_on_watermark(spark, tmp_path):
    # left-outer stream-stream join: the unattributed trigger's NULL-cause
    # row may only emit once the watermark passes its time bound (state
    # expiry decides "no cause is coming"). Drive two single-file
    # micro-batches — the second carries a far-future event that advances
    # the watermark — and assert the outer row surfaces.
    import datetime as dt
    import os as _os
    import time as _time

    from wfc3_cte_monitor_spark.streaming.events import attributed_events

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    src = tmp_path / "events_src"
    src.mkdir()

    def _pin_mtime(batch_dir, seq: int) -> None:
        # the file source orders batches by modification time; pin
        # strictly increasing mtimes EXPLICITLY (10s apart) instead of
        # sleeping — coarse-mtime filesystems or CI clock skew could
        # otherwise reorder the batches and stall the watermark
        base = _time.time() - 1000.0 + seq * 10.0
        for root, _dirs, files in _os.walk(batch_dir):
            for f in files:
                _os.utime(_os.path.join(root, f), (base, base))
    schema = "user_id long, event_type string, event_id long, ts timestamp"
    batch1 = spark.createDataFrame(
        [
            (1, "purchase", 100, t0),
            (1, "click", 200, t0 - dt.timedelta(hours=1)),  # attributed
            (2, "purchase", 101, t0),                       # no cause ever
        ],
        schema,
    )
    batch1.coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    _pin_mtime(str(src / "b1"), 0)
    # the far-future events must survive BOTH side filters (the global
    # watermark is min over the two withWatermark nodes, each fed after
    # its event_type filter), so advance each side explicitly
    batch2 = spark.createDataFrame(
        [
            (9, "purchase", 900, t0 + dt.timedelta(hours=40)),
            (9, "click", 950, t0 + dt.timedelta(hours=40)),
        ],
        schema,
    )
    batch2.coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    _pin_mtime(str(src / "b2"), 1)

    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = run_to_memory(
        attributed_events(stream, join_type="left_outer"),
        "stream_attrib_outer",
        "append",
    )
    try:
        # outer rows are emitted in the micro-batch AFTER the one whose
        # watermark expired them — feed one more batch to flush
        batch3 = spark.createDataFrame(
            [
                (9, "purchase", 901, t0 + dt.timedelta(hours=41)),
                (9, "click", 951, t0 + dt.timedelta(hours=41)),
            ],
            schema,
        )
        batch3.coalesce(1).write.mode("overwrite").parquet(str(src / "b3"))
        _pin_mtime(str(src / "b3"), 2)
        q.processAllAvailable()
        got = {
            (r.trigger_id, r.cause_id)
            for r in spark.sql("SELECT * FROM stream_attrib_outer").collect()
        }
        assert (100, 200) in got, got        # matched pair (inner rows emit eagerly)
        assert (101, None) in got, got       # outer row after watermark expiry
    finally:
        q.stop()


def test_stream_windowed_hll_registers_match_batch(spark, sf_smoke, events_stream):
    """The HLL register state maintained under readStream must equal the
    batch recompute exactly — max-per-bucket is the incremental agg that
    makes the sketch streamable, and this is the proof."""
    from wfc3_cte_monitor_spark.sources.catalog import load_table
    from wfc3_cte_monitor_spark.streaming.events import windowed_hll_registers

    q = run_to_memory(
        windowed_hll_registers(events_stream, watermark="2 hours"),
        "stream_hll_regs",
        "complete",
    )
    try:
        got = _rows(spark, "stream_hll_regs")
        batch = {
            tuple(str(v) for v in r)
            for r in windowed_hll_registers(
                load_table(spark, sf_smoke, "events")
            ).collect()
        }
        assert got == batch and got
    finally:
        q.stop()


def test_windowed_hll_linear_counting_accuracy(spark, sf_smoke):
    """Registers → standard small-range (linear counting) correction must
    land near the exact per-(window, type) distinct-user count. At smoke
    scale every window is deep in the linear-counting regime, where the
    estimator is near-exact."""
    import math

    from wfc3_cte_monitor_spark.sources.catalog import load_table
    from wfc3_cte_monitor_spark.streaming.events import (
        HLLW_M,
        windowed_hll_registers,
    )

    ev = load_table(spark, sf_smoke, "events")
    regs: dict[tuple, int] = {}
    for r in windowed_hll_registers(ev).collect():
        regs[(str(r.window_start), r.event_type)] = (
            regs.get((str(r.window_start), r.event_type), 0) + 1
        )
    exact = {
        (str(r.window_start), r.event_type): r.n_users
        for r in ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_users")
        .collect()
    }
    assert regs.keys() == exact.keys() and regs
    for k, nb in regs.items():
        v_empty = HLLW_M - nb
        assert v_empty > 0, k  # smoke windows are sparse by construction
        est = HLLW_M * math.log(HLLW_M / v_empty)
        assert abs(est - exact[k]) <= max(2.0, 0.3 * exact[k]), (k, est, exact[k])


def test_stream_asof_matches_batch(spark, sf_smoke, tmp_path):
    """Streaming as-of join (applyInPandasWithState + EventTimeTimeout)
    must emit every purchase exactly once with the same match the batch
    operator computes. The source is split into 3 files by event_id % 3
    (so pair sides arrive in different micro-batches, in neither ts nor
    key order) under a watermark wide enough that nothing is late; a
    far-future sentinel then seals every purchase."""
    import datetime as dt
    import os as _os
    import time as _time

    from wfc3_cte_monitor_spark.operators.asof_join import asof_join
    from wfc3_cte_monitor_spark.sources.catalog import load_table
    from wfc3_cte_monitor_spark.streaming.stateful import stream_asof

    ev = (
        load_table(spark, sf_smoke, "events")
        .select("event_id", "ts", "user_id", "event_type")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .cache()
    )

    def _pin_mtime(batch_dir, seq: int) -> None:
        base = _time.time() - 1000.0 + seq * 10.0
        for root, _dirs, files in _os.walk(batch_dir):
            for f in files:
                _os.utime(_os.path.join(root, f), (base, base))

    src = tmp_path / "src"
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.parquet(str(src / f"b{i}"))
        _pin_mtime(str(src / f"b{i}"), i)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    # two sentinel batches: the first advances the watermark past every
    # purchase, the second guarantees a batch runs AFTER that advance so
    # the event-time timeouts fire even if no no-data batch is scheduled.
    # Sentinels must be 'click'-typed: Catalyst pushes the operator's
    # event_type filter BELOW the watermark node, so a filtered-out type
    # would never reach the watermark tracker.
    for j, days in enumerate((5000, 5001)):
        sent = spark.createDataFrame(
            [(10_000_000 + j, max_ts + dt.timedelta(days=days), -999, "click")],
            schema=ev.schema,
        )
        sent.coalesce(1).write.parquet(str(src / f"s{j}"))
        _pin_mtime(str(src / f"s{j}"), 3 + j)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .withWatermark("ts", "900 days")
    )
    q = run_to_memory(stream_asof(stream), "stream_asof_sink", "append")
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.purchase_id): (r.matched_id, r.lag_seconds)
            for r in spark.sql("SELECT * FROM stream_asof_sink").collect()
        }
    finally:
        q.stop()

    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    want = {
        (r.user_id, r.purchase_id): (
            r.click_id,
            None
            if r.asof_matched_ts is None
            else round((r.ts - r.asof_matched_ts).total_seconds(), 6),
        )
        for r in asof_join(
            purch, clicks, on=["user_id"], left_ts="ts", right_ts="ts"
        ).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_stream_asof_pre_epoch_click(spark, tmp_path):
    """Pre-1970 event times and Structured Streaming watermarks don't
    mix: Spark clamps the watermark at epoch 0 and drops stateful-op
    input rows below it, so a negative-ts click never reaches the
    operator AT ALL (verified: the identical scenario shifted to
    1970-01-02 matches). This test pins that documented engine
    constraint — the purchase emits unmatched — so a behavior change in
    either Spark or the operator surfaces. The operator's own register
    uses a -2^62 sentinel rather than -1 regardless, so IF a negative
    ts ever reaches state (e.g. an engine change), it is not silently
    swallowed by the sentinel comparison."""
    import datetime as dt
    import os as _os
    import time as _time

    from wfc3_cte_monitor_spark.streaming.stateful import stream_asof

    t0 = dt.datetime(1969, 12, 31, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    src = tmp_path / "src"

    def _pin(batch_dir, seq):
        base = _time.time() - 1000.0 + seq * 10.0
        for root, _d, files in _os.walk(batch_dir):
            for f in files:
                _os.utime(_os.path.join(root, f), (base, base))

    batches = [
        [(1, t0, 7, "click")],                                   # pre-epoch click
        [(2, t0 + dt.timedelta(days=400), 7, "purchase")],
        [(3, t0 + dt.timedelta(days=1200), -9, "click")],        # seal
        [(4, t0 + dt.timedelta(days=1201), -9, "click")],        # flush
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / f"b{i}"))
        _pin(str(src / f"b{i}"), i)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .withWatermark("ts", "1 day")
    )
    q = run_to_memory(stream_asof(stream), "stream_asof_preepoch", "append")
    try:
        q.processAllAvailable()
        got = {
            r.purchase_id: r.matched_id
            for r in spark.sql("SELECT * FROM stream_asof_preepoch").collect()
        }
    finally:
        q.stop()
    # the pre-epoch click is dropped by the ENGINE's late-data filter
    # (watermark clamped at epoch 0), so the purchase seals unmatched
    assert got == {2: None}, got


def test_maintain_cluster_stream_equals_full_recompute(spark, tmp_path):
    """The dedup-cluster DECISION store maintained under an availableNow
    edge stream (maxFilesPerTrigger=1, so batches really run separately)
    must equal a full recompute: labels = CC fixpoint over all edges,
    rep = argmax(nu, -id) per component, keep = (doc == rep). Batch 1
    deliberately merges two components formed in batch 0 through a new
    edge (the cascade case) and introduces brand-new docs."""
    from wfc3_cte_monitor_spark.streaming.incremental import maintain_cluster_stream

    nu = {v: (v * 7) % 5 + 1 for v in range(30)}
    docs_nu = spark.createDataFrame(
        [(v, nu[v]) for v in range(30)], "doc_id long, nu long"
    )
    b0 = [(1, 2), (2, 3), (10, 11), (15, 16)]
    b1 = [(3, 10), (4, 5), (11, 18), (16, 15)]  # merge {1,2,3}+{10,11}; dup edge
    inbox = tmp_path / "edges"
    spark.createDataFrame(b0, "src long, dst long").coalesce(1).write.parquet(
        str(inbox / "b0")
    )
    spark.createDataFrame(b1, "src long, dst long").coalesce(1).write.parquet(
        str(inbox / "b1")
    )

    stream = (
        spark.readStream.schema("src long, dst long")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(inbox))
    )
    q = maintain_cluster_stream(
        spark, stream, docs_nu,
        store_path=str(tmp_path / "clusters"),
        checkpoint=str(tmp_path / "ckpt_clusters"),
    ).start()
    assert q.awaitTermination(240)

    # pure-python full recompute over the union of all edges
    all_edges = b0 + b1
    verts = sorted({v for e in all_edges for v in e})
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in all_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label = {v: find(v) for v in verts}
    members: dict[int, list[int]] = {}
    for v, l in label.items():
        members.setdefault(l, []).append(v)
    rep = {l: max(ms, key=lambda v: (nu[v], -v)) for l, ms in members.items()}
    want = {
        v: (label[v], nu[v], rep[label[v]], 1 if v == rep[label[v]] else 0)
        for v in verts
    }

    got = {
        r["doc_id"]: (r["label"], r["nu"], r["rep_id"], r["keep"])
        for r in spark.read.parquet(str(tmp_path / "clusters")).collect()
    }
    assert got == want


def test_stream_topk_mg_matches_python_and_bounds(spark, sf_smoke, tmp_path):
    """Bounded-state streaming heavy hitters: the Misra-Gries summary
    maintained across two real micro-batches (maxFilesPerTrigger=1)
    must equal a pure-python fold of the SAME ingestion order, and both
    classic error bounds must hold against exact counts:
    est <= true <= est + n/(capacity+1), with every user whose true
    count exceeds n/(capacity+1) present in the summary."""
    from wfc3_cte_monitor_spark.sources.catalog import load_table
    from wfc3_cte_monitor_spark.streaming.stateful import (
        misra_gries_py,
        stream_topk_mg,
    )

    CAP = 8
    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "ts", "user_id", "event_type"
    ).cache()
    cut = ev.selectExpr("percentile(event_id, 0.5) AS c").collect()[0]["c"]
    inbox = tmp_path / "tk"
    ev.where(F.col("event_id") <= cut).coalesce(1).write.parquet(str(inbox / "b0"))
    ev.where(F.col("event_id") > cut).coalesce(1).write.parquet(str(inbox / "b1"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(inbox))
    )
    q = (
        stream_topk_mg(stream, capacity=CAP)
        .writeStream.format("memory")
        .queryName("stream_topk")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_tk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)

    out = spark.sql("SELECT * FROM stream_topk").collect()
    assert out
    # latest emission per event_type = the max-n_seen rows
    final_n = {}
    for r in out:
        final_n[r.event_type] = max(final_n.get(r.event_type, 0), r.n_seen)
    got = {
        et: {r.user_id: r.est_count for r in out
             if r.event_type == et and r.n_seen == n}
        for et, n in final_n.items()
    }
    rows = [(r.event_id, r.ts, r.user_id, r.event_type) for r in ev.collect()]
    by_type: dict = {}
    for e, t, u, et in rows:
        by_type.setdefault(et, {"b0": [], "b1": []})[
            "b0" if e <= cut else "b1"
        ].append((t, e, u))
    for et, batches in by_type.items():
        seq0 = [u for _, _, u in sorted(batches["b0"])]
        seq1 = [u for _, _, u in sorted(batches["b1"])]
        # the file source's batch order isn't contractual — the stream
        # must equal the python fold of ONE of the two possible orders
        cands = {
            "b0-first": misra_gries_py(seq0 + seq1, CAP),
            "b1-first": misra_gries_py(seq1 + seq0, CAP),
        }
        assert got[et] in cands.values(), (et, got[et], cands)

        # error bounds vs exact counts (order-independent)
        exact: dict = {}
        for u in seq0 + seq1:
            exact[u] = exact.get(u, 0) + 1
        slack = len(seq0 + seq1) // (CAP + 1)
        for u, est in got[et].items():
            assert est <= exact[u] <= est + slack, (et, u)
        for u, c in exact.items():
            if c > slack:
                assert u in got[et], (et, u, c, slack)
