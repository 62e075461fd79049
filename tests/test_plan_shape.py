"""Physical-plan regression tests: the scale posture is part of the
contract. A future edit that silently turns a bucketed equi-join back
into a nested-loop join, or widens a pruned scan, should fail CI — at
sf0.01 both plans "work"; at 100 TB only one does."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from wfc3_cte_monitor_spark.plans.registry import load_all

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = load_all()[name].fn(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_band_join_is_not_nested_loop(spark):
    # the ±30-day epoch match must plan as a hash join on the bucket key
    plan = _plan(spark, "j07_epoch_band_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_flagship_bnlj_only_for_tiny_binspec(spark):
    # cs05 is allowed exactly its two 8-row binspec fan-outs (bounded
    # broadcast nested loops by design); anything more is a regression.
    # formatted explain prints each node twice (tree + details) — count
    # the numbered detail headers.
    plan = _plan(spark, "cs05_results_wide")
    nodes = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(nodes) <= 2, nodes
    assert "CartesianProduct" not in plan


def test_flagship_scan_is_pruned(spark):
    # the orders scan feeding the fileinfo analog must not read the wide
    # payload columns (o_comment/o_totalprice/...)
    plan = _plan(spark, "cs05_results_wide")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert "o_comment" not in cols and "o_totalprice" not in cols, s
        assert "l_comment" not in cols and "l_shipinstruct" not in cols, s


@pytest.mark.parametrize("name", ["d02_lsh_dedup_pipeline", "e02_ann_neardup"])
def test_candidate_generation_never_cross_joins(spark, name):
    # LSH candidate generation must be an equi-join on bucket keys.
    # e02 is allowed exactly ONE BroadcastNestedLoopJoin: the recall
    # audit's brute-force baseline is all-pairs BY DEFINITION, bounded
    # by the 10-row broadcast query side — candidate generation itself
    # must stay equi-join.
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    nodes = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    allowed = 1 if name == "e02_ann_neardup" else 0
    assert len(nodes) <= allowed, nodes


def test_trend_epoch_dimension_has_no_python(spark):
    # the pairwise epoch walk is pure window functions now — no Python
    # evaluation operator may appear in cs03
    plan = _plan(spark, "cs03_cte_vs_time")
    for op in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert op not in plan, op


# A window spec whose FIRST argument carries a sort direction has no
# partition columns — a global window, i.e. a single-task sort funnel.
_GLOBAL_WINDOW = re.compile(r"windowspecdefinition\(\s*[^,()]+ (?:ASC|DESC)")


@pytest.mark.parametrize(
    "name",
    ["e02_ann_neardup", "d02_lsh_dedup_pipeline", "cs05_results_wide",
     "cs03_cte_vs_time", "t01_token_stats", "e01_cosine_topk"],
)
def test_no_global_window_on_scale_paths(spark, name):
    # every row of these queries flows through data-sized intermediates;
    # an unpartitioned window would funnel them through one task. (e01's
    # former exemption — the 16-row centroid numbering — is gone: that
    # window now carries a constant partition key, so ANY unpartitioned
    # window in these plans is a regression.)
    plan = _plan(spark, name)
    m = _GLOBAL_WINDOW.search(plan)
    assert not m, m.group(0)


def test_text_profile_single_scan_before_simhash_join(spark):
    # t02 = one projection branch (which also carries the boilerplate
    # columns via a broadcast flag join — no scan of its own) + one
    # SimHash aggregation branch + one winnowing window branch + one
    # tf-idf (doc, term) aggregation branch; the documents parquet is
    # scanned once PER BRANCH (pruned to (doc_id, text)) and no more —
    # the aggregation shapes (row projection / explode+groupBy vote /
    # posexplode+window / explode+two-level count) cannot share an
    # exchange, and re-reading a pruned columnar scan beats
    # materializing the corpus at scale. The boilerplate suffix-
    # frequency table and the (doc, term) tf relation are separate
    # materialized sidecar relations.
    plan = _plan(spark, "t02_text_profile")
    nodes = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(nodes) <= 4, nodes


def test_ivf_assign_is_single_pass(spark):
    # the fused nearest-centroid assignment must be one Arrow pass over
    # the corpus: no Exchange (the old fan-out + groupBy shuffled N×nlist
    # vector-carrying rows) and exactly one Python eval operator
    from wfc3_cte_monitor_spark.functions.similarity import ivf_assign, ivf_centroids
    from wfc3_cte_monitor_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    df = ivf_assign(emb, ivf_centroids(emb))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan, "assignment must not shuffle the corpus"
    evals = re.findall(r"\(\d+\) ArrowEvalPython", plan)
    assert len(evals) == 1, evals


def test_neardup_cosine_evaluated_once(spark):
    # the near-dup verify must run the cosine UDF once per candidate
    # pair: a `sim >= tau` filter pushed below the projection re-inlines
    # the call and plans a second ArrowEvalPython over the same pairs
    from wfc3_cte_monitor_spark.functions.similarity import neardup_pairs
    from wfc3_cte_monitor_spark.sources.catalog import load_table

    df = neardup_pairs(load_table(spark, SF, "embeddings"), 0.9)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    evals = re.findall(r"\(\d+\) ArrowEvalPython", plan)
    assert len(evals) == 1, evals


def test_d05_sample_is_bounded_topk(spark):
    # the audit sample must plan as TakeOrdered (bounded top-k scan of
    # the corpus), never a global Sort feeding a Limit — the fixed-count
    # sample is what keeps the all-pairs audit O(k²) at any corpus size
    plan = _plan(spark, "d05_minhash_accuracy")
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan


def test_salted_arm_scatters_hot_key(spark):
    # j02's salted arm must join AND partially aggregate on the salt:
    # the shuffled join's big-side exchange partitions on
    # (skew_key, _salt) — 8 partitions share the hot key — and no
    # broadcast join may swallow the skew path
    plan = _plan(spark, "j02_pair_selfjoin")
    assert re.search(r"hashpartitioning\([^)]*_salt", plan), "join not salt-partitioned"
    # the salted join specifically must stay a shuffled hash join — the
    # pair arm contributes a SortMergeJoin regardless, so asserting on
    # SMJ would be vacuous; if the shuffle_hash hint ever stops
    # propagating and the dim broadcasts, this fails loudly
    assert "ShuffledHashJoin" in plan


def test_events_ts_kind_probe(tmp_path):
    # conversion keying must come from the parquet footer annotation
    from wfc3_cte_monitor_spark.sources.catalog import events_ts_kind

    assert events_ts_kind(f"{SF}/events.parquet") in ("ns", "us")
    assert events_ts_kind("/nonexistent/events.parquet") is None

    # a multi-file dataset directory probes via its first part file — an
    # unannotated-INT64 dir must NOT silently fall into the ns assumption
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "events_dir.parquet"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000, 2_000_000], type=pa.int64())}),
        d / "part-00000.parquet",
    )
    assert events_ts_kind(str(d)) == "long"
    # partitionBy layout: part files live one level down
    pdir = tmp_path / "events_part.parquet"
    (pdir / "date=2026-01-01").mkdir(parents=True)
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000], type=pa.int64())}),
        pdir / "date=2026-01-01" / "part-00000.parquet",
    )
    assert events_ts_kind(str(pdir)) == "long"
    # empty (not-yet-populated) dataset dir: nothing to probe
    e = tmp_path / "empty_dir.parquet"
    e.mkdir()
    assert events_ts_kind(str(e)) is None
    # system dirs are pruned: an in-flight _temporary part file must not
    # win the probe over the real part files...
    tdir = tmp_path / "events_tmp.parquet"
    (tdir / "_temporary" / "0").mkdir(parents=True)
    (tdir / "_temporary" / "0" / "part-00000.parquet").write_text("partial")
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000], type=pa.int64())}),
        tdir / "part-00000.parquet",
    )
    assert events_ts_kind(str(tdir)) == "long"
    # ...and a dataset holding ONLY in-flight data counts as
    # not-yet-populated (silent None, no warning)
    t2 = tmp_path / "events_only_tmp.parquet"
    (t2 / "_temporary").mkdir(parents=True)
    (t2 / "_temporary" / "part-00000.parquet").write_text("partial")
    assert events_ts_kind(str(t2)) is None
    # populated dir with NO probeable part file: warn, don't silently
    # assume nanos
    import warnings as _warnings

    w2dir = tmp_path / "weird_dir.parquet"
    w2dir.mkdir()
    (w2dir / "data.csv").write_text("x")
    with _warnings.catch_warnings(record=True) as w2:
        _warnings.simplefilter("always")
        assert events_ts_kind(str(w2dir)) is None
    assert any("no probeable part file" in str(x.message) for x in w2)
    # present-but-unprobeable file warns before assuming ns
    import warnings

    bad = tmp_path / "bad.parquet"
    bad.write_text("not parquet")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert events_ts_kind(str(bad)) is None
    assert any("probe failed" in str(x.message) for x in w)


def test_pair_broadcast_fallback_both_shapes(spark):
    # One code path, two physical shapes: the pair-dimension broadcast
    # hints (pair map, fit re-attach, zero-fill) are governed by a single
    # size-based branch. 'never' (the past-broadcast-size deployment)
    # must yield shuffled equi-joins; 'auto' on this exposure-dimension
    # fixture keeps the broadcast bet. Rows must be identical either way.
    from wfc3_cte_monitor_spark.plans.domain_queries import analog_fileinfo, analog_phot
    from wfc3_cte_monitor_spark.plans.pipeline import compute_results

    def plan_of(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    fi = analog_fileinfo(spark, SF)
    ph = analog_phot(spark, SF)
    spark.conf.set("spark.wfc3.pipeline.pairBroadcast", "never")
    try:
        never_df = compute_results(fi, ph, aperture=3)
        never_plan = plan_of(never_df)
    finally:
        spark.conf.set("spark.wfc3.pipeline.pairBroadcast", "auto")
    auto_df = compute_results(fi, ph, aperture=3)
    auto_plan = plan_of(auto_df)

    assert ("SortMergeJoin" in never_plan) or ("ShuffledHashJoin" in never_plan), (
        "fallback shape must shuffle the pair joins"
    )
    assert "BroadcastHashJoin" in auto_plan
    got_auto = sorted(map(tuple, auto_df.collect()))
    got_never = sorted(map(tuple, never_df.collect()))
    assert got_auto == got_never


def test_pair_broadcast_auto_keeps_flagship_broadcast(spark):
    # Regression guard for the join-output-estimate trap: Catalyst sizes
    # a no-stats self-join as ~the product of its children (2.5 TB for a
    # 150-row pair relation), which once demoted every pair broadcast in
    # AUTO mode. On the small analog fixture auto must keep the pair
    # joins broadcast — no SortMergeJoin anywhere in the flagship plan.
    plan = _plan(spark, "cs05_results_wide")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_size_estimate_threads_through_checkpoint(spark):
    # Empirical pin (checked while closing the r5 ADVICE finding): on
    # THIS Spark, localCheckpoint's LogicalRDD preserves originStats, so
    # the checkpointed fileinfo was never actually blind — the auto
    # branch sees the pre-checkpoint estimate either way. The explicit
    # attach_size_estimate threading stays as insurance for plans whose
    # RDD root genuinely lacks stats (and for engines that drop
    # originStats); this test pins BOTH properties: stats survive the
    # checkpoint, and an attached estimate takes precedence over them.
    from wfc3_cte_monitor_spark.checkpointing import materialize
    from wfc3_cte_monitor_spark.plans.domain_queries import analog_fileinfo
    from wfc3_cte_monitor_spark.plans.pipeline import (
        _pairs_broadcastable,
        _plan_size_bytes,
        attach_size_estimate,
    )

    fi = analog_fileinfo(spark, SF)
    est = _plan_size_bytes(fi)
    assert est is not None and est > 0

    ck = attach_size_estimate(materialize(fi), fi)
    # origin stats survive the checkpoint boundary on this Spark version
    assert _plan_size_bytes(ck) == est
    assert ck._wfc3_size_est == est

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # small fixture under the default threshold → broadcast
        assert _pairs_broadcastable(ck) is True
        # attached estimate takes precedence over plan stats: a huge
        # estimate demotes even though the plan's own stats are tiny
        big = materialize(analog_fileinfo(spark, SF))
        big._wfc3_size_est = 1 << 50
        assert _pairs_broadcastable(big) is False, (
            "attached estimate must drive the demotion decision"
        )
        # threshold so small any real estimate exceeds 4x it → demote
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        assert _pairs_broadcastable(ck) is False
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_contam_eval_side_broadcasts(spark):
    # decontamination shape: the eval shingle set (small by nature) must
    # reach the train side as a broadcast semi-join — a shuffled join
    # here would move the corpus-sized shingle table on the shingle key
    # for a ~1%-slice probe.
    plan = _plan(spark, "d03_minhash_lsh")
    m = re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    assert m, "contam eval-shingle semi-join must be broadcast"


def test_t01_dict_bpe_plan_shape(spark):
    # The dictD family's scale posture inside t01: no cartesian
    # products anywhere in the 21-arm plan; every nested-loop join in
    # t01 is a 1-ROW broadcast by design (the D family's per-round
    # merge maps — a global agg, always exactly one row — the dict
    # scalar, and the pre-existing mix/rank scalar relations), so the
    # count is pinned at its measured value: 5 pre-D + the encode and
    # decode chains (2·rounds) + the dict-summary scalar. The
    # corpus-side translate join on tok rides a broadcast hash join at
    # gate scale (the dictionary is vocabulary-sized; co-partitioned
    # shuffle join past the threshold at scale).
    import re as _re

    from wfc3_cte_monitor_spark.plans.bpe_dict_queries import T01D_ROUNDS

    plan = _plan(spark, "t01_token_stats")
    assert "CartesianProduct" not in plan
    bnlj = _re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(bnlj) <= 5 + 2 * T01D_ROUNDS + 1, f"{len(bnlj)} nested-loop joins"
    assert "BroadcastHashJoin" in plan




def _rdd_scans(df) -> list[str]:
    qe = df._jdf.queryExecution()
    plans = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    return re.findall(r"LogicalRDD|ExistingRDD", plans)


def test_constant_tables_plan_without_python_rdd(spark, tmp_path):
    # The engine's constant tables (bin spec, zero-fill, salt dimension,
    # prefix mapping, WCS table, skip list) are JVM-only relations: a
    # createDataFrame(<list>) would scan a Python RDD (one Python task
    # per partition) inside an otherwise pure-JVM plan. Each literal_table
    # must equal the createDataFrame it replaced (names, types, rows),
    # and every plan that carries one must have no RDD scan at all.
    from pyspark.sql.types import DataType

    from wfc3_cte_monitor_spark.operators.bins import FLUX_BINS, binspec_df
    from wfc3_cte_monitor_spark.plans.domain_queries import (
        _S01_WCS,
        analog_fileinfo,
        analog_phot,
    )
    from wfc3_cte_monitor_spark.plans.parity_queries import _SALT_DIM
    from wfc3_cte_monitor_spark.plans.pipeline import compute_results, query_for_pair
    from wfc3_cte_monitor_spark.sources.catalog import literal_table
    from wfc3_cte_monitor_spark.sources.discovery import DEFAULT_SKIP_VISITS, apply_skip_lists

    tables = {
        "bin_lo double, bin_hi double, fluxbin string": [
            (float(lo), float(hi), f"{int(lo)}_{int(hi)}") for lo, hi in FLUX_BINS
        ],
        "fluxbin string, aperture int": [
            (f"{int(lo)}_{int(hi)}", a) for lo, hi in FLUX_BINS for a in (3, 5)
        ],
        "skew_key bigint, gain double": _SALT_DIM,
        "prefix string, label string": [
            ("1", "urgent"), ("2", "high"), ("3", "medium"), ("4", "unspecified"), ("5", "low")
        ],
        "targname string, ra0 double, dec0 double, ax double, bx double,"
        " x0 double, ay double, by double, y0 double": _S01_WCS,
        "proposid string, visit string": DEFAULT_SKIP_VISITS,
    }
    for ddl, rows in tables.items():
        new = literal_table(spark, rows, ddl)
        assert not _rdd_scans(new), ddl
        want = [(f.name, f.dataType) for f in DataType.fromDDL(ddl).fields]
        assert [(f.name, f.dataType) for f in new.schema] == want
        assert new.collect() == spark.createDataFrame(rows, ddl).collect()
        empty = literal_table(spark, [], ddl)
        assert [(f.name, f.dataType) for f in empty.schema] == want
        assert empty.count() == 0 and not _rdd_scans(empty)
    assert [(f.name, f.dataType.simpleString()) for f in binspec_df(spark).schema] == [
        ("bin_lo", "double"), ("bin_hi", "double"), ("fluxbin", "string")
    ]

    # the sites, over parquet-rooted inputs: the multi-aperture zero-fill
    # (pairs passed un-checkpointed so the plan has no RDD leaf of its
    # own), the three registered queries and the skip-list anti-join
    fi, ph = analog_fileinfo(spark, SF), analog_phot(spark, SF)
    pairs = query_for_pair(fi).select("targname", "imagename_1", "imagename_2").withColumn(
        "pair_id", F.xxhash64("targname", "imagename_1", "imagename_2")
    )
    sites = {"zero_fill": compute_results(fi, ph, aperture=[3, 5], pairs=pairs)}
    for name in ("j02_pair_selfjoin", "j08_prefix_lookup", "s01_header_derivations"):
        sites[name] = load_all()[name].fn(spark, SF)
    images = tmp_path / "images"
    spark.range(4).select(
        F.lit("12379").alias("proposid"),
        F.format_string("%02d", F.col("id") + 6).alias("visit"),
    ).write.parquet(str(images))
    kept = apply_skip_lists(spark.read.parquet(str(images)))
    sites["skip_lists"] = kept
    for name, df in sites.items():
        assert not _rdd_scans(df), name
    assert sorted(r["visit"] for r in kept.collect()) == ["06", "08", "09"]
