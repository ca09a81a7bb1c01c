"""Physical-plan quality gates — the scale story, asserted.

Each test pins a plan property that matters at 100 TB: filters reaching the
parquet scan, column-pruned ReadSchema, broadcast joins on dimensions,
top-k via TakeOrderedAndProject (no global sort), rank-filter via
WindowGroupLimit, and map-side partial aggregation. A regression here is a
performance bug even when results stay correct.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest

from gh_archive_data_pipeline_spark.plans.registry import all_queries

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    df = all_queries()[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q01_pushdown_and_partial_agg(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    # column pruning: payload columns the query never touches stay unread
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_q02_all_predicates_pushed(spark):
    plan = plan_of(spark, "q02_filter_predicates")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for token in ("GreaterThanOrEqual(p_size,10)", "LessThanOrEqual(p_size,30)",
                  "In(p_type,", "StringContains(p_name,a)",
                  "GreaterThan(p_retailprice,900.0)"):
        assert token in pushed, f"missing pushdown: {token}\n{pushed}"


def test_q05_broadcasts_dimensions(spark):
    plan = plan_of(spark, "q05_region_revenue")
    # customer, nation, region all ride broadcast joins; the remaining join
    # (lineitem⋈orders) may be broadcast at tiny SF via AQE — assert at least
    # the three explicit dimension broadcasts.
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("BroadcastExchange") >= 3


def test_q08_anti_join_prunes_probe_columns(spark):
    plan = plan_of(spark, "q08_customers_without_orders")
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    orders_schema = [l for l in read_schemas if "o_custkey" in l][0]
    assert "o_totalprice" not in orders_schema  # single-column probe scan


def test_q19_window_group_limit(spark):
    plan = plan_of(spark, "q19_top_parts_per_brand")
    assert "WindowGroupLimit" in plan  # rn<=k never materializes full ranks


def test_q23_top_k_avoids_global_sort(spark):
    plan = plan_of(spark, "q23_top_orders")
    assert "TakeOrderedAndProject" in plan


def test_q10_band_join_is_broadcast_nested_loop(spark):
    plan = plan_of(spark, "q10_price_band_join")
    assert "BroadcastNestedLoopJoin" in plan  # correct strategy for theta join


def test_q44_corpus_never_shuffles(spark):
    # brute-force ANN: queries broadcast; the only exchange the corpus rows
    # cross is the final per-query top-k window shuffle of scored rows.
    plan = plan_of(spark, "q44_embedding_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q53_asof_single_shuffle(spark):
    plan = plan_of(spark, "q53_asof_last_purchase", mode="simple")
    # union-sort as-of join: exchanges only for the key repartition (+AQE
    # reuse); crucially NO nested-loop/cartesian range join.
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_q67_correlated_subquery_decorrelates(spark):
    # Catalyst must rewrite the correlated scalar subquery into an
    # aggregate+join — a per-row re-execution would be O(n²) at scale.
    plan = plan_of(spark, "q67_correlated_scalar", mode="simple")
    assert "Join" in plan
    assert "Subquery" not in plan  # no scalar-subquery node survives planning


def test_q89_tfidf_broadcasts_and_group_limits(spark):
    plan = plan_of(spark, "q89_tfidf_top_terms")
    assert "BroadcastHashJoin" in plan          # df/idf dimension broadcast
    assert "WindowGroupLimit" in plan           # per-doc top-3 pre-filter


def test_q93_stratified_sample_group_limit(spark):
    plan = plan_of(spark, "q93_stratified_sample")
    assert "WindowGroupLimit" in plan           # top-50 kept before shuffle


def test_q98_windows_run_on_aggregate_not_fact(spark):
    """The ratio-to-report windows must consume the 25-row nation aggregate,
    not the orders fact table: the aggregate happens BELOW both windows."""
    plan = plan_of(spark, "q98_revenue_share")
    first_window = plan.find("Window")
    last_agg = plan.rfind("HashAggregate")
    assert first_window != -1 and last_agg != -1
    # formatted-plan tree prints downstream (window) operators above the
    # upstream aggregate; window must appear before (above) the final agg
    assert first_window < last_agg


def test_q84_components_plan_shape(spark):
    plan = plan_of(spark, "q84_dedup_clusters")
    # after convergence the surviving plan reads checkpointed labels — no
    # re-derivation of the whole iteration chain per action
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan


def test_q87_reconcile_shuffles_digests_not_payloads(spark):
    plan = plan_of(spark, "q87_reconcile_tables", mode="simple")
    # the full-outer join's exchanges carry (key, md5) — the md5 projection
    # happens below the exchange, so no payload column crosses the shuffle
    exchanges = [l for l in plan.splitlines()
                 if "Exchange hashpartitioning" in l]
    assert exchanges, plan
    assert "o_totalprice" not in " ".join(exchanges)


def test_partitioned_write_prunes_at_read(spark, tmp_path):
    """Partitioned lake layout must turn partition-key filters into
    PartitionFilters (directory pruning) — zero data files read from
    excluded partitions, the first-order scan reducer at 100 TB."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from gh_archive_data_pipeline_spark.sources.writers import write_parquet

    df = spark.range(1000).select(
        "id", (F.col("id") % 7).alias("bucket"), F.rand(42).alias("v"))
    out = str(tmp_path / "part")
    write_parquet(df, out, partition_by=["bucket"])
    back = spark.read.parquet(out).filter("bucket = 3").select("id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "bucket" in pf[0], plan
    assert back.count() == len([i for i in range(1000) if i % 7 == 3])


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling: a 90%-hot key must be split into multiple
    sub-partitions at runtime (SortMergeJoin(skew=true)) instead of one
    straggler task — the no-code-change answer to key skew that complements
    the explicit salting in operators/skew.py."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 50), F.col("id").cast("string")).alias("pad"))
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("r").alias("rv"))
        j = left.join(right, "k").select(F.length("pad").alias("l"))
        assert len(j.collect()) == 180_100
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_join_strategy_hints_respected(spark):
    """Join strategy hints are the manual override when statistics mislead
    the planner — each must actually change the physical join."""
    from pyspark.sql import functions as F

    big = spark.range(50_000).select(F.col("id").alias("k"), F.lit(1).alias("x"))
    small = spark.range(500).select(F.col("id").alias("k"), F.lit(2).alias("y"))

    def strat(df):
        import contextlib
        import io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    assert "BroadcastHashJoin" in strat(big.join(small.hint("broadcast"), "k"))
    assert "ShuffledHashJoin" in strat(big.join(small.hint("shuffle_hash"), "k"))
    assert "SortMergeJoin" in strat(big.join(small.hint("merge"), "k"))


def _scan_rows(metrics) -> int:
    """Rows produced by scan nodes, read off plan_metrics' rows."""
    return sum(r.value for r in metrics.collect()
               if "Scan" in r.node and r.metric == "numOutputRows")


def test_plan_metrics_report_rows_read(spark):
    """EXPLAIN-ANALYZE surface: executed-plan metrics land as queryable
    rows, and the scan's output-rows metric equals the table row count."""
    from gh_archive_data_pipeline_spark.plans.metrics import plan_metrics

    df = spark.read.parquet(f"{SF}/nation.parquet")
    m = plan_metrics(df, spark)
    assert m.count() > 0
    assert _scan_rows(m) == 25


def test_cached_table_reads_from_memory(spark):
    """cache() must turn the second read into InMemoryTableScan — the
    materialized-view primitive for reused intermediates."""
    import contextlib
    import io

    df = spark.read.parquet(f"{SF}/region.parquet").cache()
    try:
        df.count()  # materialize
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        assert "InMemoryTableScan" in buf.getvalue()
    finally:
        df.unpersist()


def test_q140_bloom_prefilter_never_shuffles_fact(spark):
    """The bloom path must be pure broadcast reduction: four successive
    BroadcastHashJoin left-semis (3 signature probes + exact verify) and no
    SortMergeJoin; the only Exchange is the final group-by's."""
    plan = plan_of(spark, "q140_bloom_prefilter_join")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q137_fuzzy_join_is_blocked_not_cross(spark):
    """The levenshtein join must key on the block columns (an equi join with
    the distance as residual filter), never a cartesian product."""
    plan = plan_of(spark, "q137_fuzzy_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q129_weighted_sample_is_topk_not_global_sort(spark):
    """A-ES sampling must plan as TakeOrderedAndProject (per-partition
    top-k + driver merge of 50 rows), not a full Sort+Exchange of the
    corpus."""
    plan = plan_of(spark, "q129_weighted_sample")
    assert "TakeOrderedAndProject" in plan


def test_q150_interval_join_is_equi_not_nested_loop(spark):
    """The bucketized interval join must plan as a hash join on the bucket
    key with containment as residual — never a nested-loop range join."""
    plan = plan_of(spark, "q150_interval_overlap_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q155_integrity_audit_is_broadcast_anti(spark):
    """Each FK edge must check via a broadcast anti join — the fact tables
    never shuffle for the audit."""
    plan = plan_of(spark, "q155_referential_integrity")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "LeftAnti" in plan


def test_q141_incremental_join_broadcasts_deltas(spark):
    """The three delta terms must broadcast their delta side; only the
    base x base term may shuffle both inputs."""
    plan = plan_of(spark, "q141_incremental_join")
    assert plan.count("BroadcastHashJoin") >= 3


def test_q142_binning_has_no_global_sort(spark):
    """Quantile binning must not sort the fact: one aggregation for the
    bounds, a broadcast, and a 10-group agg."""
    plan = plan_of(spark, "q142_quantile_binning")
    assert "Sort [" not in plan.split("AdaptiveSparkPlan")[0]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q167_basket_stats_sides_broadcast(spark):
    """Market basket: the brand-frequency and order-count joins must
    broadcast; only the within-order pair aggregation shuffles."""
    plan = plan_of(spark, "q167_market_basket")
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin") >= 3


def test_q178_wau_has_no_range_join(spark):
    """Rolling WAU must use the explode-to-covered-days rewrite: an explode
    (Generate) feeding an equi-keyed aggregate. The only join allowed is
    the 1-row max-day broadcast; a SortMergeJoin or a range join of the
    user-day residue against a day spine would be the wrong shape."""
    plan = plan_of(spark, "q178_rolling_distinct_users", mode="simple")
    assert "Generate explode" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the max-day scalar


def test_q142_and_q135_share_two_phase_shape(spark):
    """Winsorize: exact percentile bounds aggregate then broadcast —
    no sort of the fact."""
    plan = plan_of(spark, "q135_winsorized_scaling")
    assert "BroadcastExchange" in plan


def test_q202_negative_sampling_group_limit(spark):
    # per-anchor rank <= 3 must push into WindowGroupLimit (partial+final),
    # and the anchor side must broadcast — no shuffle of the candidate set
    plan = plan_of(spark, "q202_negative_sampling")
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan  # label != label, build = anchors


def test_q196_distinctive_terms_broadcast_marginals(spark):
    # lang/token marginal tables are vocab-sized: both joins broadcast, and
    # the top-3-per-lang rank runs as WindowGroupLimit
    plan = plan_of(spark, "q196_distinctive_terms")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_q194_bm25_joins_stay_broadcast(spark):
    # df (per-term) and corpus stats (1 row) must never shuffle the tf table
    plan = plan_of(spark, "q194_bm25_scores")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_q189_pagerank_round_is_join_plus_agg(spark):
    # one iteration = hash join on node id + partial/final aggregate;
    # nothing quadratic, nothing collected
    plan = plan_of(spark, "q189_pagerank_event_graph")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_q190_capped_sessions_single_shuffle(spark):
    # all three windows and the final groupBy share the user_id
    # partitioning: exactly one Exchange over the event data
    plan = plan_of(spark, "q190_capped_sessions", mode="simple")
    assert plan.count("Exchange hashpartitioning(user_id") <= 2  # data + AQE read
    assert "CartesianProduct" not in plan


def test_q286_bootstrap_replicas_broadcast(spark):
    # the 32-replica dimension must ride a broadcast, never shuffle the fact
    plan = plan_of(spark, "q286_poisson_bootstrap")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the per-replica means reduce with partial aggregation
    assert plan.count("HashAggregate") >= 2


def test_q292_conformal_model_broadcasts(spark):
    # train model + q_hat residues broadcast back onto the fact scans
    plan = plan_of(spark, "q292_conformal_interval")
    assert plan.count("BroadcastHashJoin") >= 2
    # hash-bucket filter evaluates in the scan stage, not a separate shuffle
    assert "SortMergeJoin" not in plan


def test_q295_triangle_joins_are_shuffle_hash_or_smj(spark):
    # wedge-close joins key on node ids — any hash strategy is fine, but the
    # plan must not degenerate to a nested-loop cross product
    plan = plan_of(spark, "q295_triangle_count")
    assert "CartesianProduct" not in plan


def test_q300_backtest_single_series_shuffle(spark):
    # exactly three exchanges: the daily reduction, the per-series window
    # repartition, and the final orderBy — nothing data-sized beyond those
    import re

    plan = plan_of(spark, "q300_rolling_backtest")
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex <= 3, plan
    assert "Window" in plan


def test_q289_sorted_neighborhood_partitions_by_block(spark):
    # ONE block-partitioned window pass (both lead offsets stacked by
    # explode), never one window per offset and never a global-order window
    import re

    plan = plan_of(spark, "q289_sorted_neighborhood")
    n_win = len(re.findall(r"^\(\d+\) Window", plan, re.M))
    assert n_win == 1, plan
    # the exchange feeding the window hashes on block, not SinglePartition
    assert "hashpartitioning(block" in plan, plan


def test_q324_not_in_compiles_to_null_aware_anti(spark):
    # NOT IN must become a (null-aware) anti join, never a cross filter
    plan = plan_of(spark, "q324_q16_shape")
    assert "LeftAnti" in plan or "left_anti" in plan.lower()
    assert "CartesianProduct" not in plan


def test_q320_knn_allpairs_broadcasts_one_side(spark):
    # the exact all-pairs baseline must broadcast the smaller relation
    plan = plan_of(spark, "q320_knn_accuracy")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q318_gap_sweep_single_window_pass(spark):
    import re

    plan = plan_of(spark, "q318_session_gap_sweep")
    n_win = len(re.findall(r"^\(\d+\) Window", plan, re.M))
    assert n_win == 1, plan


def test_plan_snapshot_gate_trips_on_lost_broadcast(spark):
    """The bench's host-noise-immune regression gate: a deliberately broken
    plan (broadcast join demoted to sort-merge) must move shuffle_records
    enough that check_plan_snapshot flags it, while re-running the GOOD plan
    against its own snapshot stays clean. This is the property that makes
    shuffle counters the primary perf signal — contention can inflate wall
    time 20x but cannot move an accumulator total."""
    from bench import check_plan_snapshot
    from gh_archive_data_pipeline_spark.plans.metrics import (
        executed_shuffle_summary,
    )

    big = spark.range(50_000).selectExpr("id % 100 AS k", "id AS v")
    small = spark.range(100).selectExpr("id AS k", "id * 2 AS w")

    def run(hint: str) -> dict:
        df = big.join(small.hint(hint), "k").groupBy("k").count()
        df.collect()
        return executed_shuffle_summary(df)

    good = run("broadcast")
    bad = run("merge")  # the "regression": big side now shuffles

    snapshot = {"q_demo": {"shuffle_records": good["shuffle_records"],
                           "rows_read": good["rows_read"]}}
    # good plan vs its own snapshot: clean
    assert check_plan_snapshot({"q_demo": good}, snapshot) == {}
    # broken plan vs snapshot: flagged on shuffle_records
    flagged = check_plan_snapshot({"q_demo": bad}, snapshot)
    assert "shuffle_records" in flagged.get("q_demo", {}), (good, bad)


def test_plan_snapshot_gate_accepts_listed_alternates():
    """A snapshot entry may list SEVERAL admissible counter values for a
    legitimately bistable executed plan (q374: AQE's SMJ->BHJ conversion
    races the build-side exchange's materialization, so one exchange's
    records appear or not depending on stage-submission timing). The gate
    must pass a measurement near EITHER listed value and still flag one
    near neither."""
    from bench import check_plan_snapshot

    snapshot = {"q_demo": {"shuffle_records": [11631, 6631],
                           "rows_read": 13313}}
    for admissible in (11631, 6631, 11000, 7000):
        got = {"shuffle_records": admissible, "rows_read": 13313}
        assert check_plan_snapshot({"q_demo": got}, snapshot) == {}, admissible
    # a value within tolerance of NO listed alternate still flags
    for regressed in (20000, 3000):
        got = {"shuffle_records": regressed, "rows_read": 13313}
        flagged = check_plan_snapshot({"q_demo": got}, snapshot)
        assert "shuffle_records" in flagged.get("q_demo", {}), regressed


def test_normalized_vs_baseline_clamps_and_scales():
    """The canary normalization contract: a contended run (host_ratio > 1)
    scales reported ratios down by exactly the measured contention; a fast
    host (ratio < 1) is clamped to 1.0 so normalization can excuse slowness
    but never flatter the numbers; queries missing a baseline entry are
    excluded from both per-query and total."""
    from bench import normalized_vs_baseline

    timings = {"qa": 3.0, "qb": 1.0, "q_new": 9.9}
    baseline = {"qa": 1.0, "qb": 1.0}
    # contended run measured 2x slow: raw 3.0x/1.0x -> normalized 1.5x/0.5x
    per, total = normalized_vs_baseline(timings, baseline, 2.0)
    assert per == {"qa": 1.5, "qb": 0.5}
    assert total == 1.0  # (3+1)/(2*2)
    # fast host clamps: identical to raw
    per_fast, total_fast = normalized_vs_baseline(timings, baseline, 0.8)
    per_raw, total_raw = normalized_vs_baseline(timings, baseline, 1.0)
    assert (per_fast, total_fast) == (per_raw, total_raw) == (
        {"qa": 3.0, "qb": 1.0}, 2.0)
    # empty intersection -> no total
    assert normalized_vs_baseline({"x": 1.0}, baseline, 1.0) == ({}, None)


def test_drain_prep_tail_bounded_and_stops_when_quiet(monkeypatch):
    """Round-9 canary fix: the pre/post-triad drain (a) returns only after
    TWO consecutive untimed canaries land within 3x of idle baseline (the
    cleanup burst can straddle a single quiet sample — a 31 s first
    recorded sample was measured behind a single-quiet drain), (b) a
    spike between quiet samples resets the requirement, (c) it gives up
    after at most 8 runs on a persistently loaded host (it can only eat
    the prep artifact, never mask sustained contention)."""
    import bench

    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    calls = []

    def fake_canary(spark):
        calls.append(1)
        # two spiked samples (the prep tail), then quiet
        return (bench.CANARY_BASELINE_SEC * 30 if len(calls) < 3
                else bench.CANARY_BASELINE_SEC)

    monkeypatch.setattr(bench, "canary_once", fake_canary)
    bench.drain_prep_tail(None)
    assert len(calls) == 4  # spike, spike, quiet, quiet
    # a spike BETWEEN quiet samples resets the consecutive counter
    calls.clear()
    pattern = [1.0, 30.0, 1.0, 1.0]  # quiet, late burst, quiet, quiet

    def straddle(spark):
        calls.append(1)
        return bench.CANARY_BASELINE_SEC * pattern[len(calls) - 1]

    monkeypatch.setattr(bench, "canary_once", straddle)
    bench.drain_prep_tail(None)
    assert len(calls) == 4
    # persistently loaded host: bounded at `limit` runs, then proceeds
    calls.clear()
    monkeypatch.setattr(
        bench, "canary_once",
        lambda spark: (calls.append(1), bench.CANARY_BASELINE_SEC * 30)[1])
    bench.drain_prep_tail(None)
    assert len(calls) == 8


def test_capped_host_ratio_median_and_cap():
    """The round-8 canary contract: (a) the ratio is the MEDIAN of the full
    interleaved pre/mid/post sample list, so one contention spike landing on
    one sample cannot dominate (BENCH_r07: a 2-sample mean implied ~65x
    while queries ran 0.84-2.77x); (b) the normalization divisor is capped
    at the worst raw per-query inflation — a host ratio beyond what any
    query experienced is not what min-of-k absorbed."""
    from bench import CANARY_BASELINE_SEC, capped_host_ratio

    b = CANARY_BASELINE_SEC
    # seven near-idle samples, one 65x spike: median stays ~1x
    samples = [b, b * 1.1, b * 0.9, b * 65, b, b * 1.2, b]
    measured, used = capped_host_ratio(samples, {"qa": 1.5, "qb": 2.77})
    assert measured == 1.0 and used == 1.0
    # sustained 10x contention, worst query only 2.77x raw: divisor capped
    measured, used = capped_host_ratio([b * 10] * 5, {"qa": 1.5, "qb": 2.77})
    assert measured == 10.0 and used == 2.77
    # sustained contention BELOW the worst query: divisor = the median
    measured, used = capped_host_ratio([b * 2] * 4, {"qa": 3.0})
    assert measured == 2.0 and used == 2.0
    # no baseline intersection (sf != 0.1): no cap to apply
    measured, used = capped_host_ratio([b * 4] * 3, {})
    assert measured == used == 4.0
    # even-length list: mean of the middle two
    measured, used = capped_host_ratio([b, b, b * 3, b * 3], {"qa": 9.0})
    assert measured == used == 2.0


def test_host_speed_canary_detects_planted_load(spark):
    """The canary must move with host contention: its median under planted
    CPU load (multiprocessing busy-spinners on every core) reads measurably
    slower than an unloaded median taken by the same session moments
    apart. This is the property that lets a driver-run BENCH adjudicate
    its own contention instead of needing an idle re-run."""
    import multiprocessing as mp

    from bench import CANARY_BASELINE_SEC, host_speed_canary

    load1 = float(open("/proc/loadavg").read().split()[0])
    if load1 > 8.0:
        pytest.skip(f"ambient host load {load1} — the 'quiet' sample would "
                    "already be contended and the planted-load contrast "
                    "meaningless (this shared VM sees 20x neighbor windows)")
    quiet = host_speed_canary(spark, samples=3)
    # loadavg is a lagging, whole-minute statistic: a concurrent local[8]
    # pytest job was observed to keep it under the gate while stretching
    # this "quiet" sample to 2.3x the committed idle baseline — and the
    # baseline itself is the better contention detector. Retry once, then
    # skip rather than assert a contrast whose quiet side is already loaded.
    if quiet > CANARY_BASELINE_SEC * 1.5:
        quiet = host_speed_canary(spark, samples=3)
    if quiet > CANARY_BASELINE_SEC * 1.5:
        pytest.skip(f"quiet canary sample {quiet:.2f}s > 1.5x the idle "
                    f"baseline {CANARY_BASELINE_SEC}s — ambient contention "
                    "that loadavg missed; the planted-load contrast would "
                    "be meaningless")

    stop = mp.Event()

    def burn(ev):
        while not ev.is_set():
            sum(i * i for i in range(10_000))

    procs = [mp.Process(target=burn, args=(stop,), daemon=True)
             for _ in range(os.cpu_count() or 8)]
    for p in procs:
        p.start()
    try:
        loaded = host_speed_canary(spark, samples=3)
    finally:
        stop.set()
        for p in procs:
            p.join(timeout=10)
    # full-core spinners roughly halve the JVM's share; 1.3x is a wide
    # margin that still proves the signal direction
    assert loaded > quiet * 1.3, (quiet, loaded)


def test_executed_shuffle_summary_sees_through_aqe(spark):
    """plan_metrics/executed_shuffle_summary must unwrap AdaptiveSparkPlan
    and QueryStage nodes — before the round-4 fix, any shuffling query
    reported all-zero metrics because AQE hides its subtree from children()."""
    from pyspark.sql import functions as F

    from gh_archive_data_pipeline_spark.plans.metrics import (
        executed_shuffle_summary,
        plan_metrics,
    )

    df = (spark.read.parquet(f"{SF}/orders.parquet")
          .groupBy("o_orderpriority").agg(F.count("*").alias("n")))
    df.collect()
    s = executed_shuffle_summary(df)
    assert s["shuffle_records"] > 0  # the partial-agg exchange
    assert s["rows_read"] == 1500
    m = plan_metrics(df, spark)
    assert _scan_rows(m) == 1500


def test_q359_correlated_min_decorrelates(spark):
    """Q2's correlated scalar MIN must become an aggregate + join, never a
    per-outer-row re-execution (no nested-loop cross product in the plan)."""
    plan = plan_of(spark, "q359_q2_shape")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 1  # the decorrelated min
    # part filters push into the scan
    assert "PushedFilters" in plan and "p_size" in plan


def test_q362_left_join_survives_condition_filter(spark):
    """Q13's orderpriority filter lives in the LEFT join's ON clause; the
    optimizer must NOT convert the join to inner (zero-order customers
    would vanish from the histogram)."""
    plan = plan_of(spark, "q362_q13_shape", mode="simple")
    assert "LeftOuter" in plan


def test_q363_correlated_avg_decorrelates(spark):
    plan = plan_of(spark, "q363_q17_shape")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # per-part avg + final sum


def test_q364_in_over_grouped_having_is_semi_join(spark):
    plan = plan_of(spark, "q364_q20_shape", mode="simple")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q373_disjunctive_residuals_push_to_scans(spark):
    """Q19's OR-of-conjunctions mixes columns from both join sides; the
    planner must still derive single-table residuals and push them: the
    part scan gets a brand/size disjunction, the join stays hash-based."""
    plan = plan_of(spark, "q373_q19_shape")
    assert "CartesianProduct" not in plan
    assert "PushedFilters" in plan
    # the derived part-side residual reaches a scan as a pushed Or filter
    assert "Or(" in plan and "p_brand" in plan, plan


def test_q368_top20_is_take_ordered(spark):
    """Q10's ORDER BY agg DESC LIMIT 20 must plan as TakeOrderedAndProject
    (partial per-partition top-k), never a global sort of all groups."""
    plan = plan_of(spark, "q368_q10_shape", mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_q371_revenue_view_not_reexecuted_per_row(spark):
    """Q15's scalar max over the revenue view must be a one-row subquery
    reuse, not a correlated re-execution: no nested-loop product, and at
    most two aggregations of lineitem appear (view + max)."""
    plan = plan_of(spark, "q371_q15_shape")
    assert "CartesianProduct" not in plan


def test_q374_curation_pipeline_plan_is_sane(spark):
    """The end-to-end curation composition must stay join/agg-shaped:
    no cartesian products anywhere, and the near-dup stage's band join
    present (the only quadratic work is inside LSH candidate buckets)."""
    plan = plan_of(spark, "q374_corpus_curation", mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q375_exists_pair_compiles_to_semi_and_anti(spark):
    """Q21's correlated EXISTS / NOT EXISTS pair over the same fact must
    decorrelate to one left-semi and one left-anti join on l_orderkey —
    never a per-row re-execution (no nested-loop product) — and the
    LIMIT 100 must plan as TakeOrderedAndProject."""
    plan = plan_of(spark, "q375_q21_shape", mode="simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q376_incremental_probe_all_broadcast_no_smj(spark):
    """Incremental dedup's scale contract: the delta (and candidate set)
    broadcasts; every join against index data is a BroadcastHashJoin —
    the materialized corpus index is never shuffled or sort-merged."""
    plan = plan_of(spark, "q376_incremental_near_dup")
    assert plan.count("BroadcastHashJoin") >= 3  # band probe + 2 verifies
    assert "SortMergeJoin" not in plan


def test_q377_codebook_broadcasts_assignment_shuffle_free(spark):
    """SemDeDup's assignment pass must not shuffle the corpus: the 1-row
    codebook rides a broadcast nested-loop crossJoin and cluster ids are
    computed per-row by HOFs."""
    plan = plan_of(spark, "q377_semantic_dedup")
    assert "BroadcastNestedLoopJoin" in plan


def test_q385_mining_broadcasts_queries_and_limits_window(spark):
    """Hard-negative mining's scale contract: anchors broadcast into a
    streamed corpus scan (BNLJ carries the id+label disqualifiers — the
    corpus never shuffles pre-score), and the per-anchor top-5 compiles to
    WindowGroupLimit so only partial top-k rows reach the rank exchange."""
    plan = plan_of(spark, "q385_hard_negative_mining")
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_q386_balance_audit_reads_only_partition_columns(spark):
    """The IVF balance audit is metadata-shape work: its scans must read
    ZERO data columns — cell and ingest are partition-directory values, so
    ReadSchema is the empty struct and no vector bytes are touched."""
    plan = plan_of(spark, "q386_ivf_balance_audit")
    import re

    schemas = re.findall(r"ReadSchema: ([^\s,]+)", plan)
    assert schemas and all(s == "struct<>" for s in schemas), schemas


def test_q402_ivf_pq_all_broadcast_group_limited(spark):
    """IVF-PQ's scale contract: probes and per-query ADC tables broadcast
    into one streamed corpus scan (no sort-merge join anywhere — the corpus
    never shuffles pre-rank) and the per-query top-5 compiles to
    WindowGroupLimit so only partial top-k rows reach the rank exchange."""
    plan = plan_of(spark, "q402_ivf_pq_search")
    assert plan.count("BroadcastHashJoin") >= 2  # probes + qtab
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_q403_projection_report_single_scan_small_shuffle(spark):
    """The projection report reads the embeddings ONCE (components are plan
    literals, projections are scan-side folds) and shuffles only the
    partial-aggregated (component, label) cells."""
    plan = plan_of(spark, "q403_pca_projection_report")
    assert plan.count("Location: InMemoryFileIndex") == 1  # one scan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Join" not in plan


def test_q401_scoring_is_scan_side_no_join(spark):
    """The trained probe's inference pass (round-11 shape): a literal
    logit over the TRAIN-TIME CHECKPOINTED feature frame (persist-once-
    read-twice — no fresh file scan, no feature re-derivation) feeding a
    partial-aggregated 4-cell confusion groupBy — no join, no UDF."""
    plan = plan_of(spark, "q401_quality_probe")
    # scoring reads the checkpointed features, not the raw parquet
    assert plan.count("Location: InMemoryFileIndex") == 0
    assert "Scan ExistingRDD" in plan  # the localCheckpoint re-read
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q412_fusion_broadcasts_queries_group_limited(spark):
    """RRF's scale contract: both modality rankings broadcast their bounded
    query side into streamed corpus scans (the query_id != doc_id non-equi
    condition compiles to BroadcastNestedLoopJoin against the tiny query
    side — q44's shape; no sort-merge join anywhere) and every rank<=depth
    filter compiles to WindowGroupLimit so only partial top rows reach the
    rank exchanges."""
    plan = plan_of(spark, "q412_rrf_hybrid_search")
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # lexical + vector
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_q415_bloom_filter_broadcasts_no_python(spark):
    """Decontamination's scale contract (round-11 shape): the Bloom probe
    is a SCAN-SIDE bitmap-literal test — no positions explode, no set-bit
    join, no per-shingle groupBy in the plan at all; the exact audit joins
    the bounded eval-shingle set as a broadcast (no sort-merge join); the
    whole plane is JVM expressions — no Python eval."""
    plan = plan_of(spark, "q415_bloom_decontamination")
    assert plan.count("BroadcastHashJoin") >= 1  # exact audit join
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the probe's bitmap test is row-local (shiftright over the literal
    # words); the only Generates left are the two shingle explodes (ev +
    # tr branches; formatted output names each node twice) — the k-
    # positions explodes (bits build on this path + probe) are gone
    assert "shiftright" in plan
    assert plan.count("Generate") <= 4


def test_q419_maxsim_broadcast_scan_side_no_python(spark):
    """Late interaction's scale contract: the bounded query-token set
    broadcasts into one streamed corpus scan; the token-token MaxSim matrix
    is nested JVM HOFs (no Python eval); the per-query top-k compiles to
    WindowGroupLimit."""
    plan = plan_of(spark, "q419_maxsim_late_interaction")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan


def test_q421_kcenter_argmax_is_take_ordered(spark):
    """k-center's scale contract, asserted on the per-round pick plan (the
    query's returned frame is post-localCheckpoint and opaque): the argmax
    is TakeOrdered (per-partition top-1 + k-row merge, never a
    single-partition window) and the center set reaches the scan as a
    broadcast."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from gh_archive_data_pipeline_spark.operators.retrieval import (
        _as_double,
        _kcenter_pick,
    )
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, SF, "embeddings")
    c = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    seed = (c.filter(F.col("vec_id") == 0)
            .select(F.lit(1).alias("round"), "vec_id",
                    F.lit(0.0).alias("radius"), "v"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _kcenter_pick(c, seed, 2).explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def _n_exchanges(df) -> int:
    """Shuffle Exchange count in the formatted plan (BroadcastExchange
    deliberately excluded — broadcasts are the cheap seam)."""
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return len(re.findall(r"^\(\d+\) Exchange", buf.getvalue(), re.M))


def test_q440_composition_adds_no_shuffle_seams(spark):
    """VERDICT-r8 item 1's done-criterion: the composed corpus-build
    pipeline's shuffle count equals the component sum — each phase, built
    on the previous phase's MATERIALIZED product, spends exactly its
    standalone component's exchanges plus ONE doc_id annotation join; the
    quality gate and split assignment add ZERO (scan-side fusion)."""
    from pyspark.sql import functions as F

    from gh_archive_data_pipeline_spark.operators.classifier import (
        _cached_probe,
    )
    from gh_archive_data_pipeline_spark.operators.dedup import (
        chunk_dedup_dispositions,
    )
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        contaminated_ids,
        phase1_exact,
        phase2_chunk,
        phase3_gate_split,
    )
    from gh_archive_data_pipeline_spark.operators.sampling import (
        assign_split,
    )
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    w, b = _cached_probe(spark, SF)
    plain = docs.select("doc_id", "text")

    # standalone component costs, measured on raw inputs
    c_exact = _n_exchanges(phase1_exact(docs))
    c_chunk = _n_exchanges(chunk_dedup_dispositions(plain))
    c_decon = _n_exchanges(contaminated_ids(docs, plain))

    # phase 1 IS the standalone component (identical construction)
    flag1 = phase1_exact(docs).localCheckpoint()
    assert c_exact == 1

    # phase 2 on the materialized phase-1 product: component + 1 join
    ann1 = phase2_chunk(flag1)
    assert _n_exchanges(ann1) == c_chunk + 1, "chunk phase grew a seam"
    ann1 = ann1.localCheckpoint()

    # phase 3 on the materialized phase-2 product: component + 1 join,
    # and the gate + split columns add exactly ZERO exchanges
    disp = phase3_gate_split(docs, ann1, w, b)
    n_disp = _n_exchanges(disp)
    assert n_disp == c_decon + 1, "decon phase grew a seam"
    reached = ann1.filter(F.col("keep1") & (F.col("disposition") != "drop"))
    contam_only = (ann1.join(
        contaminated_ids(
            docs, reached.select("doc_id",
                                 F.col("kept_text").alias("text")))
        .withColumn("_ct", F.lit(1)), "doc_id", "left"))
    assert n_disp == _n_exchanges(contam_only), \
        "gate/split must be scan-side (zero added exchanges)"
    assert _n_exchanges(assign_split(flag1)) == _n_exchanges(flag1)

    # and nothing anywhere degenerates to a cross product
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        disp.explain("formatted")
    assert "CartesianProduct" not in buf.getvalue()


def test_epoch_order_no_per_shard_window(spark):
    """VERDICT-r9 item 2's done-criterion: the epoch-ordering queries'
    plans contain NO Window partitioned by just (epoch, shard) — the shape
    that funnels a whole dataloader shard through one task. The default
    rank path is the distributed prefix sum, whose only windows are
    per-range-partition (__pid) scans."""
    import re

    for name in ("q442_epoch_shuffle_plan", "q445_epoch_plan_export"):
        plan = plan_of(spark, name)
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            part_head = spec.split(" ASC")[0].split(" DESC")[0]
            assert "bucket#" in part_head or "__pid" in part_head, (
                f"{name}: Window partitioned by {part_head!r} — the "
                "single-task-per-shard shape the distributed default "
                "was meant to remove")


def test_q45_candidate_dedup_shuffles_ints_not_vectors(spark):
    """Round-10 plan fix, gated: the (query_id, neighbor_id) candidate
    dedup exchange must carry exactly those two int keys — never the
    embedding arrays (the old shape shuffled ~1 KB of vectors per bucket
    collision; vectors re-attach via a broadcast-id corpus re-scan)."""
    import re

    plan = plan_of(spark, "q45_embedding_lsh_topk")
    blocks = re.split(r"\n\(\d+\) ", plan)
    dedup_exchanges = [
        b for b in blocks
        if b.startswith("Exchange")
        and "query_id" in b.split("Arguments")[-1]
        and "neighbor_id" in b.split("Arguments")[-1]]
    assert dedup_exchanges, "candidate dedup exchange not found"
    for b in dedup_exchanges:
        m = re.search(r"Input \[(\d+)\]", b)
        assert m and int(m.group(1)) == 2, (
            f"candidate exchange carries {m and m.group(1)} columns — "
            f"vectors are riding the dedup shuffle again:\n{b[:300]}")
