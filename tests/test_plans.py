"""Plan-quality tier: the optimizations the reference hand-built must
appear in Catalyst's physical plans (SURVEY.md §4), and hot paths must
stay JVM-side."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from data_timeseries_java_spark.plans import (
    broadcast_join_count,
    exchange_count,
    formatted_plan,
    has_python_eval,
    pushed_filters,
    read_schemas,
)
from data_timeseries_java_spark.queries import all_queries
from data_timeseries_java_spark.tables import load_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """q6-style predicate must land in PushedFilters of the parquet scan."""
    q = all_queries()["forecast_revenue"](spark, sf_dir)
    filters = " ".join(pushed_filters(q))
    assert "l_shipdate" in filters
    assert "l_quantity" in filters


def test_column_pruning(spark, sf_dir):
    """A 2-column projection must not read the whole lineitem schema."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    schemas = read_schemas(q)
    assert schemas, "no file scan found"
    assert all("l_extendedprice" not in s for s in schemas)
    assert all("l_orderkey" in s for s in schemas)


def test_star_join_broadcasts_dims(spark, sf_dir):
    """region/nation/customer sides of the 5-way join must broadcast —
    no shuffle of the fact table against tiny dims."""
    q = all_queries()["revenue_by_nation"](spark, sf_dir)
    assert broadcast_join_count(q) >= 2


def test_fx_pipeline_stays_jvm_side(spark, sf_dir):
    """The flagship correlation plan must not fall into row-at-a-time
    Python evaluation."""
    q = all_queries()["fx_pair_correlation"](spark, sf_dir)
    assert not has_python_eval(q)


def test_candle_pipeline_shuffle_budget(spark, sf_dir):
    """Candles = one shuffle for the (key, window) agg + one for the
    per-key carry-forward window function + the tiny gap-fill side.
    A regression adding an extra exchange on the big side shows up here."""
    q = all_queries()["fx_candles_complete"](spark, sf_dir)
    assert exchange_count(q) <= 5


def test_no_cartesian_products(spark, sf_dir):
    """Pair enumeration must be an equi-join on (window, time), never a
    cartesian explosion. (The instruments cross-join in gap-fill is a
    broadcast nested loop over a tiny dim — that one is intended.)"""
    q = all_queries()["fx_pair_correlation"](spark, sf_dir)
    assert "CartesianProduct" not in formatted_plan(q)


def test_tpch_hard_shapes_plan_clean(spark, sf_dir):
    """q2/q8/q21-style queries: correlated-subquery rewrites must stay
    equi-joins (no cartesian); dimension sides must broadcast against
    the lineitem fact table."""
    qs = all_queries()
    for name, min_bcast in [("min_cost_supplier", 2),
                            ("nation_market_share", 2),
                            ("waiting_suppliers", 1),
                            ("small_quantity_revenue", 2),
                            ("rich_idle_customers", 1),
                            ("top_revenue_supplier", 2),
                            ("dominant_part_suppliers", 1)]:
        q = qs[name](spark, sf_dir)
        plan = formatted_plan(q)
        assert "CartesianProduct" not in plan, f"{name} went cartesian"
        assert broadcast_join_count(q) >= min_bcast, (
            f"{name}: expected >= {min_bcast} broadcast joins")
    # the q21 EXISTS/NOT-EXISTS chain must be semi/anti joins, not inner
    plan21 = formatted_plan(qs["waiting_suppliers"](spark, sf_dir))
    assert "LeftSemi" in plan21 and "LeftAnti" in plan21
    # the q22 NOT EXISTS must be an anti join
    assert "LeftAnti" in formatted_plan(qs["rich_idle_customers"](spark, sf_dir))
    # the q20 IN-subquery must be a semi join
    assert "LeftSemi" in formatted_plan(
        qs["dominant_part_suppliers"](spark, sf_dir))


def test_tpch_classic_shapes_plan_clean(spark, sf_dir):
    """q3/q7/q9/q13/q14/q16/q19 adaptations: no cartesians anywhere;
    dimension sides broadcast against the lineitem/orders facts."""
    qs = all_queries()
    for name, min_bcast in [("shipping_priority", 1),
                            ("volume_shipping", 2),
                            ("nation_profit", 2),
                            ("customer_order_distribution", 0),
                            ("promo_revenue", 1),
                            ("brand_supplier_counts", 1),
                            ("disjunctive_revenue", 1)]:
        q = qs[name](spark, sf_dir)
        plan = formatted_plan(q)
        assert "CartesianProduct" not in plan, f"{name} went cartesian"
        assert broadcast_join_count(q) >= min_bcast, (
            f"{name}: expected >= {min_bcast} broadcast joins")


# queries that intentionally cross into pandas/Arrow execution
_PANDAS_QUERIES = {"media_decode_features", "media_png_decode",
                   "media_jpeg_header", "media_jpeg_decode",
                   "media_resize", "media_wav_features",
                   "media_wav_resample", "media_wav_spectrum",
                   "media_video_frames", "media_cross_format_dedup",
                   "fx_ema_returns", "fx_holt_trend", "fx_kalman_level",
                   "fx_garch_vol", "fx_macd", "fx_ewma_cov",
                   "fx_corr_wide", "fx_corr_headline",
                   "fx_imbalance_bars"}


# Physical-plan substrings that mark the quadratic-HOF trap class
# found in round 10 (SCALE.md §hof-audit): Catalyst does no CSE inside
# generator projections or higher-order-function lambdas, so an
# expression that re-builds a split/tokenize array per GENERATED row is
# O(len^2) per document. These shapes are banned registry-wide; a
# linear per-row token count is written as the scalar spaces+1 form
# instead (queries/text.py::q_source_token_stats), so no allowlist is
# needed.
_HOF_TRAP_SHAPES = ("size(split(", "element_at(split(")

# The quadratic WINDOW-FRAME trap (round-11 outlier audit): a frame
# whose upper bound is UNBOUNDED FOLLOWING but whose lower bound is NOT
# unbounded preceding lands on UnboundedFollowingWindowFunctionFrame,
# which re-aggregates the remaining rows for EVERY row — O(n^2) per
# window partition (fx_candles_interpolated measured 578s at the 100x
# decade, 194x its family median; 3.5s after rewriting as a DESC-order
# growing frame). A whole-partition frame (both bounds unbounded) is
# computed once and stays allowed. Anchoring on the known-safe
# alternative (count whole-partition frames vs total
# unboundedfollowing occurrences) rather than capturing the lower
# bound with a [^,]+? group, so a computed bound expression containing
# a comma cannot silently escape the guard (round-12 ADVICE).
_UNBOUNDED_FOLLOWING = "unboundedfollowing$()"
_WHOLE_PARTITION_FRAME = re.compile(
    r"specifiedwindowframe\((?:Row|Range)Frame,"
    r"\s*unboundedpreceding\$\(\),\s*unboundedfollowing\$\(\)\)")


def test_no_query_falls_into_row_python(spark, sf_dir):
    """Global guard: no declared query may contain row-at-a-time Python
    evaluation (BatchEvalPython), and none may plan a CartesianProduct
    (broadcast nested loops over tiny dims are fine and show up as
    BroadcastNestedLoopJoin — a CartesianProduct means BOTH sides were
    big and unkeyed, the one join shape that cannot survive scale).
    Arrow-batched pandas operators are allowed only for the known
    pandas-based queries. Also bans the quadratic-HOF expression shapes
    (_HOF_TRAP_SHAPES) in every physical plan — the round-10 lesson as
    an engine-wide invariant, superseding the two per-lane pins."""
    for name, fn in sorted(all_queries().items()):
        df = fn(spark, sf_dir)
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan, f"{name} uses a Python UDF"
        assert "CartesianProduct" not in plan, f"{name} went cartesian"
        if name not in _PANDAS_QUERIES:
            assert "InPandas" not in plan and "ArrowEvalPython" not in plan, \
                f"{name} unexpectedly crosses into pandas"
        exec_plan = df._jdf.queryExecution().executedPlan().toString()
        for shape in _HOF_TRAP_SHAPES:
            assert shape not in exec_plan, (
                f"{name}: physical plan contains '{shape}' — the "
                "quadratic-HOF trap (array rebuilt per generated row); "
                "hoist the array to a projection before the generator "
                "or use a scalar form")
        n_following = exec_plan.count(_UNBOUNDED_FOLLOWING)
        n_whole = len(_WHOLE_PARTITION_FRAME.findall(exec_plan))
        assert n_following == n_whole, (
            f"{name}: {n_following - n_whole} window frame(s) end at "
            "UNBOUNDED FOLLOWING without starting at unbounded "
            "preceding — O(n^2) per partition (per-row "
            "re-aggregation); flip the ordering to DESC and use a "
            "growing (unboundedPreceding, -1) frame instead")


# Queries that run distributed jobs while their plan is built: each
# stream replay EXECUTES a streaming query at build time by design (its
# declared result is the materialized stream sink) — the entries that
# gate the streaming lanes through the driver's oracle. Everything else
# must be a pure plan.
_ITERATIVE_QUERIES = {"fx_candles_stream_replay", "asof_stream_replay",
                      "topk_stream_replay", "hll_stream_replay",
                      "fx_corr_stream_replay", "sessions_stream_replay",
                      "vol_stream_replay", "ema_stream_replay",
                      "anomaly_stream_replay",
                      "recovery_stream_replay", "holt_stream_replay",
                      "garch_stream_replay", "drawdown_stream_replay",
                      "kalman_stream_replay", "gridq_stream_replay",
                      "funnel_stream_replay", "asof_bucketed_stream_replay",
                      "macd_stream_replay", "dsir_stream_replay",
                      "vwap_stream_replay", "tick_bars_stream_replay",
                      "psi_stream_replay", "imbalance_bars_stream_replay",
                      "late_data_stream_replay", "scd2_stream_replay",
                      "late_data_state_stream_replay",
                      "allowed_lateness_stream_replay",
                      "ema_ooo_stream_replay", "stream_join_replay",
                      "holt_ooo_stream_replay", "imbalance_ooo_stream_replay",
                      "vwap_ooo_stream_replay", "funnel_ooo_stream_replay",
                      "reorder_recovery_stream_replay"}



def test_building_queries_runs_no_jobs(spark, sf_dir):
    """Laziness guard: constructing a declared query must not trigger a
    single Spark job. A job at plan-build time (a stray count()/
    collect()/head() inside an operator) is an eager full scan and a
    pipeline barrier at 100 TB. Jobs are tracked via a job group: any job
    submitted while building lands in the group and shows up here.

    Table loads are pre-warmed first: spark.read.parquet runs one small
    footer-read metadata job per table (schema inference), which
    load_table memoizes per session — a fixed per-table cost, not a
    per-query one. Iterative algorithms (_ITERATIVE_QUERIES) are exempt."""
    from data_timeseries_java_spark.tables import TABLE_NAMES, load_table
    sc = spark.sparkContext
    for t in TABLE_NAMES:  # warm the memoized schema-inference jobs
        load_table(spark, sf_dir, t)
    offenders = {}
    for name, fn in sorted(all_queries().items()):
        if name in _ITERATIVE_QUERIES:
            continue
        group = f"laziness-probe-{name}"
        sc.setJobGroup(group, "assert no jobs while building query plan")
        try:
            fn(spark, sf_dir)
        finally:
            sc.setJobGroup("", "")
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        if job_ids:
            offenders[name] = list(job_ids)
    assert not offenders, (
        f"building these queries submitted Spark jobs: {offenders} — "
        "some operator runs a driver-side action at plan-build time")


def test_bucketed_table_eliminates_agg_shuffle(spark, sf_dir):
    """The 100 TB layout claim, proven on the plan: a tick table bucketed
    by instrument key satisfies the candle aggregation's required
    distribution, so the (key, window) groupBy runs with ZERO exchanges
    — the shuffle the plain parquet plan needs disappears."""
    from data_timeseries_java_spark.operators.candles import ohlc_candles
    from data_timeseries_java_spark.tables import events_as_ticks

    ticks = events_as_ticks(spark, sf_dir)
    plain = ohlc_candles(ticks, "1 hour")
    assert exchange_count(plain) == 1

    spark.sql("DROP TABLE IF EXISTS _test_ticks_bucketed")
    (ticks.write.mode("overwrite").bucketBy(8, "key")
     .sortBy("key", "event_time").saveAsTable("_test_ticks_bucketed"))
    try:
        bucketed = ohlc_candles(spark.table("_test_ticks_bucketed"), "1 hour")
        assert exchange_count(bucketed) == 0
        assert bucketed.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS _test_ticks_bucketed")


def test_bucketed_returns_eliminate_pair_join_shuffle(spark, sf_dir):
    """Storage-layout evidence for the correlation PAIR JOIN itself
    (the agg layout is the test above): the self-join clusters on
    (window, time) — not on key — so the materialized windowed-returns
    table buckets by (w_start, time), exactly the join's equi-keys
    (requireAllClusterKeysForCoPartition, default true, rejects a
    subset). Both aliases scan the same bucketed layout, so the pair
    join runs with ZERO shuffle exchanges; the plain plan shuffles."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.correlation import (
        CorrelationConfig, _windowed)
    from data_timeseries_java_spark.operators.returns import log_returns
    from data_timeseries_java_spark.tables import events_as_ticks

    ticks = events_as_ticks(spark, sf_dir)
    r = log_returns(candles_pipeline(
        ticks, ticks.select("key").distinct(), "1 hour"))
    flat = _windowed(r, CorrelationConfig("6 hours", "3 hours", 0.0, True)
                     ).select(F.col("w.start").alias("w_start"),
                              "time", "key", "value")

    def pair_join(df):
        a, b = df.alias("a"), df.alias("b")
        return a.join(b, (F.col("a.w_start") == F.col("b.w_start"))
                      & (F.col("a.time") == F.col("b.time"))
                      & (F.col("a.key") < F.col("b.key")))

    # tiny test frames would broadcast; force the shuffle strategy the
    # pair join takes at scale so the layout claim is what's measured
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sql("DROP TABLE IF EXISTS _test_returns_bucketed")
    try:
        plain = pair_join(flat)
        assert exchange_count(plain) >= 1

        (flat.write.mode("overwrite").bucketBy(8, "w_start", "time")
         .sortBy("w_start", "time", "key")
         .saveAsTable("_test_returns_bucketed"))
        bucketed = pair_join(spark.table("_test_returns_bucketed"))
        assert exchange_count(bucketed) == 0
        assert bucketed.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS _test_returns_bucketed")


def test_corr_dispatcher_kernel_by_universe_size(spark, sf_dir):
    """The auto dispatcher must route small universes to the JVM F.corr
    join kernel and large universes to the per-window BLAS matrix kernel
    — pinned on the physical plan at both sizes."""
    from data_timeseries_java_spark.operators.correlation import (
        CORR_MATRIX_CROSSOVER, CorrelationConfig, pairwise_correlations_auto)
    from data_timeseries_java_spark.operators.returns import log_returns
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.tables import events_as_ticks

    ticks = events_as_ticks(spark, sf_dir)
    r = log_returns(candles_pipeline(
        ticks, ticks.select("key").distinct(), "1 hour"))
    cfg = CorrelationConfig("6 hours", "3 hours", 0.0, True)

    small = pairwise_correlations_auto(r, cfg, n_keys=10, cache_input=False)
    assert "InPandas" not in formatted_plan(small)

    big = pairwise_correlations_auto(
        r, cfg, n_keys=CORR_MATRIX_CROSSOVER + 1, cache_input=False)
    assert "FlatMapGroupsInPandas" in formatted_plan(big)

    with pytest.raises(ValueError, match="exactly one"):
        pairwise_correlations_auto(r, cfg)


def test_corr_dispatcher_window_count_hint(spark, sf_dir):
    """Window count moves the join-vs-matrix crossover (SCALE.md
    wide-universe table: matrix already wins at n=200 with 23 slides);
    the n_windows hint must engage the matrix kernel below the
    conservative n-only crossover, and must NOT engage it when the scan
    has too few slides for per-window parallelism."""
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.operators.correlation import (
        CorrelationConfig, pairwise_correlations_auto)
    from data_timeseries_java_spark.operators.returns import log_returns
    from data_timeseries_java_spark.tables import events_as_ticks

    ticks = events_as_ticks(spark, sf_dir)
    r = log_returns(candles_pipeline(
        ticks, ticks.select("key").distinct(), "1 hour"))
    cfg = CorrelationConfig("6 hours", "3 hours", 0.0, True)

    # the measured winning shape: n=200, 23 slides -> matrix
    many = pairwise_correlations_auto(r, cfg, n_keys=200, n_windows=23,
                                      cache_input=False)
    assert "FlatMapGroupsInPandas" in formatted_plan(many)

    # same n, parallelism-starved scan (2 slides) -> join kernel
    few = pairwise_correlations_auto(r, cfg, n_keys=200, n_windows=2,
                                     cache_input=False)
    assert "InPandas" not in formatted_plan(few)

    # small universe: many windows alone must not flip the routing
    small = pairwise_correlations_auto(r, cfg, n_keys=50, n_windows=100,
                                       cache_input=False)
    assert "InPandas" not in formatted_plan(small)


def test_fx_corr_wide_routes_to_matrix_kernel(spark, sf_dir):
    """The driver-gated wide-universe query must actually execute the
    BLAS matrix kernel (512 keys > crossover), with the top-N screen
    ranked in-kernel — no O(n²)-pair global sort stage after it."""
    from data_timeseries_java_spark.queries.fx import q_fx_corr_wide

    plan = formatted_plan(q_fx_corr_wide(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    # operators printed ABOVE the kernel line are downstream of it; the
    # candle pipeline's carry-forward Windows (upstream) are fine, a
    # Window over the kernel's output would mean the O(n²) pair space
    # feeds a global sort after all
    downstream = plan[:plan.index("FlatMapGroupsInPandas")]
    assert "Window" not in downstream, (
        "top-N must rank inside the kernel, not via a post-kernel "
        "window function over the full pair space")


def test_corr_top_n_kernels_agree(spark, sf_dir):
    """per_window_top parity: the join kernel + rank_top_pairs and the
    matrix kernel's in-kernel ranking emit the same screen (rank on
    round(r,6) with key tie-breaks). Values compared with a tolerance —
    the two kernels' float paths can differ in the last ulp."""
    from data_timeseries_java_spark.operators.correlation import (
        CorrelationConfig, pairwise_correlations_auto)
    from data_timeseries_java_spark.operators.returns import log_returns
    from data_timeseries_java_spark.operators.candles import candles_pipeline
    from data_timeseries_java_spark.tables import events_as_ticks

    ticks = events_as_ticks(spark, sf_dir)
    r = log_returns(candles_pipeline(
        ticks, ticks.select("key").distinct(), "1 hour"))
    cfg = CorrelationConfig("6 hours", "3 hours", 0.0, True)

    cols = ["window_start", "key1", "key2", "value", "rank"]
    join_out = (pairwise_correlations_auto(
        r, cfg, n_keys=1, crossover=10**6, cache_input=False,
        per_window_top=3).select(*cols).toPandas()
        .sort_values(cols[:3]).reset_index(drop=True))
    mat_out = (pairwise_correlations_auto(
        r, cfg, n_keys=10**6, crossover=1, per_window_top=3)
        .select(*cols).toPandas()
        .sort_values(cols[:3]).reset_index(drop=True))
    assert len(join_out) > 0
    assert join_out[["window_start", "key1", "key2", "rank"]].equals(
        mat_out[["window_start", "key1", "key2", "rank"]])
    assert (join_out["value"] - mat_out["value"]).abs().max() <= 1e-9


def test_dispatcher_universe_hints_match_data(spark, sf_dir):
    """The static universe hints feeding the kernel dispatchers (the S3
    work-packet mapping: the pipeline KNOWS its instrument list) must
    track the data they describe, and the footer-stats helper must agree
    with a real count."""
    from data_timeseries_java_spark.queries.fx import N_EVENT_TYPES
    from data_timeseries_java_spark.tables import parquet_row_count

    ev = load_table(spark, sf_dir, "events")
    assert ev.select("event_type").distinct().count() == N_EVENT_TYPES
    emb = load_table(spark, sf_dir, "embeddings")
    assert parquet_row_count(sf_dir, "embeddings") == emb.count()


def test_round7_additions_plan_shapes(spark, sf_dir):
    """Scale-shape pins for the round-7 operators: the BPE count lane
    runs the chain over the distinct-word vocabulary since round 14
    (same 4-exchange budget as text_bpe_tokens_dict — explode-count,
    vocab distinct, per-doc aggregate, join back; the pre-r14
    zero-exchange doc-level chain paid O(merges x corpus_chars)
    execution instead, measured 4.5x slower at sf0.1); the hurst
    explode stays within the candle pipeline's budget + its two
    aggregations."""
    # earlier tests in a shared session may leave cached subtrees
    # (queries using plans/materialize) that substitute into these
    # plans and shift exchange counts — measure the clean plans
    spark.catalog.clearCache()
    qs = all_queries()
    for name, budget in [("text_bpe_tokens", 4),
                         ("fx_hurst", 5),
                         ("fx_holt_trend", 5), ("fx_kalman_level", 5),
                         ("fx_garch_vol", 5), ("fx_half_life", 5),
                         ("fx_candle_patterns", 5)]:
        q = qs[name](spark, sf_dir)
        n = exchange_count(q)
        assert n <= budget, (
            f"{name}: {n} exchanges > budget {budget}\n"
            f"{formatted_plan(q)[:3000]}")


def test_round8_additions_plan_shapes(spark, sf_dir):
    """Scale-shape pins for the round-8 operators: DSIR is two
    aggregates over one gram explode plus a broadcast model (a shuffle
    creeping past 5 means a join stopped broadcasting); the resample
    adds ONLY a TakeOrdered (same budget, no extra exchange)."""
    spark.catalog.clearCache()
    qs = all_queries()
    for name, budget in [("dsir_importance", 5), ("dsir_resample", 5),
                         ("text_bpe_tokens_dict", 4)]:
        q = qs[name](spark, sf_dir)
        n = exchange_count(q)
        assert n <= budget, (
            f"{name}: {n} exchanges > budget {budget}\n"
            f"{formatted_plan(q)[:3000]}")


def test_value_sorted_layout_prunes_row_groups(spark, sf_dir, tmp_path):
    """Storage-layout trilogy part 3 (next to partition pruning and
    bucketing): a value-SORTED parquet layout concentrates each row
    group's [min, max] envelope, so a stats-aware reader (Spark's
    parquet pushdown — the PushedFilters the other tests pin) skips
    all but the matching groups; arrival-order layout leaves every
    envelope spanning the full range, forcing a full decode. Asserted
    on the actual footer statistics a reader consults."""
    import glob

    import pyarrow.parquet as pq

    from data_timeseries_java_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    lo, hi = 100.0, 110.0

    def touched(path):
        t = n = 0
        for f in glob.glob(f"{path}/*.parquet"):
            m = pq.ParquetFile(f).metadata
            idx = {m.schema.column(i).name: i
                   for i in range(m.num_columns)}["value"]
            for rg in range(m.num_row_groups):
                st = m.row_group(rg).column(idx).statistics
                n += 1
                if st.min < hi and st.max >= lo:
                    t += 1
        return t, n

    # small input: force many row groups via many single-group files
    # (one row group per file — the file footer envelope IS the row
    # group envelope, same stats a reader consults)
    (ev.repartition(1).sortWithinPartitions("value").write
     .option("maxRecordsPerFile", 200)
     .mode("overwrite").parquet(str(tmp_path / "sorted")))
    (ev.repartition(1).write.option("maxRecordsPerFile", 200)
     .mode("overwrite").parquet(str(tmp_path / "plain")))
    t_sorted, n_sorted = touched(str(tmp_path / "sorted"))
    t_plain, n_plain = touched(str(tmp_path / "plain"))
    assert n_sorted > 3 and n_plain > 3  # multiple groups exist
    assert t_plain == n_plain  # arrival order: every envelope matches
    assert t_sorted < n_sorted / 2  # sorted: most groups skippable
    # both layouts return identical rows through the engine
    from pyspark.sql import functions as F
    pred = (F.col("value") >= lo) & (F.col("value") < hi)
    a = spark.read.parquet(str(tmp_path / "sorted")).where(pred).count()
    b = spark.read.parquet(str(tmp_path / "plain")).where(pred).count()
    assert a == b


def test_tpch_q21_single_pass_plan(spark, sf_dir):
    """Full q21 (round 10): the decorrelated single-pass form must scan
    lineitem exactly ONCE (the correlated EXISTS/NOT-EXISTS form scans
    it three times), never go cartesian/nested-loop, and broadcast the
    supplier+nation dims."""
    q = all_queries()["tpch_q21"](spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1, (
        "tpch_q21 must scan lineitem exactly once")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert broadcast_join_count(q) >= 2, "supplier+nation must broadcast"
    # q4: the EXISTS decorrelates to a map-side-combined per-order max
    # (one lineitem scan, ship-date filter pushed to parquet), never a
    # nested-loop
    q4 = all_queries()["order_priority_check"](spark, sf_dir)
    plan4 = q4._jdf.queryExecution().executedPlan().toString()
    assert plan4.count("lineitem.parquet") == 1
    assert "BroadcastNestedLoop" not in plan4
    assert "CartesianProduct" not in plan4
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" \
        in plan4, "ship-date prefilter must reach the parquet scan"


def test_hof_traps_stay_fixed(spark, sf_dir):
    """Round-10 quadratic-HOF regression pins (SCALE.md §hof-audit):
    Catalyst does no CSE inside higher-order-function lambdas, so
    (1) an array-size expression riding a generator projection and
    (2) element_at(<split expr>, i) inside a transform lambda both
    re-build the source array once per generated row — O(len^2) per
    document. The fixes removed those expression shapes entirely; if
    either substring reappears in the physical plan, the trap is
    back."""
    qs = all_queries()
    rep = qs["text_repetition"](spark, sf_dir)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "size(split(" not in plan, (
        "text_repetition: array-size expression re-entered the "
        "generator projection (re-builds token arrays per gram)")
    nov = qs["text_novelty"](spark, sf_dir)
    plan = nov._jdf.queryExecution().executedPlan().toString()
    assert "element_at(split(" not in plan, (
        "text_novelty: per-gram element_at over the split output is "
        "back (re-tokenizes the document per gram)")


# The frozen scale-path roster (round-12 VERDICT #4): every declared
# query is adjudicated scale-path by being listed here. Adding a query
# without touching this list fails test_every_lane_is_classified — an
# unadjudicated default-sounding name routing to a quadratic is the
# round-11 semantic_dedup lesson.
_SCALE_PATH = {
    "above_segment_avg", "allowed_lateness_stream_replay",
    "anomaly_stream_replay", "approx_distinct_users", "approx_topk_cms",
    "approx_value_quantiles", "asof_bucketed_stream_replay",
    "asof_purchase_click", "asof_stream_replay", "attribution_linear",
    "benford_order_totals", "bm25_search", "brand_pagerank",
    "brand_supplier_counts", "brand_triangles", "brand_triangles_deg",
    "classifier_auc", "classifier_calibration", "cohort_ltv",
    "cohort_retention", "cross_source_dup", "customer_order_distribution",
    "customer_rfm", "customer_set_ops", "customer_spend_quartiles",
    "customers_without_orders", "dataset_split", "decontaminate_winnow",
    "disjunctive_revenue", "distinct_suppliers", "distinct_users_by_type",
    "dominant_part_suppliers", "dq_expectations", "drawdown_stream_replay",
    "dsir_importance", "dsir_quantile_select", "dsir_resample",
    "dsir_stream_replay", "ema_ooo_stream_replay", "ema_stream_replay",
    "event_ab_test", "event_anomalies", "event_cuped", "event_decay_score",
    "event_gap_stats", "event_hour_profile", "event_mad_outliers",
    "event_transitions", "event_winsorize", "events_json_props",
    "events_k_anonymity", "feature_woe_iv", "forecast_revenue",
    "funnel_conversion", "funnel_ooo_stream_replay", "funnel_stream_replay",
    "funnel_time_to_convert", "fx_align_series", "fx_amihud", "fx_atr",
    "fx_autocorr", "fx_backtest_donchian", "fx_bollinger",
    "fx_candle_patterns", "fx_candles_bidask", "fx_candles_complete",
    "fx_candles_interpolated", "fx_candles_ohlc", "fx_candles_rollup",
    "fx_candles_stream_replay", "fx_cointegration", "fx_corr_headline",
    "fx_corr_stream_replay", "fx_corr_threshold", "fx_corr_underlying",
    "fx_corr_user_buckets", "fx_corr_wide", "fx_cross_rate", "fx_cross_zscore",
    "fx_cusum", "fx_dollar_bars", "fx_donchian", "fx_drawdown",
    "fx_ema_returns", "fx_ewma_cov", "fx_gapfill_rows", "fx_garch_vol",
    "fx_half_life", "fx_holt_trend", "fx_hourly_seasonality", "fx_hurst",
    "fx_imbalance_bars", "fx_index_beta", "fx_kalman_level", "fx_kyle_lambda",
    "fx_lead_lag", "fx_log_returns", "fx_macd", "fx_mean_correlation",
    "fx_momentum_ls", "fx_obv", "fx_ohlc_vol_estimators", "fx_pair_beta",
    "fx_pair_correlation", "fx_pair_correlation_auto", "fx_pair_spearman",
    "fx_parkinson_vol", "fx_realized_vol", "fx_roll_spread", "fx_rsi",
    "fx_sliding_returns", "fx_spread_stats", "fx_stochastic", "fx_tick_bars",
    "fx_tick_rule", "fx_tsrv", "fx_twap", "fx_var_es", "fx_variance_ratio",
    "fx_vol_regimes", "fx_volume_curve", "fx_volume_profile", "fx_vpin",
    "fx_vwap", "fx_workpacket_stats", "garch_stream_replay", "gopher_rules",
    "gridq_stream_replay", "hll_pair_intersection", "hll_stream_replay",
    "hll_user_rollup", "holt_ooo_stream_replay", "holt_stream_replay",
    "imbalance_bars_stream_replay", "imbalance_ooo_stream_replay",
    "kalman_stream_replay", "langid_confusion", "large_volume_customers",
    "late_data_state_stream_replay", "late_data_stream_replay",
    "lineitem_grouping_sets", "macd_stream_replay", "market_basket_pairs",
    "media_cross_format_dedup", "media_decode_features", "media_jpeg_decode",
    "media_jpeg_header", "media_metadata", "media_png_decode", "media_resize",
    "media_video_frames", "media_wav_features", "media_wav_resample",
    "media_wav_spectrum", "merge_corrections", "min_cost_supplier",
    "monthly_order_stats", "monthly_revenue_complete", "moving_avg_range",
    "moving_median", "nation_customer_list", "nation_market_share",
    "nation_outer_join", "nation_profit", "neardup_threshold_sweep",
    "order_priority_check", "order_ranks", "order_ship_latency",
    "orders_flag_filter", "orders_with_expensive_items",
    "part_abc_classification", "part_scalar_functions", "part_supplier_hhi",
    "pii_scan", "price_quantiles", "pricing_summary", "priority_pivot",
    "priority_rollup", "profile_lineitem", "promo_revenue",
    "psi_stream_replay", "quality_classifier", "range_join_event_candle",
    "recovery_stream_replay", "region_nation_share",
    "reorder_recovery_stream_replay", "returned_item_report",
    "revenue_by_nation", "revenue_gini", "revenue_pareto",
    "rich_idle_customers", "rolling_distinct_users", "salted_event_stats",
    "scd2_history", "scd2_stream_replay", "scd2_user_status",
    "seasonal_profile", "sessions_stream_replay", "ship_lag_quantiles",
    "shipping_priority", "small_quantity_revenue", "snapshot_diff",
    "source_keyness", "source_lang_kl", "source_ngram_overlap",
    "source_token_stats", "status_cube", "stratified_sample",
    "stream_join_replay", "supplier_share", "text_bigram_lm",
    "text_bpe_tokens", "text_bpe_tokens_dict", "text_burstiness",
    "text_collocations", "text_entropy", "text_fingerprint", "text_langid",
    "text_novelty", "text_quality", "text_readability", "text_repetition",
    "text_tokens", "text_winnowing", "tfidf_neardup", "tfidf_top_terms",
    "tick_bars_stream_replay", "tokenizer_fertility", "top_customers",
    "top_revenue_supplier", "topk_stream_replay", "tpch_q21",
    "user_behavior_entropy", "user_event_entropy", "user_sessions",
    "user_survival_km", "value_ks_test", "value_psi", "value_trend_ols",
    "value_trend_theilsen", "vocab_zipf", "vocabulary_topk",
    "vol_stream_replay", "volume_shipping", "vwap_ooo_stream_replay",
    "vwap_stream_replay", "waiting_suppliers", "walk_forward_forecast",
    "weekly_new_returning", "weighted_median_price", "window_sampler"
}


def test_every_lane_is_classified():
    """Totality of the scale classification: the live registry must
    equal _SCALE_PATH exactly."""
    declared = set(all_queries())
    missing = declared - _SCALE_PATH
    assert not missing, (
        f"unadjudicated queries (add to _SCALE_PATH): {sorted(missing)}")
    stale = _SCALE_PATH - declared
    assert not stale, f"classified but not declared: {sorted(stale)}"
