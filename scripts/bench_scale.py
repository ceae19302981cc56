"""Scaling study: the four headline heavy queries at sf0.1 (1x) and
each .scale{N}x replica dir present (built by make_scale10x.py — run it
with SPARK_GRAFT_SCALE_REPS=10/100 first), median of
$SPARK_GRAFT_TRIALS (default 5) steady-state trials each. Prints a
table for SCALE.md §measured-slopes."""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = ["fx_pair_correlation", "fx_corr_wide",
           # round-6 additions: the new text operators' decades
           "text_winnowing", "text_bigram_lm", "fx_cusum",
           # round-7 batch 2 additions
           "tfidf_neardup", "quality_classifier",
           # round-7 batch 3 additions (fact tables replicate from r8:
           # lineitem/orders grow with the decade, dims stay fixed)
           "fx_pair_spearman", "weighted_median_price",
           "region_nation_share", "rolling_distinct_users",
           "brand_triangles",
           # round-8 additions
           "text_bpe_tokens_dict", "dsir_importance",
           "brand_triangles_deg",
           # round-8 session-2 additions: event-driven bars (per-key
           # total-order sort — the row_number shape under replica
           # growth), the gram-keyed source overlap join, and the two
           # single-scan text projections as cheap linear controls
           "fx_vpin", "fx_tick_bars", "fx_vwap",
           "source_ngram_overlap", "text_collocations", "gopher_rules",
           # session-2 batch 2: the recursive bar (grouped-map Arrow
           # path under replica growth), the banded attribution join,
           # and the decay/HHI aggregates as linear controls
           "fx_imbalance_bars", "fx_dollar_bars", "attribution_linear",
           "event_decay_score", "part_supplier_hhi", "fx_volume_curve",
           # session-2 batch 3: drift/eval family + the backtest and
           # the noise-robust vol estimator
           "value_psi", "value_ks_test", "fx_tsrv",
           "fx_backtest_donchian", "langid_confusion", "event_cuped",
           # round-9 additions: fertility (one scan + tiny agg), the
           # cross-sectional rank backtest (per-window shuffle), index
           # beta (materialized returns + two aggregates)
           "tokenizer_fertility", "fx_momentum_ls", "fx_index_beta",
           # round-9 batch 2: change-log SCD2 + snapshot diff (events
           # replicate), q18/q10 (lineitem/orders replicate), rank-sum
           # AUC (documents replicate), WOE/IV (dims fixed — flat
           # control)
           "scd2_history", "snapshot_diff", "large_volume_customers",
           "returned_item_report", "classifier_auc", "feature_woe_iv",
           # round-9 batch 3
           "ship_lag_quantiles", "cohort_ltv", "fx_hourly_seasonality",
           "fx_mean_correlation", "user_event_entropy",
           "text_burstiness",
           # round 10: single-pass q21/q4 decorrelations; the two
           # HOF-trap fixes (repetition/novelty) so their decades stay
           # measured post-fix
           "tpch_q21", "order_priority_check", "text_repetition",
           "text_novelty"]


def bench(spark, qs, name, sf_dir, n):
    trials = []
    for i in range(n + 1):
        df = qs[name](spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        if i:
            trials.append(time.time() - t0)
    return statistics.median(trials)


def main() -> None:
    from data_timeseries_java_spark import get_spark
    from data_timeseries_java_spark.queries import all_queries
    from data_timeseries_java_spark.tables import load_table

    n_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "5"))
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    queries = [q for q in QUERIES if q in only.split(",")] if only else QUERIES
    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [("1x", "/root/testdata/sf0.1")]
    max_reps = int(os.environ.get("SPARK_GRAFT_MAX_REPS", "100"))
    for reps in (10, 100):
        d = os.path.join(root, f".scale{reps}x")
        if os.path.isdir(d) and reps <= max_reps:
            dirs.append((f"{reps}x", d))
    for _, d in dirs:
        for t in ("events", "documents", "embeddings"):
            load_table(spark, d, t).count()
    header = f"{'query':24s}" + "".join(f"{lbl:>9s}" for lbl, _ in dirs) \
        + "  ratios"
    print(header)
    for name in queries:
        ts = [bench(spark, qs, name, d, n_trials) for _, d in dirs]
        ratios = " ".join(f"{t / ts[0]:.2f}" for t in ts[1:])
        print(f"{name:24s}" + "".join(f"{t:9.3f}" for t in ts)
              + f"  {ratios}")


if __name__ == "__main__":
    main()
