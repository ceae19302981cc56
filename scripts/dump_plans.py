"""Regenerate PLANS.md — the physical-plan evidence sheet for the
headline queries. For each query: the plan-health metrics the tests pin
(exchanges, broadcast joins, codegen stages, pushed filters / pruned
read schemas, pandas crossings) plus the operator tree skeleton from
`.explain("formatted")` (the numbered node list, without the verbose
per-node detail blocks). Run: python scripts/dump_plans.py"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SHOWCASE = [
    ("fx_candles_complete", "gap-filled carry-forward candles — the "
     "reference's core operator chain"),
    ("fx_pair_correlation", "windowed pair correlation (the reference's "
     "flagship DAG) — equi-join pair enumeration, JVM corr"),
    ("fx_corr_headline", "n=1000 universe: dispatcher routes to the "
     "per-window BLAS matrix kernel (Arrow batch per window)"),
    ("revenue_by_nation", "star join — every dim broadcast, one fact "
     "shuffle"),
    ("shipping_priority", "TPC-H q3 shape — segment-pruned broadcast dim, "
     "TakeOrdered top-N (never a full sort)"),
    ("dq_expectations", "one conditional-sum aggregate scan per audited "
     "table + stack() unpivot"),
    ("text_bpe_tokens_dict", "1024-rank BPE via dictionary tokenization — "
     "depth-bounded segments over distinct words, broadcast join back"),
    ("dsir_importance", "DSIR hashed-ngram importance: one aggregate fits "
     "both corpus models, 1024-row llr table broadcasts back"),
    ("fx_vpin", "VPIN order-flow toxicity — one key-partitioned sort "
     "serves lag + carry + row_number, one bucket aggregate"),
    ("fx_tick_bars", "count-based tick bars — per-key total-order sort, "
     "one OHLC aggregate via (rn, price) struct min/max"),
    ("source_ngram_overlap", "cross-source trigram overlap — "
     "gram-grouped pair explode, fanout C(|sources|,2)-bounded, no "
     "corpus self-join"),
    ("attribution_linear", "linear multi-touch attribution — user-keyed "
     "equi-join with the 7-day band as residual, exact micro-unit "
     "credits"),
    ("value_psi", "PSI drift monitor — tiny edge/spine broadcasts, one "
     "binned count, one window sum"),
    ("fx_backtest_donchian", "breakout backtest — three window passes "
     "on one key sort, moments from rounded decomposable sums (r9: + "
     "per-side costs on |Δposition|, turnover, net Sharpe)"),
    ("fx_momentum_ls", "cross-sectional momentum long-short — per-key "
     "sort serves formation sum + lead; one candle-sized per-window "
     "rank shuffle; one aggregate"),
    ("fx_imbalance_bars", "recursive bar, bounded-memory form — one "
     "key shuffle, per-partition EXTERNAL sort, mapInPandas streaming "
     "fold with O(1) carried state (never a key's full history); "
     "r10: the fold is lattice-vectorized, zero per-tick/per-bar "
     "Python"),
    ("tpch_q21", "full q21 as a single-pass decorrelation — lineitem "
     "scanned once, (order,supplier) aggregate map-side combines "
     "before both shuffles, supplier+nation broadcast, top-100 "
     "TakeOrdered (r10)"),
    ("order_priority_check", "q4 EXISTS via per-order max(l_shipdate) "
     "— ship-date prefilter pushed to parquet, shuffle carries one "
     "row per order (r10)"),
]


# everything from this heading to EOF survives regeneration — put
# hand-written measurement notes below it in PLANS.md
APPENDIX_MARKER = "<!-- APPENDIX: hand-written, preserved by dump_plans -->"


def main() -> None:
    from data_timeseries_java_spark import get_spark
    from data_timeseries_java_spark.plans.inspect import (
        broadcast_join_count,
        exchange_count,
        formatted_plan,
        pushed_filters,
        read_schemas,
    )
    from data_timeseries_java_spark.queries import all_queries

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out = ["# Physical-plan evidence (generated by scripts/dump_plans.py)",
           "",
           f"Plans built against `{SF_DIR}` on the session Spark config "
           "(AQE on, ANSI off, 32 shuffle partitions). The tree skeleton "
           "is `.explain(\"formatted\")`'s node list; per-node detail "
           "blocks are elided. Plan-shape invariants asserted by "
           "`tests/test_plans.py` are noted per query.",
           ""]
    for name, why in SHOWCASE:
        df = qs[name](spark, SF_DIR)
        plan = formatted_plan(df)
        skeleton = plan.split("\n\n")[0]  # the numbered tree
        # elide scan file paths for readability
        skeleton = re.sub(r"file:[^\s,\]]+", "<path>", skeleton)
        # unrolled-iteration trees (k-means, power iteration) repeat the
        # same subtree per iteration — cap the dump at the shape, not
        # the repetition
        lines = skeleton.split("\n")
        if len(lines) > 300:
            skeleton = "\n".join(
                lines[:220]
                + [f"    ... ({len(lines) - 270} repeated-iteration "
                   "nodes elided) ..."]
                + lines[-50:])
        pf = [p for p in pushed_filters(df) if p]
        rs = read_schemas(df)
        out += [f"## {name}", "", why + ".", "",
                f"- exchanges (shuffles): {exchange_count(df)}; "
                f"broadcast joins: {broadcast_join_count(df)}",
                f"- pushed filters: {pf if pf else 'none needed'}",
                f"- pruned read schemas: "
                f"{[s[:90] + ('…' if len(s) > 90 else '') for s in rs]}",
                "", "```", skeleton.strip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    # hand-written appendix sections (anything from the first "## "
    # heading NOT in SHOWCASE onward is preserved across regenerations
    # if it sits after the marker below)
    appendix = ""
    if os.path.exists(path):
        old = open(path).read()
        i = old.find(APPENDIX_MARKER)
        if i != -1:
            appendix = old[i:]
    with open(path, "w") as f:
        f.write("\n".join(out))
        if appendix:
            f.write(appendix)
    print("PLANS.md written:", len(out), "generated lines"
          + (" + preserved appendix" if appendix else ""))


if __name__ == "__main__":
    main()
