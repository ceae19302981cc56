"""Directed semantics the synthetic corpus can't exercise: winnowing
(MOSS) fingerprint guarantees, CUSUM change-point alarms, the hashed
classifier's injected-weights seam and tf-idf cosine on identical
docs."""

from __future__ import annotations


# ---- winnowing fingerprints (MOSS) -------------------------------------


def test_winnowing_guarantee_shared_run(spark):
    """The MOSS guarantee: a shared token run of length >= w + k - 1
    (here 4 + 3 - 1 = 6) yields at least one shared fingerprint, at ANY
    alignment of the two copies."""
    from data_timeseries_java_spark.operators.text import (
        winnowing_fingerprints,
    )

    shared = "november lima yankee sierra golf victor"      # 6 tokens
    docs = spark.createDataFrame(
        [(1, shared + " red green blue cyan magenta"),
         (2, "stone brick cedar " + shared + " maple birch")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           winnowing_fingerprints(docs, k=3, w=4).collect()}
    assert out[1].n_shared_fp >= 1 and out[2].n_shared_fp >= 1
    assert out[1].has_shared_fp and out[2].has_shared_fp


def test_winnowing_density_and_no_false_sharing(spark):
    from data_timeseries_java_spark.operators.text import (
        winnowing_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, "red green blue cyan magenta yellow umber teal navy coral"),
         (2, "stone brick cedar maple birch aspen alder willow elm oak")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           winnowing_fingerprints(docs, k=3, w=4).collect()}
    for r in out.values():
        assert r.n_grams == 8            # 10 tokens -> 8 trigrams
        assert 1 <= r.n_fingerprints <= r.n_grams
        assert r.n_shared_fp == 0 and not r.has_shared_fp


def test_cusum_detects_mean_shift(spark):
    """A flat series then a level shift: the positive CUSUM statistic
    must cross the threshold only after the shift (and the negative one
    never)."""
    from datetime import datetime, timedelta, timezone

    from data_timeseries_java_spark.operators.returns import (
        cusum_changepoints,
    )

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    vals = [0.0] * 10 + [0.2] * 10          # shift at index 10
    rows = [("A", t0 + timedelta(minutes=i), v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key string, time timestamp, value double")
    out = sorted(cusum_changepoints(df, threshold=0.5).collect(),
                 key=lambda r: r.time)
    alarms = [r.alarm_pos for r in out]
    assert not any(alarms[:11])             # quiet before/at the shift
    assert alarms[-1]                       # fired by the end
    assert alarms.index(True) >= 12         # needs >2 shifted points
    assert not any(r.alarm_neg for r in out)
    # statistic is recoverable: S+ at the end = 10 * 0.2 (within the
    # output's floor-6 quantization of the binary-float sum)
    assert abs(out[-1].cusum_pos - 2.0) < 2e-6


def test_hashed_classifier_with_injected_weights(spark):
    """The trained-weights seam: a caller-supplied (bucket, w) table is
    applied exactly — two docs with the same bag of words score
    identically; score is sigmoid(sum w * log1p(tf))."""
    import math

    from data_timeseries_java_spark.operators.text import (
        hashed_linear_classifier)
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "beta alpha beta"), (3, "gamma")],
        "doc_id long, text string")
    n_buckets = 16
    weights = spark.range(n_buckets).select(
        F.col("id").alias("bucket"), F.lit(0.5).alias("w"))
    out = {r.doc_id: r for r in hashed_linear_classifier(
        docs, weights=weights, n_buckets=n_buckets).collect()}
    assert out[1].score == out[2].score and out[1].logit == out[2].logit
    # with uniform weights the logit collapses to 0.5 * sum log1p(tf)
    # over buckets; doc 3 has one token -> 0.5 * log1p(1)
    assert abs(out[3].logit - 0.5 * math.log(2)) < 1e-12
    assert abs(out[3].score - 1 / (1 + math.exp(-out[3].logit))) < 1e-12


def test_tfidf_cosine_identical_docs_hit_one(spark):
    """Two token-identical docs (below the stop-term cutoff) cosine to
    exactly 1; an unrelated doc pairs with neither."""
    from data_timeseries_java_spark.operators.text import tfidf_cosine_pairs

    rows = [(1, "quantum flux capacitor array"),
            (2, "quantum flux capacitor array"),
            (3, "completely different words here")]
    # pad the corpus so shared terms stay under the df cutoff
    rows += [(10 + i, f"filler{i} unique{i} token{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_cosine_pairs(docs, threshold=0.3, max_df_frac=0.1).collect()
    pairs = {(r.id_a, r.id_b): r for r in out}
    assert set(pairs) == {(1, 2)}
    assert abs(pairs[(1, 2)].cosine - 1.0) < 1e-9
    assert pairs[(1, 2)].n_shared_terms == 4
