"""functions/ tier: salting equivalence, late-data policy, BPE, safe_corr."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from data_timeseries_java_spark.fixtures import demo_ticks
from data_timeseries_java_spark.functions import salted_sum
from data_timeseries_java_spark.operators.multimodal import (
    documents_as_media,
    resize_images,
    sample_frames,
)
from data_timeseries_java_spark.schemas import TICK_SCHEMA
from data_timeseries_java_spark.streaming import streaming_ohlc_candles


def test_salted_sum_equals_plain_sum(spark, sf_dir):
    from data_timeseries_java_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    plain = {(r.l_returnflag,): r.s for r in
             li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()}
    salted = {(r.l_returnflag,): r.sum_l_quantity for r in
              salted_sum(li, ["l_returnflag"], "l_quantity", n_salts=8).collect()}
    assert set(plain) == set(salted)
    for k in plain:
        assert abs(plain[k] - salted[k]) < 1e-6 * max(1.0, abs(plain[k]))


def test_streaming_drops_late_rows(spark, tmp_path):
    """Explicit late-data policy: a row older than the watermark is
    dropped from its (already finalized) window."""
    d = str(tmp_path)
    t = lambda m: datetime(2016, 1, 1, 0, m, tzinfo=timezone.utc)
    f0 = [("K", t(0), 1.0, 1.0, True), ("K", t(1), 2.0, 2.0, True)]
    f1 = [("K", t(10), 5.0, 5.0, True)]      # advances watermark to :10
    f2 = [("K", t(12), 6.0, 6.0, True)]      # extra batch: watermark
    # propagation lags a batch behind the data that moved it
    f3 = [("K", t(0), 99.0, 99.0, True),     # LATE: window [0,2) is closed
          ("K", t(20), 7.0, 7.0, True)]      # sentinel to flush
    import glob
    import os
    import time as _time

    base = _time.time() - 1000
    for i, rows in enumerate([f0, f1, f2, f3]):
        spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(f"{d}/f{i}")
        # the file source orders batches by modification time; force a
        # strictly increasing order so f0 -> f1 -> f2 is deterministic
        for p in glob.glob(f"{d}/f{i}/*"):
            os.utime(p, (base + i * 10, base + i * 10))
    src = (spark.readStream.schema(TICK_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(f"{d}/f*"))
    out = streaming_ohlc_candles(src, "120 seconds")
    q = (out.writeStream.format("memory").queryName("late_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.table("late_test").collect()
    w0 = [r for r in rows if r.window_start == datetime(2016, 1, 1, 0, 0)]
    assert len(w0) == 1
    # the late 99.0 tick did NOT reopen or amend the window
    assert w0[0].max_ask.ask == 2.0


def test_multimodal_resize_and_frames(spark, sf_dir):
    from data_timeseries_java_spark.tables import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents")).limit(10)
    rs = resize_images(media, 64, 64).collect()
    assert all(len(r.resized) == 64 * 64 // 64 for r in rs)
    fr = sample_frames(media, n_frames=3).collect()
    assert len(fr) == 30  # 10 docs x 3 frames
    assert {r.frame_idx for r in fr} == {0, 1, 2}
    assert all(r.frame_ts_ms == r.frame_idx * 1000 for r in fr)


def test_fake_decode_adapter_path(spark, sf_dir):
    """The deterministic fake codec for NON-image payloads (text bytes
    through documents_as_media) stays a working, unit-tested adapter
    now that the driver-gated decode query runs real PNGs: dims follow
    the documented byte-length recipe and the 8-bucket histogram
    feature is L1-normalized."""
    from data_timeseries_java_spark.operators.multimodal import (
        decode_features)
    from data_timeseries_java_spark.tables import load_table

    media = documents_as_media(load_table(spark, sf_dir, "documents")).limit(10)
    payload_by_id = {r.media_id: bytes(r.payload) for r in media.collect()}
    for r in decode_features(media).collect():
        n = len(payload_by_id[r.media_id])
        assert r.byte_len == n
        assert r.width == 16 + n % 64
        assert r.height == 16 + (n // 64) % 64
        assert r.n_frames == 1
        assert abs(sum(r.feature) - 1.0) < 1e-6
        hist = [0] * 8
        for by in payload_by_id[r.media_id]:
            hist[by % 8] += 1
        assert abs(r.feature[0] - hist[0] / n) < 1e-6


def test_bpe_replace_chain_matches_classic_apply(spark):
    """The replace-chain BPE apply must equal the classic per-word
    sequential merge algorithm — including the leftmost-greedy
    non-overlapping case ('aaa' with merge (a,a) -> [aa, a])."""
    from data_timeseries_java_spark.functions.bpe_vocab import MERGES
    from data_timeseries_java_spark.operators.text import bpe_token_counts

    def classic(text):
        import re
        total = n_chars = 0
        words = re.findall(r"[a-z0-9]+", text.lower())
        for w in words:
            toks = list(w)
            for a, b in MERGES:
                out, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a \
                            and toks[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            total += len(toks)
            n_chars += len(w)
        return len(words), n_chars, total

    samples = [
        "the market went in together with the join ordering",
        "aaa baba overlap ttt sstt",            # overlapping-merge cases
        "Punctuation, CAPS and 123 numbers!",
        "",                                      # empty -> all zeros
        "x",                                     # single char word
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(samples)], "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_chars, r.n_bpe_tokens)
           for r in bpe_token_counts(df).collect()}
    for i, t in enumerate(samples):
        assert got[i] == classic(t), (t, got[i], classic(t))


@pytest.mark.slow  # 231 s: 1024-rank chain; the 64-rank equality stays
# in the default run via test_bpe_vocab_path_equals_direct_chain
def test_bpe_dict_mechanism_survives_1024_merges(spark, sf_dir):
    """The production-vocab mechanism pin: the 1024-rank table applied
    via dictionary tokenization in depth-64 segments must (a) not blow
    the JVM stack — a direct depth-1024 replace chain does, measured
    StackOverflowError in scripts/bench_bpe_merges.py — and (b) equal
    the DOC-LEVEL direct chain over the CORPUS-TRAINED prefix, because
    ranks 89..1023 are saturation filler that never fires on this
    corpus (functions/bpe_vocab_1k.py docstring) while still costing a
    scan each. The "direct" arms run _bpe_token_counts_direct — the
    pre-round-14 chain-over-every-document implementation — so this is
    ALSO the vocabulary-path == direct-chain equality proof for the
    round-14 bpe_token_counts rewrite (word independence of the
    serialization: merge patterns contain no space, the inter-word gap
    reads '~ ~', so per-word chain application equals doc-level), on
    real corpus data at both merge tables."""
    from data_timeseries_java_spark.functions.bpe_vocab import MERGES
    from data_timeseries_java_spark.functions.bpe_vocab_1k import (
        MERGES as MERGES_1K)
    from data_timeseries_java_spark.operators.text import (
        _bpe_token_counts_direct,
        bpe_token_counts,
        bpe_token_counts_dict,
    )
    from data_timeseries_java_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    trained = [m for i, m in enumerate(MERGES_1K) if i < 89]
    direct = sorted(_bpe_token_counts_direct(docs, merges=trained).collect())
    dict_1k = sorted(
        bpe_token_counts_dict(docs, merges=MERGES_1K, segment=64).collect())
    assert dict_1k == direct

    direct_64 = sorted(_bpe_token_counts_direct(docs, merges=MERGES)
                       .collect())
    dict_64 = sorted(bpe_token_counts_dict(docs, merges=MERGES).collect())
    assert dict_64 == direct_64


def test_bpe_vocab_path_equals_direct_chain(spark, sf_dir):
    """The round-14 bpe_token_counts rewrite's equality proof, under
    the name the operator docstrings cite: the vocabulary path (chain
    over distinct words, counts joined back) equals the pre-r14
    doc-level direct chain on real corpus data, incl. the keep_cols
    passthrough arm tokenizer_fertility rides. Word independence of
    the serialization: merge patterns contain no space, the inter-word
    gap reads '~ ~', so per-word chain application equals doc-level."""
    from data_timeseries_java_spark.functions.bpe_vocab import MERGES
    from data_timeseries_java_spark.operators.text import (
        _bpe_token_counts_direct,
        bpe_token_counts,
    )
    from data_timeseries_java_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    direct_64 = sorted(_bpe_token_counts_direct(docs, merges=MERGES)
                       .collect())
    vocab_64 = sorted(bpe_token_counts(docs, merges=MERGES).collect())
    assert vocab_64 == direct_64
    direct_keep = sorted(
        _bpe_token_counts_direct(docs, merges=MERGES,
                                 keep_cols=["lang"]).collect())
    vocab_keep = sorted(
        bpe_token_counts(docs, merges=MERGES, keep_cols=["lang"]).collect())
    assert vocab_keep == direct_keep


def test_bpe_vocab_null_text_semantics(spark):
    """Pin the NULL-text contract of both vocab-path lanes (ADVICE
    r14): bpe_token_counts (null_text_as_null=True) yields NULL for
    all three counts and chars_per_token; bpe_token_counts_dict keeps
    the historical zeros. The direct chain differs on NULL text
    (size(NULL) n_words, 0 n_chars) — documented divergence, inert on
    committed data (no NULL texts exist at any SF)."""
    from data_timeseries_java_spark.operators.text import (
        bpe_token_counts,
        bpe_token_counts_dict,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id long, text string")
    vocab = {r.doc_id: r for r in bpe_token_counts(df).collect()}
    assert vocab[2].n_words is None
    assert vocab[2].n_chars is None
    assert vocab[2].n_bpe_tokens is None
    assert vocab[2].chars_per_token is None
    assert vocab[1].n_words == 2
    dic = {r.doc_id: r for r in bpe_token_counts_dict(df).collect()}
    assert (dic[2].n_words, dic[2].n_chars, dic[2].n_bpe_tokens) == (0, 0, 0)
    assert dic[2].chars_per_token is None


def test_bpe_vocab_requires_unique_ids(spark):
    """Document-by-test the id-uniqueness precondition the vocabulary
    path introduced (ADVICE r14): rows sharing a doc_id receive SUMMED
    counts across the duplicates — the direct chain computes per-row.
    This is the stated contract, not a bug; committed datasets key
    documents uniquely."""
    from data_timeseries_java_spark.operators.text import (
        bpe_token_counts,
    )

    df = spark.createDataFrame(
        [(1, "alpha"), (1, "beta gamma")], "doc_id long, text string")
    rows = bpe_token_counts(df).collect()
    assert len(rows) == 2
    # both rows carry the id-level sum: 1 word + 2 words = 3
    assert {r.n_words for r in rows} == {3}


def test_safe_corr_posture_independent(spark):
    """safe_corr (functions/stats.py) must return the SAME answers under
    ANSI and classic postures: NULL (never a raise) on a zero-variance
    group, and values within last-ulp of the built-in corr elsewhere.
    The suite session runs ANSI ON, so the moment-form branch is the
    one every oracle lane exercises; here both branches are pinned
    explicitly by flipping the runtime conf around plan-build."""
    from data_timeseries_java_spark.functions.stats import safe_corr

    df = spark.createDataFrame(
        [(1, 1.0, 2.0), (1, 1.0, 3.0), (1, 1.0, 4.0),
         (2, 1.0, 2.0), (2, 2.0, 4.0), (2, 3.0, 5.0)],
        "g int, x double, y double")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    out = {}
    try:
        for posture in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", posture)
            rows = (df.groupBy("g").agg(safe_corr("x", "y").alias("r"))
                    .collect())
            out[posture] = {row.g: row.r for row in rows}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    for posture, vals in out.items():
        assert vals[1] is None, f"zero variance must be NULL ({posture})"
        assert abs(vals[2] - 0.9819805060619659) < 1e-12, posture
    assert abs(out["true"][2] - out["false"][2]) < 1e-14


def test_ansi_probe_reads_effective_default(spark):
    """`_ansi_on` must see the session's EFFECTIVE posture — including
    Spark 4's built-in default of true when the user never set the
    conf. Passing an explicit 'false' fallback to conf.get masks that
    default: conf.get(key, 'false') returns 'false' on an unset key
    while conf.get(key) returns the real default — so the buggy form
    would emit bare F.corr into a vanilla ANSI-ON Spark 4 session and
    zero-variance groups would raise DIVIDE_BY_ZERO (round-12 ADVICE,
    high)."""
    from data_timeseries_java_spark.functions.stats import _ansi_on, safe_corr

    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        effective = spark.conf.get(key)  # Spark's built-in default
        # Pin the bug shape: the fallback form masks the default.
        assert spark.conf.get(key, "false") == "false"
        assert effective == "true", "Spark 4 defaults ANSI on"
        assert _ansi_on() is True
        # And the consequence: safe_corr in a never-configured session
        # must yield NULL on zero variance, never a raise.
        df = spark.createDataFrame(
            [(1.0, 2.0), (1.0, 3.0), (1.0, 4.0)], "x double, y double")
        assert df.agg(safe_corr("x", "y")).collect()[0][0] is None
    finally:
        spark.conf.set(key, prev)


def test_safe_corr_posture_flip_stale_form(spark):
    """safe_corr reads posture at plan-BUILD time (documented in its
    docstring): a session that flips ANSI after building gets the
    stale form. Pin that the stale form is still SAFE — NULL on zero
    variance, never a raise — in BOTH flip directions, and that the
    two postures do emit different forms at build."""
    from data_timeseries_java_spark.functions.stats import safe_corr

    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    df = spark.createDataFrame(
        [(1.0, 2.0), (1.0, 3.0), (1.0, 4.0)], "x double, y double")
    try:
        spark.conf.set(key, "false")
        classic_col = safe_corr("x", "y")
        classic_built = df.agg(classic_col.alias("r"))
        assert "try_divide" not in str(classic_col)

        spark.conf.set(key, "true")
        ansi_col = safe_corr("x", "y")
        ansi_built = df.agg(ansi_col.alias("r"))
        assert "try_divide" in str(ansi_col)

        # classic-built plan executed under ANSI: stale form, no raise
        assert classic_built.collect()[0].r is None
        spark.conf.set(key, "false")
        # ANSI-built plan executed under classic: stale form, no raise
        assert ansi_built.collect()[0].r is None
    finally:
        spark.conf.set(key, prev)


def test_blas_pin_reaches_python_workers(spark):
    """The session's spark.executorEnv BLAS pin (session.py, round 14)
    is load-bearing for the media/Gram kernel numbers — assert the env
    vars actually arrive inside Python workers (VERDICT r14 item 3:
    'the executor-env pin should be asserted in a test if it stays').
    Skipped when the pin is lifted via SPARK_GRAFT_WORKER_BLAS_PIN=0."""
    import os

    import pytest as _pytest

    if os.environ.get("SPARK_GRAFT_WORKER_BLAS_PIN", "1") != "1":
        _pytest.skip("pin lifted by env")

    def probe(batches):
        import os as _os

        import pandas as _pd
        for pdf in batches:
            yield _pd.DataFrame({
                "openblas": [_os.environ.get("OPENBLAS_NUM_THREADS", "")]
                * len(pdf),
                "omp": [_os.environ.get("OMP_NUM_THREADS", "")] * len(pdf),
                "mkl": [_os.environ.get("MKL_NUM_THREADS", "")] * len(pdf),
            })

    df = spark.range(4).mapInPandas(
        probe, "openblas string, omp string, mkl string")
    rows = df.collect()
    assert rows, "probe produced no rows"
    for r in rows:
        assert (r.openblas, r.omp, r.mkl) == ("1", "1", "1"), r
