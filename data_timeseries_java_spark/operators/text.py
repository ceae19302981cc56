"""Text-analysis operators for training-data pipelines.

All pure built-in column expressions (whole-stage codegen, no UDFs):
tokenization, language-ID scoring, quality scoring, token counting,
document fingerprinting. Deterministic and engine-portable — hashing is
md5-hex (identical in Spark and DuckDB), so every operator is
oracle-checkable.

Scale: each operator is a narrow map over the corpus (no shuffle except
the explicit groupBys), so it pipelines with the parquet scan at any
data size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_timeseries_java_spark.functions.stats import _floor6

# Tiny per-language stopword lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately small: the heuristic is the operator; real
# deployments swap in bigger lexicons.
LANG_LEXICONS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "zu", "ist"],
    "en": ["the", "a", "of", "and", "to", "is"],
    "es": ["el", "la", "de", "y", "que", "es"],
    "fr": ["le", "la", "de", "et", "les", "est"],
    "zh": ["de", "shi", "bu", "le", "zai", "you"],
}

STOPWORDS = sorted({w for ws in LANG_LEXICONS.values() for w in ws})

# BPE-ish pretokenizer: letter runs, digit runs, single punctuation.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text (empty strings removed)."""
    return F.filter(F.split(F.lower(text), " "), lambda t: t != "")


def tokenize(df: DataFrame, text_col: str = "text",
             out_col: str = "toks") -> DataFrame:
    return df.withColumn(out_col, tokens(F.col(text_col)))


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex tokens, distinct
    tokens, chars-per-token."""
    t = tokens(F.col(text_col))
    n_ws = F.size(t).cast("long")
    # F.lit for the pattern: SQL string literals would eat the backslash
    n_bpe = F.size(F.regexp_extract_all(
        F.col(text_col), F.lit(TOKEN_REGEX), F.lit(0))).cast("long")
    n_distinct = F.size(F.array_distinct(t)).cast("long")
    return df.select(
        "doc_id",
        n_ws.alias("n_tokens_ws"),
        n_bpe.alias("n_tokens_bpe"),
        n_distinct.alias("n_tokens_distinct"),
        _floor6(F.length(text_col) / F.greatest(n_ws, F.lit(1))).alias("chars_per_token"),
    )


def quality_columns(text_col: str = "text") -> dict[str, Column]:
    """The quality-score output columns as plain expressions, so callers
    (q_corpus_build) can fuse them into a wider single-scan projection."""
    t = tokens(F.col(text_col))
    n_tok = F.size(t).cast("double")
    n_chars = F.length(text_col).cast("double")
    # punct count via translate (char-map), NOT regexp_replace: the
    # regex rebuild of every document was the single hottest expression
    # in the fused corpus scan (26s of a 26s quality projection at the
    # 100x decade; 10x faster as translate). Equivalent by definition:
    # both count code points outside [A-Za-z0-9 ], and the DuckDB
    # oracle keeps the regexp formulation as the independent derivation.
    _alnum = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
              "abcdefghijklmnopqrstuvwxyz0123456789 ")
    n_punct = F.length(F.translate(F.col(text_col), _alnum, ""))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x))).cast("double")
    mean_tok_len = (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1.0))

    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = n_stop / F.greatest(n_tok, F.lit(1.0))
    score = (F.lit(0.4) * len_score
             + F.lit(0.3) * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
             + F.lit(0.3) * F.least(stop_ratio * 4, F.lit(1.0)))
    return {
        "n_tokens": F.size(t).cast("long"),
        "punct_ratio": _floor6(punct_ratio),
        "stopword_ratio": _floor6(stop_ratio),
        "mean_token_len": _floor6(mean_tok_len),
        "quality_score": _floor6(score),
    }


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, punctuation ratio, stopword
    ratio, mean token length → [0,1] composite score."""
    cols = quality_columns(text_col)
    return df.select("doc_id",
                     *[c.alias(name) for name, c in cols.items()])


def language_columns(text_col: str = "text",
                     lang_col: str = "lang") -> dict[str, Column]:
    """Language-ID output columns as plain expressions over the raw
    token stream (fusable into a single-scan projection)."""
    toks = tokens(F.col(text_col))
    n = F.size(toks).cast("double")
    lang_scores = []
    for lang, words in sorted(LANG_LEXICONS.items()):
        lex = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda x: F.array_contains(lex, x))).cast("double")
        lang_scores.append(F.struct(
            _floor6(hits / F.greatest(n, F.lit(1.0))).alias("score"),
            F.lit(lang).alias("lang"),
        ))
    # deterministic argmax: maximum of (score, lang_rank_desc) where
    # lang_rank_desc makes the earlier alphabet win ties
    ranked = []
    langs_sorted = sorted(LANG_LEXICONS)
    for i, s in enumerate(lang_scores):
        ranked.append(F.struct(
            s["score"].alias("score"),
            F.lit(len(langs_sorted) - i).alias("rank"),
            s["lang"].alias("lang"),
        ))
    best = F.array_max(F.array(*ranked))
    return {
        "declared_lang": F.col(lang_col),
        "predicted_lang": best["lang"],
        "lang_score": best["score"],
        "lang_match": best["lang"] == F.col(lang_col),
    }


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID: stopword-lexicon hit-rate per language, argmax wins
    (ties break on language code). Returns per-doc best language + score."""
    cols = language_columns(text_col)
    return df.select("doc_id",
                     *[c.alias(name) for name, c in cols.items()])


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting: md5 over the sorted distinct token set
    (content-shape fingerprint, robust to word order), a short prefix
    fingerprint, and a min-token-hash (1-perm minhash) sketch."""
    t = tokens(F.col(text_col))
    sorted_distinct = F.array_sort(F.array_distinct(t))
    fp = F.md5(F.concat_ws(" ", sorted_distinct))
    prefix = F.md5(F.concat_ws(" ", F.slice(t, 1, 5)))
    minhash1 = F.array_min(F.transform(F.array_distinct(t), lambda x: F.md5(x)))
    return df.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(prefix, 1, 16).alias("prefix_fp"),
        minhash1.alias("min_token_hash"),
    )


#: winnowing position encoding: v = hash * 2^20 + (2^20 - 1 - pos)
#: minimizes (hash asc, pos desc) as ONE int64 min — no argmin needed.
#: Caps docs at 2^20 grams; hash is 32 bits, so v < 2^52 (exact int64).
_WINNOW_M = 1 << 20


def _winnow_fps(df: DataFrame, text_col: str, id_col: str,
                k: int, w: int) -> DataFrame:
    """Shared winnowing core → the distinct fingerprint table
    (id, fp_pos, fp_hash), capped at the first 2^20 grams per doc. See
    :func:`winnowing_fingerprints` for the algorithm and plan shape."""
    from pyspark.sql import Window

    t = tokens(F.col(text_col))
    toks_e = df.select(F.col(id_col), F.posexplode(t).alias("pos", "tok"))
    wd = Window.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(" ", F.col("tok"),
                       *[F.lead("tok", i).over(wd) for i in range(1, k)])
    grams = (toks_e.select(id_col, "pos", gram.alias("gram"))
             .where(F.length("gram") -
                    F.length(F.regexp_replace("gram", " ", "")) == k - 1))
    h = (F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long"))
    v = (h * _WINNOW_M + (F.lit(_WINNOW_M - 1) - F.col("pos")))
    trail = (Window.partitionBy(id_col).orderBy("pos")
             .rowsBetween(-(w - 1), 0))
    # hard cap: the encoding packs pos into the low 20 bits, so grams
    # past the first 2^20 would borrow from the hash field and corrupt
    # fingerprints SILENTLY (the oracle mirrors the same formula, so
    # the gate couldn't catch it). Fingerprints therefore cover the
    # first 2^20 (~1M) grams of a document — an explicit, mirrored
    # truncation instead of undefined arithmetic.
    capped = grams.where(F.col("pos") < _WINNOW_M)
    sel = (capped.select(id_col, "pos", v.alias("v"))
           .withColumn("sel_v", F.min("v").over(trail))
           # only complete windows select (complete grams sit at dense
           # positions 0..n-k, so pos >= w-1 <=> a full w-window ends
           # here; earlier prefixes are sub-windows of the first one)
           .where(F.col("pos") >= w - 1))
    fps = (sel.select(
        F.col(id_col),
        (F.lit(_WINNOW_M - 1) - (F.col("sel_v") % _WINNOW_M)).alias("fp_pos"),
        # integer DIV, not `/`: float division of a ~2^52 int can round
        # the quotient across the +1 boundary before the long cast
        F.expr(f"sel_v DIV {_WINNOW_M}").alias("fp_hash"))
        .distinct())
    return fps


def winnowing_contamination(corpus: DataFrame, eval_docs: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            k: int = 3, w: int = 4,
                            min_shared: int = 2) -> DataFrame:
    """Eval-set decontamination on winnowing fingerprints: corpus
    documents sharing >= ``min_shared`` DISTINCT fingerprint hashes
    with the held-out eval SET (pooled across eval documents — the
    same set-level semantics as ``dedup.ngram_contamination``;
    ``n_eval_docs`` reports how many eval docs contributed). Complements ``dedup.ngram_contamination``
    (full k-gram overlap): winnowing's guarantee — any shared run of
    length >= w + k - 1 leaves a shared fingerprint — holds at ~2/(w+1)
    of the shingle volume, so the eval side's signature set (the
    broadcast side) is ~3x smaller for the same contamination recall on
    runs of that length.

    Shape at 100 TB: each side is the linear winnowing pass; the eval
    fingerprint set is tiny (benchmarks, not corpora) and broadcasts
    into one hash join against the corpus fingerprint stream; one
    rollup groupBy. Never all-pairs."""
    c_fps = _winnow_fps(corpus, text_col, id_col, k, w)
    e_fps = _winnow_fps(eval_docs, text_col, id_col, k, w)
    e_set = (e_fps.select(F.col(id_col).alias("eval_id"), "fp_hash")
             .distinct())
    hits = c_fps.join(F.broadcast(e_set), "fp_hash")
    return (hits.groupBy(id_col)
            .agg(F.count_distinct("fp_hash").alias("n_shared_fp"),
                 F.count_distinct("eval_id").alias("n_eval_docs"))
            .where(F.col("n_shared_fp") >= min_shared)
            .select(id_col,
                    F.col("n_shared_fp").cast("long").alias("n_shared_fp"),
                    F.col("n_eval_docs").cast("long").alias("n_eval_docs")))


def winnowing_fingerprints(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           k: int = 3, w: int = 4,
                           cache_plan: bool = True) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every k-gram of the token stream, then in
    every window of ``w`` consecutive k-gram hashes keep the minimum
    (rightmost position on ties). Guarantees: any shared token run of
    length >= w + k - 1 yields at least one shared fingerprint, and
    fingerprint density is ~2/(w+1) — position-robust near-dup
    signatures at a fraction of the full shingle set's size.

    Per doc: gram/fingerprint counts, density, and how many of its
    fingerprint hashes also appear in another document (the MOSS
    plagiarism signal).

    Shape at 100 TB: k-grams via ``lead`` windows over the posexploded
    token stream (linear — no per-doc HOF quadratics), the
    rightmost-min-per-window via a single trailing ROWS window min over
    an integer encoding (hash * M + (M-1-pos)) — one shuffle on doc,
    reused by every window pass and the final rollup; the cross-doc
    stage is a hash-collision count, never all-pairs. md5-lane hashes
    keep the whole pipeline reproducible in an external SQL engine."""
    fps = _winnow_fps(df, text_col, id_col, k, w)
    # fps feeds both the collision count and the per-doc rollup —
    # materialize the ~2/(w+1)-density fingerprint set once instead of
    # re-tokenizing + re-windowing the corpus per consumer
    from data_timeseries_java_spark.plans.materialize import materialize
    fps = materialize(fps, cache_plan)
    fp_docs = fps.groupBy("fp_hash").agg(
        F.count_distinct(id_col).alias("n_docs_with_fp"))
    # n_grams is closed-form in the token count (max(len - k + 1, 0)) —
    # a stateless map-side scan, NOT a second explode + per-doc window
    # over the full token stream just to count rows
    t = tokens(F.col(text_col))
    n_grams = (df.select(F.col(id_col),
                         (F.size(t) - (k - 1)).alias("n_grams"))
               .where(F.col("n_grams") >= 1))
    per_doc = (fps.join(fp_docs, "fp_hash")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_fingerprints"),
                    F.count_distinct(F.when(F.col("n_docs_with_fp") > 1,
                                            F.col("fp_hash")))
                    .alias("n_shared_fp")))
    return (n_grams.join(per_doc, id_col, "left")
            .select(
                id_col,
                F.col("n_grams").cast("long").alias("n_grams"),
                F.coalesce("n_fingerprints", F.lit(0)).cast("long")
                .alias("n_fingerprints"),
                _floor6(F.coalesce("n_fingerprints", F.lit(0))
                        / F.greatest(F.col("n_grams"), F.lit(1)))
                .alias("fp_density"),
                F.coalesce("n_shared_fp", F.lit(0)).cast("long")
                .alias("n_shared_fp"),
                (F.coalesce("n_shared_fp", F.lit(0)) > 0)
                .alias("has_shared_fp")))


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher/C4-style repetition quality signals per document: fraction
    of tokens taken by the most frequent token / bigram, distinct-token
    and distinct-bigram ratios, and a composite ``is_repetitive`` flag.

    Mirrors the repetition-removal rules of Rae et al. 2021 (Gopher,
    table A1) on the token level (the synthetic corpus has no line
    structure, so line-level duplicate rules are vacuous here).

    Scale: ONE scan of the corpus. Tokens and bigrams are tagged
    (``t:``/``b:`` prefixes), concatenated, and exploded once, so the
    per-(doc, gram) count and the per-doc argmax are two ordinary
    hash aggregations on the same ``doc_id``-keyed shuffle. Linear in
    document length — no per-doc quadratic HOF (``transform`` over
    ``array_distinct`` with a nested ``filter`` would be O(len²) per
    doc, which dies on 100k-token documents).

    Flag thresholds are applied to the floor-quantized fractions, so
    the boolean is bit-stable across engines."""
    t = tokens(F.col(text_col))
    big = F.filter(
        F.zip_with(t, F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                   lambda x, y: F.when(y.isNotNull(),
                                       F.concat(x, F.lit(" "), y))),
        lambda s: s.isNotNull())
    tagged = F.concat(F.transform(t, lambda x: F.concat(F.lit("t:"), x)),
                      F.transform(big, lambda x: F.concat(F.lit("b:"), x)))
    # ONLY (id, gram) rides the explode. Projecting size(t)/size(big)
    # ALONGSIDE the generator put those expressions above GenerateExec,
    # where Catalyst re-evaluates the entire token/bigram array
    # construction once PER GENERATED GRAM — O(len^2) per document,
    # measured as 241s of a 252s lane at the 100x decade (3.2s without
    # the ride-along columns). The totals are recovered for free from
    # the tagged counts themselves: sum of t:-gram counts IS the token
    # total, sum of b:-gram counts IS the bigram total.
    grams = df.select(
        F.col(id_col),
        F.explode(tagged).alias("gram"))
    counts = grams.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("cnt"))
    is_tok = F.col("gram").startswith("t:")
    per_doc = counts.groupBy(id_col).agg(
        F.max(F.when(is_tok, F.col("cnt"))).alias("top_tok"),
        F.max(F.when(~is_tok, F.col("cnt"))).alias("top_big"),
        F.count(F.when(is_tok, F.lit(1))).alias("n_tok_distinct"),
        F.count(F.when(~is_tok, F.lit(1))).alias("n_big_distinct"),
        F.sum(F.when(is_tok, F.col("cnt")).otherwise(0)).alias("n_tok"),
        F.sum(F.when(~is_tok, F.col("cnt")).otherwise(0)).alias("n_big"))
    top_token_frac = _floor6(F.coalesce(F.col("top_tok"), F.lit(0))
                             / F.greatest(F.col("n_tok"), F.lit(1)))
    top_bigram_frac = _floor6(F.coalesce(F.col("top_big"), F.lit(0))
                              / F.greatest(F.col("n_big"), F.lit(1)))
    distinct_token_ratio = _floor6(F.col("n_tok_distinct")
                                   / F.greatest(F.col("n_tok"), F.lit(1)))
    distinct_bigram_ratio = _floor6(F.col("n_big_distinct")
                                    / F.greatest(F.col("n_big"), F.lit(1)))
    return per_doc.select(
        id_col,
        F.col("n_tok").cast("long").alias("n_tokens"),
        top_token_frac.alias("top_token_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        distinct_token_ratio.alias("distinct_token_ratio"),
        distinct_bigram_ratio.alias("distinct_bigram_ratio"),
        ((top_token_frac > 0.2)
         | (top_bigram_frac > 0.18)
         | (distinct_token_ratio < 0.5)).alias("is_repetitive"),
    )


def bigram_lm_score(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    cache_plan: bool = True) -> DataFrame:
    """Model-free perplexity proxy: score every document by the average
    log-probability of its token bigrams under the CORPUS's own bigram
    language model, P(w2|w1) = c(w1 w2) / c(w1 ·) — the classic
    KenLM-style quality signal used to rank web text for LLM training
    (CCNet / Wenzek et al. 2020 rank by LM perplexity; this is the
    self-contained MLE analogue needing no external model). Low
    (more negative) scores mark documents whose token transitions are
    unusual for the corpus — boilerplate, shuffled text, non-language.

    Per doc: bigram count, avg log-prob (floor-quantized), a
    ``perplexity_bucket`` decile-ish integer bucket (floor(-avg)), and
    the count of singleton bigrams (transitions seen nowhere else).

    Shape at 100 TB: ONE corpus scan builds the per-(doc, bigram) count
    table, which is materialized and feeds everything else — the global
    bigram counts c2 aggregate it, the continuation counts c1 aggregate
    c2 (c1(w) = Σ c2(w ·), no second pass over text), and the scoring
    join runs over the same cached table with count-weighted
    log-probs (Σ lp·cnt ≡ the per-occurrence sum). Model tables stay
    distributed (no driver collect), so vocabulary size is unbounded;
    every count is an integer and the only float op is ln(c2/c1) at
    output — reproducible in an external SQL engine."""
    from data_timeseries_java_spark.plans.materialize import materialize

    t = tokens(F.col(text_col))
    big = F.filter(
        F.zip_with(t, F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                   lambda x, y: F.when(y.isNotNull(),
                                       F.concat(x, F.lit(" "), y))),
        lambda s: s.isNotNull())
    doc_big = df.select(F.col(id_col), F.explode(big).alias("bg"))
    db = doc_big.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("cnt"))
    db = materialize(db, cache_plan)
    # corpus model: c2 = bigram occurrences; c1 = first-token
    # continuation occurrences, derived FROM c2 (Σ of its bigrams)
    c2 = db.groupBy("bg").agg(F.sum("cnt").alias("c2"))
    w1 = F.substring_index("bg", " ", 1)
    c1 = (c2.select(w1.alias("w1"), "c2")
          .groupBy("w1").agg(F.sum("c2").alias("c1")))
    scored = (db.join(c2, "bg")
              .withColumn("w1", w1)
              .join(c1, "w1")
              .withColumn("lp", F.log(F.col("c2") / F.col("c1"))))
    per_doc = scored.groupBy(id_col).agg(
        F.sum("cnt").alias("n_bigrams"),
        F.sum(F.col("lp") * F.col("cnt")).alias("sum_lp"),
        F.count(F.when(F.col("c2") == 1, F.lit(1)))
        .alias("n_singleton_bigrams"))
    avg_lp = _floor6(F.col("sum_lp") / F.col("n_bigrams"))
    return per_doc.select(
        id_col,
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        avg_lp.alias("avg_logprob"),
        F.floor(-avg_lp).cast("long").alias("perplexity_bucket"),
        F.col("n_singleton_bigrams").cast("long")
        .alias("n_singleton_bigrams"),
    )


def tf_idf(df: DataFrame, text_col: str = "text",
           id_col: str = "doc_id") -> DataFrame:
    """Per-(doc, token) TF-IDF: tf = term count in doc, idf =
    ln(N / doc_freq) (plain form — deterministic and engine-portable)."""
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    # corpus size as a broadcast 1-row scalar, NOT a driver-side count():
    # the whole query stays one lazy plan (no eager extra scan / barrier)
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (tf.join(dfreq, "tok")
            .crossJoin(F.broadcast(n_docs))
            .select(id_col, "tok", "tf", "doc_freq",
                    (F.col("tf") * F.log(F.col("_n_docs") / F.col("doc_freq")))
                    .alias("tf_idf")))


def bm25_search(df: DataFrame, query_terms: list[str],
                text_col: str = "text", id_col: str = "doc_id",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Lexical search: BM25 score of each document against a bag of query
    terms. Pure aggregation arithmetic — one shuffle on token, one on doc."""
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    doc_len = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    # corpus scalars (N, avg doc length) as a broadcast 1-row crossJoin —
    # keeps the whole query one lazy plan; a driver-side count()/collect()
    # would be two eager full scans and a pipeline barrier at 100 TB
    stats = (df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
             .crossJoin(doc_len.agg(F.avg("dl").alias("_avg_dl"))))
    tf = (toks.where(F.col("tok").isin(query_terms))
          .groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    idf = F.log((F.col("_n_docs") - F.col("doc_freq") + 0.5)
                / (F.col("doc_freq") + 0.5) + 1.0)
    scored = (tf.join(dfreq, "tok").join(doc_len, id_col)
              .crossJoin(F.broadcast(stats))
              .select(id_col,
                      (idf * (F.col("tf") * (k1 + 1))
                       / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("_avg_dl"))))
                      .alias("term_score")))
    return scored.groupBy(id_col).agg(F.sum("term_score").alias("bm25"))


# PII patterns restricted to syntax valid in BOTH Java regex (Spark) and
# RE2 (DuckDB): no lookaround, no possessive quantifiers, \b and
# non-capturing groups only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def pii_columns(text_col: str = "text") -> dict[str, Column]:
    """PII match-count output columns as plain expressions (fusable into
    a wider single-scan projection): per-category counts, a total, and a
    has_pii flag. Categories are counted independently (a string can
    belong to several)."""
    counts = {f"n_{name}": F.regexp_count(F.col(text_col), F.lit(pat))
              for name, pat in sorted(PII_PATTERNS.items())}
    total = sum(counts.values(), F.lit(0))
    out: dict[str, Column] = {name: c.cast("long")
                              for name, c in counts.items()}
    out["n_pii"] = total.cast("long")
    out["has_pii"] = total > 0
    return out


def pii_signals(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-document PII scan: match counts per category (email, phone,
    IPv4, SSN-shaped) and a has_pii flag. Pure regexp_count column
    expressions — a narrow map that pipelines with the scan; no shuffle,
    no UDF."""
    cols = pii_columns(text_col)
    return df.select(id_col, *[c.alias(n) for n, c in cols.items()])


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "redacted") -> DataFrame:
    """Replace every PII match with a typed placeholder (``<EMAIL>`` …).
    Applied in sorted-category order so the output is deterministic when
    categories could overlap. Narrow map, whole-stage codegen."""
    out = F.col(text_col)
    for name in sorted(PII_PATTERNS):
        out = F.regexp_replace(out, PII_PATTERNS[name], f"<{name.upper()}>")
    return df.withColumn(out_col, out)


# ---- real subword tokenization: BPE via a replace chain -----------------

BPE_SEP = "~"          # not in the [a-z0-9]+ word alphabet


def bpe_serialized(text_col: str = "text") -> Column:
    """Serialize a document for BPE merge application: lowercase
    ``[a-z0-9]+`` words, each word's characters wrapped/joined with the
    separator (``"the" -> "~t~~h~~e~"``), words joined by a space (so a
    merge pattern ``~a~~b~`` can never straddle a word boundary —
    the gap reads ``~ ~``).

    The point of this encoding: applying one BPE merge (a,b)->ab
    leftmost-greedy non-overlapping is EXACTLY one ``replace(s,
    '~a~~b~', '~ab~')`` — both Spark's ``replace`` and DuckDB's scan
    left-to-right and skip over replaced text, so the full merge-table
    application is a chain of built-in string replaces: whole-stage
    codegen JVM-side, no UDF, and byte-identical in the SQL oracle."""
    words = F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit("[a-z0-9]+"), 0)
    per_word = F.transform(
        words,
        lambda w: F.substring(
            F.concat(F.lit(BPE_SEP),
                     F.regexp_replace(w, "(.)", f"$1{BPE_SEP}{BPE_SEP}")),
            F.lit(1), F.length(w) * 3))
    return F.array_join(per_word, " ")


def bpe_apply(serialized: Column,
              merges: list[tuple[str, str]] | None = None) -> Column:
    """Apply the ranked merge table to a :func:`bpe_serialized` string.
    Rank order is sufficient (no re-scan loop): a merge at rank k only
    creates tokens that participate in merges of rank > k, so earlier
    rules never gain new occurrences — the standard sequential-apply
    property of BPE merge lists."""
    if merges is None:
        from data_timeseries_java_spark.functions.bpe_vocab import MERGES
        merges = MERGES
    s = BPE_SEP
    out = serialized
    for a, b in merges:
        out = F.replace(out, F.lit(f"{s}{a}{s}{s}{b}{s}"),
                        F.lit(f"{s}{a}{b}{s}"))
    return out


def bpe_token_counts(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     merges: list[tuple[str, str]] | None = None,
                     keep_cols: list[str] | None = None) -> DataFrame:
    """Per-document REAL subword token counts (vs the regex estimate in
    :func:`token_counts`): n_words, n_chars, n_bpe_tokens, and the
    chars-per-token compression the merge table achieves.

    Since round 14 this runs the merge chain over the DISTINCT WORD
    vocabulary and sums per-word counts back per document (the
    :func:`bpe_token_counts_dict` shape, shared helper below) instead
    of chaining 64 ``replace`` passes over every document string: the
    chain cost collapses from O(merges x corpus_chars) to
    O(merges x vocab_chars) — Heaps' law keeps the vocabulary tiny
    relative to the corpus, locally ~20x fewer chars through the chain
    (bench lane `text_bpe_tokens` 1.42 -> 0.32 s at sf0.1) and the
    only shape that survives 100 TB. Result-identical by the word-
    independence of the serialization: a merge pattern ``~a~~b~``
    contains no space, the inter-word gap reads ``~ ~``, so applying
    the chain to the joined document equals joining the chain applied
    per word, and the doc-level ``n_words + count('~~')`` arithmetic
    is the sum of per-word ``1 + count('~~')`` (pinned by
    test_bpe_vocab_path_equals_direct_chain). The direct doc-level
    chain lives on in :func:`_bpe_token_counts_direct` (the equality
    arm) and in `sequence_packing_bpe`'s per-doc serialization.

    ``keep_cols`` passes extra input columns through the outer scan,
    so a consumer grouping counts by e.g. language never needs a
    doc_id self-join back onto the source.

    Precondition (new with the round-14 vocabulary path): ``id_col``
    must uniquely identify rows. The per-word counts are grouped by
    ``id_col`` and joined back, so rows SHARING an id would each
    receive the summed counts of all of them — the pre-r14 direct
    chain computed per-row and had no such requirement (it lives on
    as :func:`_bpe_token_counts_direct`). Every committed dataset
    keys documents uniquely (pinned by
    tests/test_functions.py::test_bpe_vocab_requires_unique_ids)."""
    if merges is None:
        from data_timeseries_java_spark.functions.bpe_vocab import MERGES
        merges = MERGES
    # 64 ranks is far under the measured-safe expression depth (256 —
    # see bpe_token_counts_dict), so no segmentation barriers
    return _bpe_counts_by_vocab(df, merges, segment=None,
                                text_col=text_col, id_col=id_col,
                                keep_cols=keep_cols)


def _bpe_token_counts_direct(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             merges: list[tuple[str, str]] | None = None,
                             keep_cols: list[str] | None = None
                             ) -> DataFrame:
    """The pre-round-14 doc-level implementation of
    :func:`bpe_token_counts`: the full merge chain over every document
    string — ``n_tokens = n_words + count('~~')`` on the merged doc
    serialization, nothing exploded. Kept as the equality arm of
    test_bpe_vocab_path_equals_direct_chain (the proof that the
    vocabulary path computes the same counts) and as the reference
    shape for the chain-over-docs cost model in SCALE.md."""
    keep = list(keep_cols or [])
    ss = BPE_SEP + BPE_SEP
    words = F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit("[a-z0-9]+"), 0)
    # stage the merge chain behind an alias used TWICE downstream:
    # CollapseProject keeps multiply-referenced non-trivial aliases as
    # a separate projection, so the 64-replace chain appears ONCE in
    # the analyzed tree (inlining it doubles analysis cost and tree
    # size — measured 1.4s/trial of pure Catalyst time at bench)
    staged = df.select(
        id_col, *keep,
        words.alias("_w"),
        bpe_apply(bpe_serialized(text_col), merges).alias("_m"))
    n_words = F.size(F.col("_w"))
    n_chars = F.length(F.concat_ws("", F.col("_w")))
    n_tok = (n_words
             + ((F.length(F.col("_m"))
                 - F.length(F.replace(F.col("_m"), F.lit(ss), F.lit(""))))
                / 2).cast("long"))
    return staged.select(
        id_col, *keep,
        n_words.cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_chars"),
        n_tok.alias("n_bpe_tokens"),
        F.when(n_tok > 0, _floor6(n_chars / n_tok))
        .alias("chars_per_token"))


def bpe_token_counts_dict(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          merges: list[tuple[str, str]] | None = None,
                          segment: int | None = 128) -> DataFrame:
    """:func:`bpe_token_counts` via DICTIONARY tokenization — the shape
    that survives a production-size merge table (32k-100k ranks).

    The direct replace-chain pays O(merges x corpus_chars): every rank
    rescans every document string, and past a few hundred ranks the
    single nested expression tree also defeats whole-stage codegen (one
    replace nests inside the next, so codegen cannot split the
    generated method below the JVM 64 KB limit — measured in
    scripts/bench_bpe_merges.py). Here the chain is applied to DISTINCT
    WORDS only: corpus cost collapses to one explode + one broadcast
    join, and the chain cost is paid on the vocabulary, which Heaps'
    law keeps tiny relative to a 100 TB corpus.

    ``segment`` bounds the expression-tree depth per stage: every
    ``segment`` merges the vocabulary frame re-materializes (policy
    hook), so no stage ever evaluates a recursion-deep tree. Depth 256
    is measured safe (the direct chain runs at 256); 128 keeps a 2x
    stack margin while halving the barrier count of 64 — barrier count
    is what actually costs wall (measured at 1024 ranks, sf0.1:
    seg=64 -> 12.8s, seg=128 -> 0.7s steady-state exec). The
    vocabulary frame is small by construction, so the surviving
    barriers are cheap. ``segment=None`` builds one unsegmented chain
    (the measured comparison arm — JVM StackOverflowError at 1024).

    Output contract is identical to :func:`bpe_token_counts` —
    documents with zero ``[a-z0-9]+`` words still get a row of zeros."""
    if merges is None:
        from data_timeseries_java_spark.functions.bpe_vocab import MERGES
        merges = MERGES
    return _bpe_counts_by_vocab(df, merges, segment=segment,
                                text_col=text_col, id_col=id_col,
                                keep_cols=None, null_text_as_null=False)


def _bpe_counts_by_vocab(df: DataFrame, merges: list[tuple[str, str]],
                         segment: int | None, text_col: str, id_col: str,
                         keep_cols: list[str] | None,
                         null_text_as_null: bool = True) -> DataFrame:
    """Vocabulary-level token counting shared by
    :func:`bpe_token_counts` (64-merge table, unsegmented chain) and
    :func:`bpe_token_counts_dict` (production vocab, segmented): the
    merge chain runs over DISTINCT words, per-word token counts
    broadcast-join back onto the exploded word stream, one aggregate
    per document. ``null_text_as_null=True`` makes a NULL text yield
    NULL for all three counts; ``False`` keeps the dict lane's
    historical zeros. NEITHER exactly reproduces the direct chain on
    NULL text — the direct chain's doc-level expressions give
    n_words = size(NULL) (-1 legacy / NULL ANSI), n_chars = 0 (the
    concat_ws NULL-skip) and n_bpe_tokens = NULL — but no committed
    dataset contains NULL texts (checked at all SFs), so every
    declared lane's results are identical either way; the flag exists
    so neither lane's NULL contract silently moves (pinned by
    tests/test_functions.py::test_bpe_vocab_null_text_semantics)."""
    from data_timeseries_java_spark.plans.materialize import materialize

    keep = list(keep_cols or [])
    s = BPE_SEP
    words = F.regexp_extract_all(F.lower(F.col(text_col)),
                                 F.lit("[a-z0-9]+"), 0)
    doc_words = (df.select(F.col(id_col), F.explode(words).alias("_w"))
                 .groupBy(id_col, "_w")
                 .agg(F.count(F.lit(1)).alias("_c")))
    vocab = doc_words.select("_w").distinct()
    ser = F.substring(
        F.concat(F.lit(s),
                 F.regexp_replace(F.col("_w"), "(.)", f"$1{s}{s}")),
        F.lit(1), F.length("_w") * 3)
    cur = vocab.select("_w", ser.alias("_m"))
    step = segment or len(merges) or 1
    for i in range(0, len(merges), step):
        col = F.col("_m")
        for a, b in merges[i:i + step]:
            col = F.replace(col, F.lit(f"{s}{a}{s}{s}{b}{s}"),
                            F.lit(f"{s}{a}{b}{s}"))
        cur = cur.select("_w", col.alias("_m"))
        if segment and i + step < len(merges):
            cur = materialize(cur)
    ss = s + s
    wtok = (F.lit(1)
            + ((F.length("_m")
                - F.length(F.replace(F.col("_m"), F.lit(ss), F.lit(""))))
               / 2)).cast("long")
    vocab_tok = cur.select("_w", wtok.alias("_wtok"),
                           F.length("_w").cast("long").alias("_wlen"))
    per_doc = (doc_words.join(F.broadcast(vocab_tok), "_w")
               .groupBy(id_col)
               .agg(F.sum("_c").cast("long").alias("n_words"),
                    F.sum(F.col("_c") * F.col("_wlen")).cast("long")
                    .alias("n_chars"),
                    F.sum(F.col("_c") * F.col("_wtok")).cast("long")
                    .alias("n_bpe_tokens")))
    n_tok = F.coalesce(F.col("n_bpe_tokens"), F.lit(0))

    def _guard(col):
        """NULL out a coalesced count when the doc's text is NULL (the
        direct chain's semantics: NULL text -> NULL counts)."""
        if not null_text_as_null:
            return col
        return F.when(F.col("_tnull"), F.lit(None)).otherwise(col)

    outer_cols = [F.col(id_col), *[F.col(c) for c in keep]]
    if null_text_as_null:
        outer_cols.append(F.col(text_col).isNull().alias("_tnull"))
    return (df.select(*outer_cols).join(per_doc, id_col, "left")
            .select(id_col, *keep,
                    _guard(F.coalesce(F.col("n_words"), F.lit(0)))
                    .cast("long").alias("n_words"),
                    _guard(F.coalesce(F.col("n_chars"), F.lit(0)))
                    .cast("long").alias("n_chars"),
                    _guard(n_tok).cast("long").alias("n_bpe_tokens"),
                    F.when(_guard(n_tok) > 0,
                           _floor6(F.coalesce(F.col("n_chars"), F.lit(0))
                                   / n_tok))
                    .alias("chars_per_token")))


def dsir_importance(df: DataFrame, target: Column, n_buckets: int = 1024,
                    smoothing: float = 1.0, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """DSIR-style importance scoring (after Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling" — public):
    fit hashed-ngram bag-of-words models of a TARGET (quality) corpus
    and the RAW remainder, then score every document by its summed
    per-bucket log-likelihood ratio — docs that look more target-like
    than raw-like carry positive weight.

    Features: unigrams + bigrams of the whitespace token stream, md5-
    hashed into ``n_buckets`` (the paper's hashing trick; identical
    bucket math in the DuckDB oracle). Bucket probabilities are add-
    ``smoothing`` smoothed. ``target`` is any boolean Column over df's
    rows (e.g. ``F.col("lang") == "en"``).

    Selection: ``kept = log_weight > 0`` — a pure threshold, so the
    plan is fully distributed (the paper's Gumbel top-k needs a global
    rank = a global sort of the corpus; a production deployment picks
    the threshold from a quantile sketch of the weights instead —
    `gk_quantiles` here — and keeps selection itself shuffle-free).

    Shape at 100 TB: the bucket-stats model is ``n_buckets`` rows
    regardless of corpus size — ONE aggregate builds both corpus
    models, the llr table broadcasts back, and scoring is a second
    aggregate over the same exploded grams. No vocabulary
    materialization, no driver round-trip. llr is rounded to 9 (the
    cross-engine ln guard), per-doc sums to 6 (house convention).

    The gram stream feeds both aggregates (model build, then scoring),
    so it is materialized once under the ambient policy (round 14:
    recomputing the tokenize + bigram + md5 explode for the second
    aggregate was the lane's single biggest cost). Result identity
    under the cache was verified collect-for-collect at sf0.001/0.01/
    0.1 on 8 and 32 cores — the cached frame keeps the gram stream's
    partitioning, so the ``sum(llr)`` float summation order (pinned by
    the 6-decimal rounding) is unchanged. A caller that would rather
    re-explode than spend the storage runs under noop_policy."""
    from data_timeseries_java_spark.plans import materialize

    gb = materialize(_dsir_grams(df, target, n_buckets, text_col, id_col))
    w = _dsir_llr(_dsir_counts(gb), n_buckets, smoothing)
    return _dsir_score(df, gb, w, target, id_col)


def _dsir_grams(df: DataFrame, target: Column, n_buckets: int,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(id, _is_t, bucket) rows — one per unigram/bigram occurrence.
    Shared verbatim by the batch operator and the streaming model
    builder, so the two paths cannot drift."""
    t = tokens(F.col(text_col))
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    bigrams = F.zip_with(F.slice(t, 1, n1), F.slice(t, 2, n1),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return (df.select(F.col(id_col), target.alias("_is_t"),
                      F.explode(F.concat(t, bigrams)).alias("g"))
            .select(id_col, "_is_t", F.expr(
                f"CAST(conv(substr(md5(g), 1, 8), 16, 10) AS BIGINT)"
                f" % {n_buckets}").alias("bucket")))


def _dsir_counts(gb: DataFrame) -> DataFrame:
    """(bucket, ct, cr) model partial — plain integer sums, so
    per-batch partials merge losslessly (the streaming store's
    contract: summed partials == the single-shot model, exactly)."""
    return (gb.groupBy("bucket")
            .agg(F.sum(F.when(F.col("_is_t"), 1).otherwise(0))
                 .alias("ct"),
                 F.sum(F.when(F.col("_is_t"), 0).otherwise(1))
                 .alias("cr")))


def _dsir_llr(stats: DataFrame, n_buckets: int,
              smoothing: float) -> DataFrame:
    """(bucket, llr) from the count model — rounded to 9 (cross-engine
    ln guard)."""
    tot = stats.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    s, b = float(smoothing), n_buckets
    llr = F.round(F.log(((F.col("ct") + s) * (F.col("tr") + s * b))
                        / ((F.col("cr") + s) * (F.col("tt") + s * b))), 9)
    return stats.crossJoin(F.broadcast(tot)).select("bucket",
                                                    llr.alias("llr"))


def _dsir_score(df: DataFrame, gb: DataFrame, w: DataFrame,
                target: Column, id_col: str) -> DataFrame:
    dw = (gb.join(F.broadcast(w), "bucket")
          .groupBy(id_col)
          .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
               F.round(F.sum("llr"), 6).alias("log_weight")))
    lw = F.coalesce(F.col("log_weight"), F.lit(0.0))
    return (df.select(id_col, target.alias("is_target"))
            .join(dw, id_col, "left")
            .select(id_col, "is_target",
                    F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
                    .alias("n_grams"),
                    (lw + 0.0).alias("log_weight"),
                    (lw > 0).alias("kept")))


SCRAMBLE_MULT = 2654435761
SCRAMBLE_PRIME = 2147483647


def scramble(col: Column) -> Column:
    """Deterministic pseudo-random BIGINT rank for an id column —
    pure integer arithmetic, bit-identical in Spark and DuckDB."""
    return F.pmod(F.pmod(col.cast("long"), F.lit(SCRAMBLE_PRIME))
                  * F.lit(SCRAMBLE_MULT), F.lit(SCRAMBLE_PRIME))


def dsir_resample(scored: DataFrame, n_keep: int = 100,
                  id_col: str = "doc_id") -> DataFrame:
    """The DSIR paper's actual selection step — Gumbel top-k sampling
    without replacement, proportional to the importance weights — made
    DETERMINISTIC: the per-doc uniform comes from the Knuth scramble of
    the doc id (u = (scramble(id)+1)/(PRIME+1), a fixed pseudo-random
    permutation both engines reproduce), so g = -ln(-ln(u)) is a
    reproducible Gumbel draw and key = log_weight + g ranks a
    weighted sample. Takes :func:`dsir_importance`'s output.

    Shape at 100 TB: top-n_keep is a TakeOrdered (per-partition top-k,
    tiny driver merge) — never a global sort of the corpus. The Gumbel
    key is rounded to 9 before ranking (cross-engine ln guard) with an
    id tie-break, so the selected set is deterministic."""
    u = (scramble(F.col(id_col)) + 1.0) / (SCRAMBLE_PRIME + 1.0)
    key = F.round(F.col("log_weight") - F.log(-F.log(u)), 9)
    return (scored.select(id_col, "is_target", "log_weight",
                          key.alias("gumbel_key"))
            .orderBy(F.desc("gumbel_key"), F.asc(id_col))
            .limit(n_keep))


def hashed_linear_classifier(df: DataFrame, weights: DataFrame | None = None,
                             n_buckets: int = 1024, bias: float = 0.0,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Apply a linear text classifier over feature-hashed token counts —
    the fastText / Vowpal-Wabbit "hashing trick": token → md5 bucket,
    feature value log(1+tf), score = sigmoid(Σ w[bucket]·x + bias).

    ``weights`` is any (bucket BIGINT, w DOUBLE) table — trained weights
    drop in unchanged. When None, a deterministic md5-derived demo table
    stands in (uniform in [-1, 1]; the application machinery, which is
    what this operator is, is identical either way).

    Shape at 100 TB: the weight table is n_buckets rows regardless of
    vocabulary size — it broadcasts; the token stream aggregates once on
    (doc, bucket) and once on doc. No vocabulary materialization, no
    driver round-trip, collision behavior identical across engines."""
    spark = df.sparkSession
    if weights is None:
        weights = spark.range(n_buckets).select(
            F.col("id").alias("bucket"),
            ((F.expr("CAST(conv(substr(md5(concat('w:', CAST(id AS STRING))), "
                     "1, 8), 16, 10) AS BIGINT)") % 2001 - 1000) / 1000.0)
            .alias("w"))
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("tok"))
    bucket = F.expr(
        f"CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT) % {n_buckets}")
    x = (toks.select(F.col(id_col), bucket.alias("bucket"))
         .groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("tf")))
    scored = (x.join(F.broadcast(weights), "bucket")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_features"),
                   F.sum(F.col("w") * F.log1p(F.col("tf"))).alias("z")))
    z = F.col("z") + bias
    return scored.select(
        id_col, "n_features", z.alias("logit"),
        (1.0 / (1.0 + F.exp(-z))).alias("score"))


def tfidf_cosine_pairs(df: DataFrame, threshold: float = 0.3,
                       max_df_frac: float = 0.1, max_df_abs: int = 500,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Sparse lexical near-dup: cosine over TF-IDF vectors computed
    term-at-a-time through an inverted-index self-join — the classic
    sparse-similarity layout (document pairs meet ONLY on shared terms).

    Terms with document frequency above min(``max_df_frac`` · N,
    ``max_df_abs``) are dropped before pairing: a stop-term with
    document frequency d fans out into d² candidate pairs, so the
    cutoff is what bounds the pair space (its TF-IDF weight is near
    zero anyway — dropping it moves cosines a hair, deterministically
    on both engines). The ABSOLUTE cap is the scale-critical half: a
    fractional cutoff alone stops pruning as N grows (0.1% of 100 TB is
    still millions of postings per term ⇒ a quadratic per-term join);
    capping d caps per-term fanout at max_df_abs² forever. Measured:
    without the cap, the 100× replica corpus (where per-replica stop
    terms sit at 0.5% document frequency — under any useful fraction)
    drove the pair join into an executor-killing shuffle; with it the
    decade is linear (SCALE.md).

    Shape at 100 TB: one token-keyed shuffle builds the index, the pair
    join is keyed by token (per-term fanout ≤ (max_df_frac·N)², spread
    across the cluster), one (a,b) aggregate sums the dot products.
    Never all-pairs; thresholds compare round(cos, 9) so a last-ulp
    cross-engine sum difference cannot flip membership."""
    from data_timeseries_java_spark.plans.materialize import materialize

    ti = tf_idf(df, text_col, id_col)
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    # three consumers (both join sides + norms) of the token pipeline:
    # materialize once, same policy hook as the correlation builders
    kept = materialize(
        ti.crossJoin(F.broadcast(n_docs))
        .where(F.col("doc_freq")
               <= F.least(F.col("_n_docs") * max_df_frac,
                          F.lit(float(max_df_abs)))))
    norms = kept.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("tf_idf") * F.col("tf_idf"))).alias("nrm"))
    a = kept.select(F.col(id_col).alias("id_a"), "tok",
                    F.col("tf_idf").alias("wa"))
    b = kept.select(F.col(id_col).alias("id_b"),
                    F.col("tok").alias("tok_b"),
                    F.col("tf_idf").alias("wb"))
    dots = (a.join(b, (F.col("tok") == F.col("tok_b"))
                   & (F.col("id_a") < F.col("id_b")))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
                 F.sum(F.col("wa") * F.col("wb")).alias("dot")))
    na = norms.select(F.col(id_col).alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (dots.join(na, "id_a").join(nb, "id_b")
            .where(F.round(cos, 9) >= threshold)
            .select("id_a", "id_b", "n_shared_terms",
                    F.round(cos, 6).alias("cosine")))


def dsir_quantile_select(scored: DataFrame, keep_frac: float = 0.25,
                         id_col: str = "doc_id") -> DataFrame:
    """Quantile-threshold DSIR selection: keep the top ``keep_frac``
    of documents by importance weight — the deterministic alternative
    to :func:`dsir_resample` when the budget is a FRACTION rather than
    a count. The threshold is the exact interpolated
    (1 - keep_frac)-quantile of the weights, rounded to 6 so a
    last-ulp interpolation difference can never flip a verdict
    cross-engine.

    Scale note: the exact percentile aggregate sorts the weight column
    in one reducer — fine for a calibration run; a 100 TB production
    pass gets the same threshold from the mergeable grid-quantile /
    GK sketch stores (queries/scale.py) and keeps selection itself a
    pure filter. Takes :func:`dsir_importance`'s output."""
    q = 1.0 - keep_frac
    thr = scored.agg(F.round(
        F.expr(f"percentile(log_weight, {q!r})"), 6).alias("threshold"))
    lw6 = F.round(F.col("log_weight"), 6)
    return (scored.crossJoin(F.broadcast(thr))
            .select(id_col, "is_target", "log_weight", "threshold",
                    (lw6 >= F.col("threshold")).alias("kept")))


# ---- Gopher rule filter & collocations (round 8 batch) -------------------

# The published Gopher quality-filter thresholds (Rae et al. 2021,
# "Scaling Language Models: ... Gopher", App. A1.1 — public paper):
# word count in [50, 100k], mean word length in [3, 10], >=80% of
# words contain an alphabetic character, and >=2 hits of a small
# required-stopword list. The symbol/ellipsis/bullet line rules are
# no-ops on the whitespace word-soup corpus and are deliberately
# omitted rather than shipped untestable.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MIN_STOP_HITS = 2
GOPHER_STOPLIST = ["and", "be", "have", "of", "that", "the", "to", "with"]


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher rule verdicts: each published threshold as
    its own boolean flag plus the conjunction. Unlike quality_score
    (continuous features), this is the FILTER a corpus build applies.

    Shape: a single-scan projection — every rule is a built-in
    expression over one tokens() array; no shuffle, no UDF, prunes to
    (doc_id, text) at the source.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    nd = n.cast("double")
    sum_len = F.aggregate(F.transform(toks, F.length),
                          F.lit(0), lambda acc, x: acc + x)
    mean_len = sum_len.cast("double") / F.greatest(nd, F.lit(1.0))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_ratio = alpha.cast("double") / F.greatest(nd, F.lit(1.0))
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPLIST])
    stop_hits = F.size(F.filter(toks,
                                lambda t: F.array_contains(stop_arr, t)))
    ok_words = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    ok_len = ((mean_len >= GOPHER_MIN_MEAN_LEN)
              & (mean_len <= GOPHER_MAX_MEAN_LEN))
    ok_alpha = alpha_ratio >= GOPHER_MIN_ALPHA_RATIO
    ok_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    return df.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
        ok_words.alias("ok_word_count"),
        ok_len.alias("ok_mean_len"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_len & ok_alpha & ok_stop).alias("keep"),
    )


def collocation_pmi(df: DataFrame, text_col: str = "text",
                    min_count: int = 5) -> DataFrame:
    """Corpus-level collocation mining: pointwise mutual information of
    adjacent word pairs, PMI = ln((c_xy/N2) / ((c_x/N1)(c_y/N1))) with
    unigram stats over the full token stream and bigram stats over
    adjacent positions. Integer counts everywhere, one ln at the end —
    bit-identical across engines.

    Shape: one explode → bigram count, one explode → unigram count
    (both map-side combinable), then two broadcast joins (the unigram
    table is vocabulary-sized) and two broadcast-scalar totals. At
    100 TB the only big shuffle is the bigram count itself, and its
    key space is |V|² bounded.
    """
    toks = tokenize(df, text_col).select("doc_id", "toks")
    uni = (toks.select(F.explode("toks").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c")))
    n1 = uni.agg(F.sum("c").alias("n1"))
    pairs = toks.select(F.explode(F.expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)), "
        "(x, i) -> struct(x as w1, toks[i + 1] as w2))")).alias("bg"))
    big = (pairs.groupBy(F.col("bg.w1").alias("w1"),
                         F.col("bg.w2").alias("w2"))
           .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
           .where(F.col("c_xy") >= min_count))
    n2 = pairs.agg(F.count(F.lit(1)).cast("long").alias("n2"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    j = (big.join(F.broadcast(u1), "w1").join(F.broadcast(u2), "w2")
         .crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2)))
    pmi = F.log((F.col("c_xy") * F.col("n1") * F.col("n1"))
                / (F.col("n2") * F.col("c_x") * F.col("c_y")))
    return j.select("w1", "w2", "c_xy", "c_x", "c_y",
                    F.round(pmi, 6).alias("pmi"))


def source_ngram_overlap(df: DataFrame, text_col: str = "text",
                         source_col: str = "source",
                         n: int = 3) -> DataFrame:
    """Cross-source contamination matrix: Jaccard overlap of the
    DISTINCT word-n-gram sets of every source pair (the corpus-level
    companion to per-document dedup — answers "how much do my sources
    repeat each other", the first question before mixture weighting).

    Shape: inverted-index co-occurrence counting — explode to
    (source, gram) → distinct, group by gram into a sorted source set,
    then explode each gram's source PAIRS and count. Per-gram fanout
    is C(|sources carrying it|, 2) ≤ C(|sources|, 2), a config-sized
    constant, so the plan is linear in distinct grams — never a
    gram-keyed self-join (which would scan the corpus twice) and never
    all-pairs of documents.

    Round 14: the raw (source, gram) stream goes STRAIGHT into the
    groupBy — the former pre-``distinct()`` was a second full shuffle
    of the gram stream for dedup work ``collect_set`` already does
    (with map-side partial aggregation absorbing most duplicate
    occurrences before the exchange). The per-source totals and the
    pairwise intersections now come from ONE pass over the grouped
    frame: the pair explode keeps the (x, x) diagonal, so a single
    |sources|²-bounded aggregate carries n_grams on the diagonal and
    n_inter off it (previously two aggregates re-derived ``per_gram``
    — tokenize + explode + collect_set — twice). The tiny pair frame
    is materialized so filter pushdown on the diagonal test cannot
    split the shared subtree back into two computations.
    """
    from data_timeseries_java_spark.plans import materialize

    toks = tokenize(df, text_col).select(
        F.col(source_col).alias("source"), "toks")
    gram_expr = (
        "transform(slice(toks, 1, greatest(size(toks) - {k}, 0)), "
        "(x, i) -> concat_ws(' ', {parts}))"
    ).format(k=n - 1,
             parts=", ".join(["x"] + [f"toks[i + {j}]"
                                      for j in range(1, n)]))
    grams = toks.select("source",
                        F.explode(F.expr(gram_expr)).alias("g"))
    per_gram = grams.groupBy("g").agg(
        F.sort_array(F.collect_set("source")).alias("ss"))
    pair_expr = (
        "flatten(transform(ss, (x, i) -> "
        "transform(slice(ss, i + 1, size(ss)), "
        "y -> struct(x as s1, y as s2))))")
    pair_counts = materialize(
        per_gram.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.s1").alias("source1"),
                 F.col("p.s2").alias("source2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n")))
    counts = (pair_counts.where(F.col("source1") == F.col("source2"))
              .select(F.col("source1").alias("source"),
                      F.col("n").alias("n_grams")))
    inter = (pair_counts.where(F.col("source1") < F.col("source2"))
             .select("source1", "source2",
                     F.col("n").alias("n_inter")))
    ca = counts.select(F.col("source").alias("source1"),
                       F.col("n_grams").alias("n_a"))
    cb = counts.select(F.col("source").alias("source2"),
                       F.col("n_grams").alias("n_b"))
    pairs = (ca.join(cb, F.col("source1") < F.col("source2"))
             .join(inter, ["source1", "source2"], "left")
             .withColumn("n_inter",
                         F.coalesce(F.col("n_inter"), F.lit(0))))
    un = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return pairs.select(
        "source1", "source2", "n_a", "n_b", "n_inter",
        un.alias("n_union"),
        F.round(F.col("n_inter") / un, 6).alias("jaccard"))
