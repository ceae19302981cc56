"""Text-analysis queries over `documents`, with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_timeseries_java_spark.operators.text import (
    LANG_LEXICONS,
    STOPWORDS,
    TOKEN_REGEX,
    fingerprint,
    language_id,
    quality_score,
    repetition_signals,
    token_counts,
)
from data_timeseries_java_spark.tables import load_table

_TOKS = """
toks AS (
  SELECT doc_id, lang, text,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
)
"""


def _langid_sql() -> str:
    langs = sorted(LANG_LEXICONS)
    score_cols = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in LANG_LEXICONS[lang])
        score_cols.append(
            f"floor(len(list_filter(t, x -> x IN ({words}))) / "
            f"greatest(len(t), 1) * 1.0 * 1000000) / 1000000 AS score_{lang}")
    # argmax with alphabetical tie-break: first lang >= all others wins
    cases = []
    for lang in langs:
        conds = " AND ".join(
            f"score_{lang} >= score_{other}" for other in langs if other != lang)
        cases.append(f"WHEN {conds} THEN '{lang}'")
    pred = "CASE " + " ".join(cases) + " END"
    score_case = ("CASE " + " ".join(
        f"WHEN predicted_lang = '{lang}' THEN score_{lang}" for lang in langs)
        + " END")
    return f"""
WITH {_TOKS},
scores AS (
  SELECT doc_id, lang AS declared_lang,
         {", ".join(score_cols)}
  FROM toks
),
picked AS (
  SELECT *, {pred} AS predicted_lang FROM scores
)
SELECT doc_id, declared_lang, predicted_lang,
       {score_case} AS lang_score,
       predicted_lang = declared_lang AS lang_match
FROM picked
"""


_STOPLIST = ", ".join(f"'{w}'" for w in STOPWORDS)

_QUALITY_SQL = f"""
WITH {_TOKS},
m AS (
  SELECT doc_id,
         len(t) * 1.0 AS n_tok,
         length(text) * 1.0 AS n_chars,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_punct,
         len(list_filter(t, x -> x IN ({_STOPLIST}))) * 1.0 AS n_stop
  FROM toks
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       floor(n_punct / greatest(n_chars, 1.0) * 1000000) / 1000000 AS punct_ratio,
       floor(n_stop / greatest(n_tok, 1.0) * 1000000) / 1000000 AS stopword_ratio,
       floor((n_chars - (n_tok - 1)) / greatest(n_tok, 1.0) * 1000000) / 1000000 AS mean_token_len,
       floor((0.4 * least(n_tok / 100.0, 1.0)
           + 0.3 * (1 - least(n_punct / greatest(n_chars, 1.0) * 5, 1.0))
           + 0.3 * least(n_stop / greatest(n_tok, 1.0) * 4, 1.0)) * 1000000) / 1000000 AS quality_score
FROM m
"""

_TOKENS_SQL = f"""
WITH {_TOKS}
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS n_tokens_bpe,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_tokens_distinct,
       floor(length(text) / greatest(len(t), 1) * 1.0 * 1000000) / 1000000 AS chars_per_token
FROM toks
"""

_FINGERPRINT_SQL = f"""
WITH {_TOKS}
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint,
       substr(md5(array_to_string(t[1:5], ' ')), 1, 16) AS prefix_fp,
       list_min(list_transform(list_distinct(t), x -> md5(x))) AS min_token_hash
FROM toks
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"))


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(load_table(spark, sf_dir, "documents"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"))


QUERIES = {
    "text_langid": q_text_langid,
    "text_quality": q_text_quality,
    "text_tokens": q_text_tokens,
    "text_fingerprint": q_text_fingerprint,
}

ORACLE = {
    "text_langid": _langid_sql(),
    "text_quality": _QUALITY_SQL,
    "text_tokens": _TOKENS_SQL,
    "text_fingerprint": _FINGERPRINT_SQL,
}


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters over `documents` — see
    operators.text.repetition_signals."""
    return repetition_signals(load_table(spark, sf_dir, "documents"))


QUERIES["text_repetition"] = q_text_repetition

# Same tagged-gram construction as the Spark plan: tokens prefixed "t:",
# bigrams prefixed "b:", one unnest, two-level aggregation.
ORACLE["text_repetition"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
arrs AS (
  SELECT doc_id, t,
         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS big
  FROM toks
),
grams AS (
  SELECT doc_id, len(t) AS n_tok, len(big) AS n_big,
         unnest(list_concat(list_transform(t, x -> 't:' || x),
                            list_transform(big, x -> 'b:' || x))) AS gram
  FROM arrs
),
counts AS (
  SELECT doc_id, gram, count(*) AS cnt,
         any_value(n_tok) AS n_tok, any_value(n_big) AS n_big
  FROM grams GROUP BY doc_id, gram
),
per_doc AS (
  SELECT doc_id,
         max(CASE WHEN gram LIKE 't:%' THEN cnt END) AS top_tok,
         max(CASE WHEN gram NOT LIKE 't:%' THEN cnt END) AS top_big,
         count(CASE WHEN gram LIKE 't:%' THEN 1 END) AS n_tok_distinct,
         count(CASE WHEN gram NOT LIKE 't:%' THEN 1 END) AS n_big_distinct,
         any_value(n_tok) AS n_tok, any_value(n_big) AS n_big
  FROM counts GROUP BY doc_id
),
fr AS (
  SELECT doc_id,
         CAST(n_tok AS BIGINT) AS n_tokens,
         floor(coalesce(top_tok, 0) / greatest(n_tok, 1) * 1.0 * 1000000) / 1000000 AS top_token_frac,
         floor(coalesce(top_big, 0) / greatest(n_big, 1) * 1.0 * 1000000) / 1000000 AS top_bigram_frac,
         floor(n_tok_distinct / greatest(n_tok, 1) * 1.0 * 1000000) / 1000000 AS distinct_token_ratio,
         floor(n_big_distinct / greatest(n_big, 1) * 1.0 * 1000000) / 1000000 AS distinct_bigram_ratio
  FROM per_doc
)
SELECT *,
       (top_token_frac > 0.2 OR top_bigram_frac > 0.18
        OR distinct_token_ratio < 0.5) AS is_repetitive
FROM fr
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content hash — the
    reproducible-split primitive every training pipeline needs. Buckets
    by the first hex digit of md5(doc_id): 0-b train (75%), c-d val
    (12.5%), e-f test (12.5%). Pure string comparison — portable to any
    engine, stable across runs and cluster sizes."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (F.when(h < "c", "train")
             .when(h < "e", "val")
             .otherwise("test"))
    return docs.select("doc_id", split.alias("split"))


QUERIES["dataset_split"] = q_dataset_split

ORACLE["dataset_split"] = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep-rates applied
    by hash threshold (md5 hex prefix < rate cutoff). Unlike rand()-based
    sampling this is reproducible across runs, engines, and partitionings
    — the property a training-data pipeline needs for auditable corpus
    construction. en downsampled to ~25%, others kept at ~75%."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.concat(F.lit("sample:"),
                                   F.col("doc_id").cast("string"))), 1, 1)
    cutoff = F.when(F.col("lang") == "en", F.lit("4")).otherwise(F.lit("c"))
    return (docs.where(h < cutoff)
            .select("doc_id", "lang", "n_chars"))


QUERIES["stratified_sample"] = q_stratified_sample

ORACLE["stratified_sample"] = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1)
      < CASE WHEN lang = 'en' THEN '4' ELSE 'c' END
"""


def q_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary extraction: top 25 tokens by document frequency
    (ties broken lexicographically) with collection frequency."""
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    stats = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("coll_freq"),
    )
    return (stats.orderBy(F.desc("doc_freq"), F.desc("coll_freq"), F.asc("tok"))
            .limit(25))


QUERIES["vocabulary_topk"] = q_vocabulary_topk

ORACLE["vocabulary_topk"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
  FROM documents
)
SELECT tok,
       count(DISTINCT doc_id) AS doc_freq,
       count(*) AS coll_freq
FROM toks
GROUP BY tok
ORDER BY doc_freq DESC, coll_freq DESC, tok ASC
LIMIT 25
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (deterministic tie-breaks)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.operators.text import tf_idf

    docs = load_table(spark, sf_dir, "documents")
    t = tf_idf(docs)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.round("tf_idf", 9)), F.asc("tok"))
    return (t.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 3)
            .select("doc_id", "tok", F.col("tf"),
                    F.round("tf_idf", 6).alias("tf_idf"), "rank"))


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical search for a fixed query over the corpus; top 20."""
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.operators.text import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_search(docs, ["spark", "join", "window"])
    return (scored.select("doc_id", F.round("bm25", 6).alias("bm25"))
            .orderBy(F.desc(F.round("bm25", 9)), F.asc("doc_id"))
            .limit(20))


QUERIES["tfidf_top_terms"] = q_tfidf_top_terms
QUERIES["bm25_search"] = q_bm25_search

ORACLE["tfidf_top_terms"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS doc_freq FROM tf GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf,
         tf.tf * ln(n.n_docs / dfreq.doc_freq) AS tf_idf
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY round(tf_idf, 9) DESC, tok ASC) AS rank
  FROM scored
)
SELECT doc_id, tok, tf, round(tf_idf, 6) AS tf_idf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""

ORACLE["bm25_search"] = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (SELECT avg(dl) FROM dl) AS avg_dl),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
       WHERE tok IN ('spark', 'join', 'window') GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS doc_freq FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
         ln((s.n_docs - dfreq.doc_freq + 0.5) / (dfreq.doc_freq + 0.5) + 1.0)
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avg_dl)) AS term_score
  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats s
)
SELECT doc_id, round(sum(term_score), 6) AS bm25
FROM scored GROUP BY doc_id
ORDER BY round(sum(term_score), 9) DESC, doc_id ASC
LIMIT 20
"""


# ---- PII scan + redaction ----------------------------------------------
# The synthetic corpus contains no PII, so the query stages a
# deterministic injection (keyed on doc_id % 5: email / ipv4+phone / ssn
# / email+ssn / clean) and then scans + redacts it. The injection is
# reproduced verbatim in the oracle, so the hash check proves the REGEX
# SEMANTICS (counts and replacement) agree across engines — the real
# cross-engine risk for PII tooling.


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from data_timeseries_java_spark.operators.text import (
        pii_columns, redact_pii)

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    email = F.concat(F.lit(" user"), d.cast("string"), F.lit("@example.com"))
    phone = F.concat(F.lit(" 555-"),
                     F.lpad((d % 1000).cast("string"), 3, "0"), F.lit("-"),
                     F.lpad((d % 10000).cast("string"), 4, "0"))
    ipv4 = F.concat(F.lit(" 10.0."), (d % 256).cast("string"), F.lit(".7"))
    ssn = F.concat(F.lit(" 123-45-"),
                   F.lpad((d % 10000).cast("string"), 4, "0"))
    r = d % 5
    injected = (F.when(r == 1, F.concat(F.col("text"), email))
                .when(r == 2, F.concat(F.col("text"), ipv4, phone))
                .when(r == 3, F.concat(F.col("text"), ssn))
                .when(r == 4, F.concat(F.col("text"), email, ssn))
                .otherwise(F.col("text")))
    staged = docs.select("doc_id", injected.alias("text"))
    cols = pii_columns("text")
    # one fused narrow projection: counts + redacted-text digest
    red = redact_pii(staged)
    return red.select(
        "doc_id",
        *[c.alias(n) for n, c in cols.items()],
        F.md5("redacted").alias("redacted_md5"),
        F.length("redacted").cast("long").alias("redacted_len"),
    )


QUERIES["pii_scan"] = q_pii_scan


def _pii_oracle_sql() -> str:
    from data_timeseries_java_spark.operators.text import PII_PATTERNS

    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in sorted(PII_PATTERNS.items()))
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for _, pat in sorted(PII_PATTERNS.items()))
    red = "text"
    for name in sorted(PII_PATTERNS):
        red = (f"regexp_replace({red}, '{PII_PATTERNS[name]}', "
               f"'<{name.upper()}>', 'g')")
    return f"""
WITH staged AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 1 THEN text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
           WHEN 2 THEN text || ' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                    || ' 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN 3 THEN text || ' 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           WHEN 4 THEN text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
                    || ' 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       {counts},
       CAST({total} AS BIGINT) AS n_pii,
       ({total}) > 0 AS has_pii,
       md5({red}) AS redacted_md5,
       CAST(length({red}) AS BIGINT) AS redacted_len
FROM staged
"""


ORACLE["pii_scan"] = _pii_oracle_sql()


def q_source_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus composition report: doc count, language
    spread, token-count distribution — the rollup a data-mixture owner
    reads before weighting sources. All JVM built-ins; one shuffle on
    source.

    Token count is the scalar spaces+1 form, not size(split(...)):
    identical for single-space splitting (split keeps empties at
    limit=-1, so size == separator count + 1, verified exact on the
    corpus) but never materializes a token array per row — and it keeps
    the global HOF-trap plan scan (tests/test_plans.py) allowlist-free."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + F.lit(1)).alias("toks")
    docs = docs.select("source", "lang", "n_chars", toks)
    return (docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.round(F.avg("toks"), 6).alias("avg_tokens"),
        F.max("toks").cast("long").alias("max_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    ))


QUERIES["source_token_stats"] = q_source_token_stats

ORACLE["source_token_stats"] = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
       CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
       round(avg(n_chars), 6) AS avg_chars
FROM documents
GROUP BY source
"""


# ---- winnowing fingerprints (MOSS) -------------------------------------

WINNOW_K = 3
WINNOW_W = 4
_WM = 1 << 20


def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint stats + cross-doc sharing — see
    operators.text.winnowing_fingerprints."""
    from data_timeseries_java_spark.operators.text import (
        winnowing_fingerprints,
    )

    return winnowing_fingerprints(load_table(spark, sf_dir, "documents"),
                                  k=WINNOW_K, w=WINNOW_W)


QUERIES["text_winnowing"] = q_text_winnowing

# Same algorithm rebuilt in SQL: md5-lane k-gram hashes, rightmost-min-
# per-window via MIN over the integer encoding h*M + (M-1-pos) in a
# trailing ROWS window (one int64 min replaces the argmin), integer
# DIV/% decode, distinct fingerprints, collision-count rollup.
ORACLE["text_winnowing"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
tok_e AS (
  SELECT doc_id, s['pos'] AS pos, s['tok'] AS tok
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(t)),
                                 i -> {{'pos': i, 'tok': t[i+1]}})) AS s
    FROM toks WHERE len(t) > 0
  )
),
grams AS (
  SELECT doc_id, pos,
         tok || ' ' || lead(tok, 1) OVER win || ' ' || lead(tok, 2) OVER win AS gram
  FROM tok_e
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, {WINNOW_K - 1}) OVER win IS NOT NULL
),
vs AS (
  SELECT doc_id, pos,
         (('0x' || substr(md5(gram), 1, 8))::BIGINT) * {_WM}
         + ({_WM - 1} - pos) AS v
  FROM grams
  WHERE pos < 1048576
),
sel AS (
  SELECT doc_id, pos,
         MIN(v) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                      AND CURRENT ROW) AS sel_v
  FROM vs
  QUALIFY pos >= {WINNOW_W - 1}
),
fps AS (
  SELECT DISTINCT doc_id,
         {_WM - 1} - (sel_v % {_WM}) AS fp_pos,
         sel_v // {_WM} AS fp_hash
  FROM sel
),
fp_docs AS (
  SELECT fp_hash, count(DISTINCT doc_id) AS nd FROM fps GROUP BY fp_hash
),
gram_counts AS (
  SELECT doc_id, len(t) - 2 AS n_grams FROM toks WHERE len(t) - 2 >= 1
),
per_doc AS (
  SELECT f.doc_id,
         count(*) AS n_fingerprints,
         count(DISTINCT CASE WHEN d.nd > 1 THEN f.fp_hash END) AS n_shared_fp
  FROM fps f JOIN fp_docs d USING (fp_hash)
  GROUP BY f.doc_id
)
SELECT g.doc_id,
       CAST(g.n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
       floor(COALESCE(p.n_fingerprints, 0) / greatest(g.n_grams, 1)
             * 1.0 * 1000000) / 1000000 AS fp_density,
       CAST(COALESCE(p.n_shared_fp, 0) AS BIGINT) AS n_shared_fp,
       COALESCE(p.n_shared_fp, 0) > 0 AS has_shared_fp
FROM gram_counts g LEFT JOIN per_doc p USING (doc_id)
"""


# ---- corpus bigram-LM quality score (perplexity proxy) -----------------


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average bigram log-probability per doc under the corpus's own
    MLE bigram model — see operators.text.bigram_lm_score."""
    from data_timeseries_java_spark.operators.text import bigram_lm_score

    return bigram_lm_score(load_table(spark, sf_dir, "documents"))


QUERIES["text_bigram_lm"] = q_text_bigram_lm

# Identical model in SQL: bigram occurrences / first-token continuation
# occurrences, ln at the end — integers everywhere else.
ORACLE["text_bigram_lm"] = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
doc_big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2
),
db AS (SELECT doc_id, bg, count(*) AS cnt FROM doc_big GROUP BY 1, 2),
c2 AS (SELECT bg, sum(cnt) AS c2 FROM db GROUP BY bg),
c1 AS (
  SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1
  FROM c2 GROUP BY 1
),
scored AS (
  SELECT d.doc_id, d.cnt, c2.c2, ln(c2.c2 * 1.0 / c1.c1) AS lp
  FROM db d
  JOIN c2 USING (bg)
  JOIN c1 ON string_split(d.bg, ' ')[1] = c1.w1
),
per_doc AS (
  SELECT doc_id,
         sum(cnt) AS n_bigrams,
         sum(lp * cnt) AS sum_lp,
         count(CASE WHEN c2 = 1 THEN 1 END) AS n_singleton_bigrams
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       floor(sum_lp / n_bigrams * 1000000) / 1000000 AS avg_logprob,
       CAST(floor(-(floor(sum_lp / n_bigrams * 1000000) / 1000000))
            AS BIGINT) AS perplexity_bucket,
       CAST(n_singleton_bigrams AS BIGINT) AS n_singleton_bigrams
FROM per_doc
"""


# ---- unigram token entropy ---------------------------------------------


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution (nats),
    via H = ln(n) − (Σ c·ln c)/n — counts stay integers and the only
    float work is one ln per DISTINCT token. Low entropy flags
    repetitive/boilerplate docs (complements the Gopher repetition
    ratios); H = 0 for single-token docs, ln(n) for all-distinct.
    One scan, two hash aggregations on the doc key."""
    from data_timeseries_java_spark.functions.stats import _floor6
    from data_timeseries_java_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id",
                       F.explode(tokens(F.col("text"))).alias("tok"))
    cnts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = cnts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.log("c")).alias("clogc"))
    h = _floor6(F.log("n") - F.col("clogc") / F.col("n"))
    max_h = F.log("n")
    return per_doc.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        h.alias("entropy"),
        # normalized to [0,1]; single-token docs define 0/0 := 0
        F.when(F.col("n") > 1, _floor6((F.log("n") - F.col("clogc")
                                        / F.col("n")) / max_h))
        .otherwise(F.lit(0.0)).alias("entropy_norm"),
    )


QUERIES["text_entropy"] = q_text_entropy

ORACLE["text_entropy"] = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS tok
  FROM documents
),
cnts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id, sum(c) AS n, count(*) AS n_distinct,
         sum(c * ln(c)) AS clogc
  FROM cnts GROUP BY doc_id
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       floor((ln(n) - clogc / n) * 1000000) / 1000000 AS entropy,
       CASE WHEN n > 1
            THEN floor((ln(n) - clogc / n) / ln(n) * 1000000) / 1000000
            ELSE 0.0 END AS entropy_norm
FROM per_doc
"""


# ---- winnowing-fingerprint decontamination -----------------------------

WINNOW_DECON_EVAL_MAX_ID = 50  # docs 0..49 play the held-out benchmark

WINNOW_DECON_MIN_SHARED = 2


def q_decontaminate_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs sharing winnowing fingerprints with the held-out
    eval docs (0..49) — see operators.text.winnowing_contamination."""
    from data_timeseries_java_spark.operators.text import (
        winnowing_contamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") >= WINNOW_DECON_EVAL_MAX_ID)
    eval_docs = docs.where(F.col("doc_id") < WINNOW_DECON_EVAL_MAX_ID)
    return winnowing_contamination(corpus, eval_docs,
                                   k=WINNOW_K, w=WINNOW_W,
                                   min_shared=WINNOW_DECON_MIN_SHARED)


QUERIES["decontaminate_winnow"] = q_decontaminate_winnow

# Winnowing is per-document, so the oracle computes ONE fingerprint
# table over all docs and splits corpus/eval in the join predicate —
# identical results to the two-subset Spark plan.
ORACLE["decontaminate_winnow"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
tok_e AS (
  SELECT doc_id, s['pos'] AS pos, s['tok'] AS tok
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(t)),
                                 i -> {{'pos': i, 'tok': t[i+1]}})) AS s
    FROM toks WHERE len(t) > 0
  )
),
grams AS (
  SELECT doc_id, pos,
         tok || ' ' || lead(tok, 1) OVER win || ' ' || lead(tok, 2) OVER win AS gram
  FROM tok_e
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, {WINNOW_K - 1}) OVER win IS NOT NULL
),
vs AS (
  SELECT doc_id, pos,
         (('0x' || substr(md5(gram), 1, 8))::BIGINT) * {_WM}
         + ({_WM - 1} - pos) AS v
  FROM grams
  WHERE pos < 1048576
),
sel AS (
  SELECT doc_id, pos,
         MIN(v) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                      AND CURRENT ROW) AS sel_v
  FROM vs
  QUALIFY pos >= {WINNOW_W - 1}
),
fps AS (
  SELECT DISTINCT doc_id, sel_v // {_WM} AS fp_hash
  FROM sel
)
SELECT c.doc_id,
       CAST(count(DISTINCT c.fp_hash) AS BIGINT) AS n_shared_fp,
       CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs
FROM fps c JOIN fps e ON c.fp_hash = e.fp_hash
WHERE c.doc_id >= {WINNOW_DECON_EVAL_MAX_ID}
  AND e.doc_id < {WINNOW_DECON_EVAL_MAX_ID}
GROUP BY c.doc_id
HAVING count(DISTINCT c.fp_hash) >= {WINNOW_DECON_MIN_SHARED}
"""


# ---- real BPE subword tokenization --------------------------------------


def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real subword token counts per document: the committed 64-rule
    BPE merge table (functions/bpe_vocab.py, trained offline by
    scripts/train_bpe.py) applied as a chain of built-in string
    replaces over a separator-delimited serialization — all built-ins,
    no UDF. Since round 14 the chain runs over the DISTINCT-WORD
    vocabulary (explode + two aggregates + a broadcast join — 4
    exchanges, pinned in test_plans.py) with per-word counts joined
    back, O(merges x vocab_chars) instead of O(merges x corpus_chars)
    (operators/text.bpe_token_counts). The
    DuckDB oracle rebuilds the SAME replace chain from the SAME merge
    table, so the tokenization itself is hash-checked, not just the
    plumbing. Upgrades the engine's token budgeting from the `[a-z']+`
    regex ESTIMATE (`text_tokens`) to what a subword-tokenized training
    run actually sees."""
    from data_timeseries_java_spark.operators.text import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_counts(docs)


def _bpe_sql() -> str:
    from data_timeseries_java_spark.functions.bpe_vocab import MERGES

    s = "~"
    merged = ("array_to_string(list_transform("
              "regexp_extract_all(lower(text), '[a-z0-9]+'), "
              "w -> substr('~' || regexp_replace(w, '(.)', '\\1~~', 'g'),"
              " 1, 3 * length(w))), ' ')")
    for a, b in MERGES:
        merged = (f"replace({merged}, '{s}{a}{s}{s}{b}{s}',"
                  f" '{s}{a}{b}{s}')")
    return f"""
WITH base AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
         length(array_to_string(
             regexp_extract_all(lower(text), '[a-z0-9]+'), '')) AS n_chars,
         {merged} AS m
  FROM documents
),
counted AS (
  SELECT doc_id, n_words, n_chars,
         n_words + (length(m) - length(replace(m, '~~', ''))) // 2
           AS n_bpe_tokens
  FROM base
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
       CASE WHEN n_bpe_tokens > 0
            THEN floor(n_chars * 1000000.0 / n_bpe_tokens) / 1000000
       END AS chars_per_token
FROM counted
"""


QUERIES["text_bpe_tokens"] = q_text_bpe_tokens
ORACLE["text_bpe_tokens"] = _bpe_sql()


BPE_DICT_SEGMENT = 128  # merges/stage: depth-bounded (256 measured safe),
#   barrier-count-optimized (seg=64 costs 12.8s vs 0.7s — SCALE.md §BPE)


def q_text_bpe_tokens_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`text_bpe_tokens` at production vocab scale: the full
    1024-rank merge table (functions/bpe_vocab_1k.py) applied via
    DICTIONARY tokenization (operators/text.bpe_token_counts_dict) —
    the chain runs over DISTINCT WORDS in depth-bounded segments of
    {seg} and token counts broadcast-join back to the corpus. The
    direct chain is structurally impossible here: a depth-1024 nested
    replace tree overflows the JVM thread stack (measured — it KILLS
    the executor; scripts/bench_bpe_merges.py, SCALE.md §BPE). The
    oracle applies the same 1024 ranks in {seg}-deep CTE stages
    (DuckDB's max_expression_depth would likewise reject one nested
    chain), so both engines prove the segmented mechanism.""".replace(
        "{seg}", str(BPE_DICT_SEGMENT))
    from data_timeseries_java_spark.functions.bpe_vocab_1k import (
        MERGES as MERGES_1K)
    from data_timeseries_java_spark.operators.text import (
        bpe_token_counts_dict)

    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_counts_dict(docs, merges=MERGES_1K,
                                 segment=BPE_DICT_SEGMENT)


# DuckDB's expression BINDER recurses per nested call and caps at 128,
# so the oracle segments at 64 regardless of the Spark-side stage depth
# — segmentation granularity cannot change the result, only the plan.
BPE_DICT_ORACLE_SEGMENT = 64


def _bpe_dict_sql() -> str:
    from data_timeseries_java_spark.functions.bpe_vocab_1k import (
        MERGES as MERGES_1K)

    s = "~"
    ctes = []
    n_seg = 0
    for i in range(0, len(MERGES_1K), BPE_DICT_ORACLE_SEGMENT):
        expr = "m"
        for a, b in MERGES_1K[i:i + BPE_DICT_ORACLE_SEGMENT]:
            expr = (f"replace({expr}, '{s}{a}{s}{s}{b}{s}',"
                    f" '{s}{a}{b}{s}')")
        ctes.append(f"v{n_seg + 1} AS (SELECT w, {expr} AS m"
                    f" FROM v{n_seg})")
        n_seg += 1
    seg_sql = ",\n".join(ctes)
    return f"""
WITH dw AS (
  SELECT doc_id, w, count(*) AS c FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
    FROM documents)
  GROUP BY doc_id, w
),
v0 AS (
  SELECT DISTINCT w,
         substr('{s}' || regexp_replace(w, '(.)', '\\1{s}{s}', 'g'),
                1, 3 * length(w)) AS m
  FROM dw
),
{seg_sql},
vt AS (
  SELECT w, length(w) AS wlen,
         1 + (length(m) - length(replace(m, '{s}{s}', ''))) // 2 AS wtok
  FROM v{n_seg}
),
agg AS (
  SELECT dw.doc_id, sum(c) AS n_words, sum(c * wlen) AS n_chars,
         sum(c * wtok) AS n_bpe_tokens
  FROM dw JOIN vt ON vt.w = dw.w
  GROUP BY dw.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(a.n_chars, 0) AS BIGINT) AS n_chars,
       CAST(coalesce(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
       CASE WHEN coalesce(a.n_bpe_tokens, 0) > 0
            THEN floor(a.n_chars * 1000000.0 / a.n_bpe_tokens) / 1000000
       END AS chars_per_token
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


QUERIES["text_bpe_tokens_dict"] = q_text_bpe_tokens_dict
ORACLE["text_bpe_tokens_dict"] = _bpe_dict_sql()


# ---- k-gram novelty (memorization probe) --------------------------------

NOVELTY_K = 3


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document k-gram novelty under doc-id arrival order: the
    share of a document's DISTINCT word trigrams whose FIRST corpus
    occurrence is this document (first occurrence = min doc_id over
    the gram) — the curation signal for repeated boilerplate and
    memorized spans accumulating over a crawl.

    Gram construction is posexplode + two window leads at token grain
    (one doc-keyed shuffle), NOT a transform-lambda over a slice of
    the token array: Catalyst inlines the `split` into every
    element_at of the lambda (no CSE inside higher-order functions),
    which re-tokenized the document once per gram — measured 114s at
    the 100x decade vs 9.3s for this shape (same trap the
    repetition_signals fix closed on the ride-along-column side)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    pos = docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    t3 = F.lead("tok", NOVELTY_K - 1).over(w)
    gram = F.concat_ws(
        " ", F.col("tok"), F.lead("tok", 1).over(w), t3)
    grams = (pos.select("doc_id", t3.alias("t3"), gram.alias("gram"))
             .where(F.col("t3").isNotNull() & (F.col("gram") != ""))
             .select("doc_id", "gram")
             .distinct())
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (grams.join(first, "gram")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                    F.sum((F.col("doc_id") == F.col("first_doc"))
                          .cast("long")).alias("n_novel")))
    return per_doc.select(
        "doc_id", "n_grams", F.col("n_novel").cast("long").alias("n_novel"),
        F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"))


QUERIES["text_novelty"] = q_text_novelty

ORACLE["text_novelty"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest([t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                 FOR i IN range(1, len(t) - 1)]) AS gram
  FROM toks
),
nonempty AS (SELECT * FROM grams WHERE gram <> ''),
first AS (SELECT gram, min(doc_id) AS first_doc FROM nonempty GROUP BY gram)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS novelty
FROM nonempty g JOIN first f ON f.gram = g.gram
GROUP BY g.doc_id
"""


# ---- cross-source duplication matrix ------------------------------------


def q_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate structure ACROSS and WITHIN source shards: for
    each ordered source pair (a <= b), how many content-shape
    fingerprint groups (word-order-robust sorted-distinct-token hash —
    the SAME group key leakage_safe_split protects with) have a member
    in both; the diagonal a == b counts groups with >= 2 copies inside
    one shard. The matrix a curation pass reads before deciding which
    shard's copy to keep. (hash, source) tuples self-joined within the
    hash only, so the join is blocked by fingerprint.)"""
    from data_timeseries_java_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(
        F.array_distinct(tokens(F.col("text"))))))
    hs = (docs.select(fp.alias("h"), "source")
          .groupBy("h", "source")
          .agg(F.count(F.lit(1)).alias("n")))
    a, b = hs.alias("a"), hs.alias("b")
    cross = (F.col("a.source") < F.col("b.source"))
    diag = ((F.col("a.source") == F.col("b.source")) & (F.col("a.n") >= 2))
    return (a.join(b, (F.col("a.h") == F.col("b.h")) & (cross | diag))
            .groupBy(F.col("a.source").alias("source_a"),
                     F.col("b.source").alias("source_b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared_groups")))


QUERIES["cross_source_dup"] = q_cross_source_dup

ORACLE["cross_source_dup"] = """
WITH hs AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
             list_filter(string_split(lower(text), ' '), x -> x <> ''))),
             ' ')) AS h,
         source, count(*) AS n
  FROM documents GROUP BY 1, 2
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_groups
FROM hs a JOIN hs b
  ON a.h = b.h AND (a.source < b.source
                    OR (a.source = b.source AND a.n >= 2))
GROUP BY a.source, b.source
"""


# ---- hashed-feature linear classifier ------------------------------------

CLF_BUCKETS = 1024


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier over feature-hashed
    token counts — see operators.text.hashed_linear_classifier (the
    application machinery; the md5-derived demo weight table is the
    documented stand-in seam for trained weights)."""
    from data_timeseries_java_spark.operators.text import (
        hashed_linear_classifier)

    docs = load_table(spark, sf_dir, "documents")
    s = hashed_linear_classifier(docs, n_buckets=CLF_BUCKETS)
    return s.select(
        "doc_id", "n_features",
        F.round("logit", 6).alias("logit"),
        F.round("score", 6).alias("score"),
        (F.col("score") >= 0.5).alias("keep"),
    )


QUERIES["quality_classifier"] = q_quality_classifier

ORACLE["quality_classifier"] = f"""
WITH {_TOKS},
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
x AS (
  SELECT doc_id,
         (('0x' || substr(md5(tok), 1, 8))::BIGINT) % {CLF_BUCKETS} AS bucket,
         CAST(count(*) AS DOUBLE) AS tf
  FROM tok GROUP BY doc_id, bucket
),
w AS (
  SELECT range AS bucket,
         ((('0x' || substr(md5('w:' || CAST(range AS VARCHAR)), 1, 8))::BIGINT)
          % 2001 - 1000) / 1000.0 AS w
  FROM range({CLF_BUCKETS})
),
scored AS (
  SELECT x.doc_id,
         CAST(count(*) AS BIGINT) AS n_features,
         sum(w.w * ln(1 + x.tf)) AS z
  FROM x JOIN w ON w.bucket = x.bucket
  GROUP BY x.doc_id
)
SELECT doc_id, n_features,
       round(z, 6) AS logit,
       round(1.0 / (1.0 + exp(-z)), 6) AS score,
       1.0 / (1.0 + exp(-z)) >= 0.5 AS keep
FROM scored
"""


# ---- DSIR importance scoring ---------------------------------------------

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"  # the target (quality-proxy) corpus predicate


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): every document's hashed-
    ngram log-likelihood ratio against the English-language slice as
    the target corpus — positive weight = looks more target-like than
    raw-like, the importance-resampling keeper signal
    (operators/text.dsir_importance; one aggregate fits BOTH corpus
    models, the 1024-row llr table broadcasts back)."""
    from data_timeseries_java_spark.operators.text import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(docs, F.col("lang") == DSIR_TARGET_LANG,
                           n_buckets=DSIR_BUCKETS)


QUERIES["dsir_importance"] = q_dsir_importance

ORACLE["dsir_importance"] = f"""
WITH toks AS (
  SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS is_t,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
gb AS (
  SELECT doc_id, is_t,
         (('0x' || substr(md5(g), 1, 8))::BIGINT) % {DSIR_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, is_t,
           unnest(list_concat(t,
             list_transform(range(1, greatest(len(t), 1)),
                            i -> t[i] || ' ' || t[i + 1]))) AS g
    FROM toks)
),
stats AS (
  SELECT bucket,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
  FROM gb GROUP BY bucket
),
tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM stats),
w AS (
  SELECT bucket,
         round(ln(((ct + 1.0) * (tr + 1.0 * {DSIR_BUCKETS}))
                  / ((cr + 1.0) * (tt + 1.0 * {DSIR_BUCKETS}))), 9) AS llr
  FROM stats CROSS JOIN tot
),
dw AS (
  SELECT gb.doc_id, count(*) AS n_grams, round(sum(w.llr), 6) AS log_weight
  FROM gb JOIN w USING (bucket) GROUP BY gb.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       d.lang = '{DSIR_TARGET_LANG}' AS is_target,
       CAST(coalesce(dw.n_grams, 0) AS BIGINT) AS n_grams,
       coalesce(dw.log_weight, 0.0) + 0.0 AS log_weight,
       coalesce(dw.log_weight, 0.0) > 0 AS kept
FROM documents d LEFT JOIN dw ON dw.doc_id = d.doc_id
"""

DSIR_N_KEEP = 100


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's actual selection step: deterministic Gumbel top-k over
    the importance weights (operators/text.dsir_resample — the uniform
    comes from the Knuth id scramble, so the weighted sample is
    reproducible in any engine; top-k is a TakeOrdered, never a global
    sort)."""
    from data_timeseries_java_spark.operators.text import (
        dsir_importance,
        dsir_resample,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_importance(docs, F.col("lang") == DSIR_TARGET_LANG,
                             n_buckets=DSIR_BUCKETS)
    return dsir_resample(scored, n_keep=DSIR_N_KEEP)


QUERIES["dsir_resample"] = q_dsir_resample

_SCRAMBLE_PRIME = 2147483647
_SCRAMBLE_MULT = 2654435761

ORACLE["dsir_resample"] = ORACLE["dsir_importance"].replace(
    f"""SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       d.lang = '{DSIR_TARGET_LANG}' AS is_target,
       CAST(coalesce(dw.n_grams, 0) AS BIGINT) AS n_grams,
       coalesce(dw.log_weight, 0.0) + 0.0 AS log_weight,
       coalesce(dw.log_weight, 0.0) > 0 AS kept
FROM documents d LEFT JOIN dw ON dw.doc_id = d.doc_id""",
    f"""SELECT doc_id, is_target, log_weight, gumbel_key FROM (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         d.lang = '{DSIR_TARGET_LANG}' AS is_target,
         coalesce(dw.log_weight, 0.0) + 0.0 AS log_weight,
         round(coalesce(dw.log_weight, 0.0)
               - ln(-ln((((d.doc_id % {_SCRAMBLE_PRIME})
                          * {_SCRAMBLE_MULT}) % {_SCRAMBLE_PRIME} + 1.0)
                        / ({_SCRAMBLE_PRIME} + 1.0))), 9) AS gumbel_key
  FROM documents d LEFT JOIN dw ON dw.doc_id = d.doc_id)
ORDER BY gumbel_key DESC, doc_id ASC
LIMIT {DSIR_N_KEEP}""")



# ---- sparse TF-IDF cosine pairs ------------------------------------------

TFIDF_COS_T = 0.3
TFIDF_MAX_DF_FRAC = 0.1
TFIDF_MAX_DF_ABS = 500  # absolute posting-list cap — the 100-TB guard
#   (inactive at every test/bench 1x scale: 0.1*N reaches 500 only past
#   sf0.1; it exists to bound per-term fanout when N keeps growing)


def q_tfidf_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical near-dup pairs: cosine over TF-IDF vectors via an
    inverted-index self-join with a stop-term document-frequency cutoff
    — see operators.text.tfidf_cosine_pairs."""
    from data_timeseries_java_spark.operators.text import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, threshold=TFIDF_COS_T,
                              max_df_frac=TFIDF_MAX_DF_FRAC,
                              max_df_abs=TFIDF_MAX_DF_ABS)


QUERIES["tfidf_neardup"] = q_tfidf_neardup

ORACLE["tfidf_neardup"] = f"""
WITH {_TOKS},
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, tok
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY tok),
kept AS (
  SELECT t.doc_id, t.tok,
         t.tf * ln(n.n_docs / d.doc_freq) AS w
  FROM tf t JOIN dfreq d ON d.tok = t.tok CROSS JOIN n
  WHERE d.doc_freq <= least(n.n_docs * {TFIDF_MAX_DF_FRAC},
                            {TFIDF_MAX_DF_ABS})
),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM kept GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared_terms,
         sum(a.w * b.w) AS dot
  FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d.id_a, d.id_b, d.n_shared_terms,
       round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.id_a
JOIN norms nb ON nb.doc_id = d.id_b
WHERE round(d.dot / (na.nrm * nb.nrm), 9) >= {TFIDF_COS_T}
"""


# ---- Zipf law fit of the vocabulary --------------------------------------

ZIPF_TOP_N = 500


def q_vocab_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: OLS slope of ln(freq) on ln(rank) over
    the top-N vocabulary (natural text slopes ≈ −1). Closed-form OLS
    from rounded decomposable sums (the value_trend_ols convention);
    rank ties break on token so both engines rank identically. One
    token shuffle, one source-keyed rank window, one aggregate."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source",
                       F.explode(tokens(F.col("text"))).alias("tok"))
    freq = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("freq"))
    w = Window.partitionBy("source").orderBy(F.desc("freq"), F.asc("tok"))
    ranked = (freq.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= ZIPF_TOP_N))
    x, y = F.log(F.col("rank").cast("double")), F.log("freq")
    s = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum(x), 6).alias("sx"),
        F.round(F.sum(y), 6).alias("sy"),
        F.round(F.sum(x * x), 6).alias("sxx"),
        F.round(F.sum(x * y), 6).alias("sxy"))
    slope = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")), 6)
    s = s.withColumn("zipf_slope", slope)
    return s.select(
        "source", F.col("n").cast("long").alias("n_terms"),
        "zipf_slope",
        F.round((F.col("sy") - F.col("zipf_slope") * F.col("sx"))
                / F.col("n"), 6).alias("intercept"))


QUERIES["vocab_zipf"] = q_vocab_zipf

ORACLE["vocab_zipf"] = f"""
WITH {_TOKS},
tok AS (SELECT source, unnest(t) AS tok
        FROM toks JOIN documents USING (doc_id)),
freq AS (
  SELECT source, tok, CAST(count(*) AS DOUBLE) AS freq
  FROM tok GROUP BY source, tok
),
ranked AS (
  SELECT source, freq,
         row_number() OVER (PARTITION BY source
                            ORDER BY freq DESC, tok ASC) AS rank
  FROM freq
  QUALIFY rank <= {ZIPF_TOP_N}
),
s AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n,
         round(sum(ln(rank)), 6) AS sx,
         round(sum(ln(freq)), 6) AS sy,
         round(sum(ln(rank) * ln(rank)), 6) AS sxx,
         round(sum(ln(rank) * ln(freq)), 6) AS sxy
  FROM ranked GROUP BY source
),
sl AS (
  SELECT *, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
              AS zipf_slope
  FROM s
)
SELECT source, CAST(n AS BIGINT) AS n_terms, zipf_slope,
       round((sy - zipf_slope * sx) / n, 6) AS intercept
FROM sl
"""


# ---- Flesch reading ease --------------------------------------------------


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document from deterministic regex
    counts: words = whitespace tokens, sentences = runs of [.!?]
    (floored at 1), syllables = vowel-group count per word (floored at
    1 — the standard heuristic; both patterns sit in the Java-regex ∩
    RE2 portable subset the PII scanner established).

        flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)

    One posexplode + per-doc aggregate for syllables (array-HOF
    summation would inline tokenization per element — the documented
    O(len²) Catalyst trap); sentence/word counts ride the same scan."""
    from data_timeseries_java_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    syl = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all("tok", F.lit("[aeiouy]+"), F.lit(0))))
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(syl).cast("long").alias("n_syllables"))
    sent = docs.select(
        "doc_id",
        F.greatest(F.lit(1), F.size(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[.!?]+"), F.lit(0))))
        .cast("long").alias("n_sentences"))
    j = per_doc.join(sent, "doc_id")
    flesch = (206.835
              - 1.015 * (F.col("n_words") / F.col("n_sentences"))
              - 84.6 * (F.col("n_syllables") / F.col("n_words")))
    return j.select("doc_id", "n_words", "n_sentences", "n_syllables",
                    F.round(flesch, 6).alias("flesch"))


QUERIES["text_readability"] = q_text_readability

ORACLE["text_readability"] = f"""
WITH {_TOKS},
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(greatest(1, len(regexp_extract_all(tok, '[aeiouy]+'))))
              AS BIGINT) AS n_syllables
  FROM tok GROUP BY doc_id
),
sent AS (
  SELECT doc_id,
         CAST(greatest(1, len(regexp_extract_all(lower(text), '[.!?]+')))
              AS BIGINT) AS n_sentences
  FROM documents
)
SELECT p.doc_id, p.n_words, s.n_sentences, p.n_syllables,
       round(206.835 - 1.015 * (p.n_words * 1.0 / s.n_sentences)
             - 84.6 * (p.n_syllables * 1.0 / p.n_words), 6) AS flesch
FROM per_doc p JOIN sent s ON s.doc_id = p.doc_id
"""


# ---- corpus keyness: per-source log-odds-ratio ---------------------------

KEYNESS_PRIOR = 0.5  # flat Dirichlet pseudo-count per (source, term)
KEYNESS_TOPN = 5


def q_source_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What vocabulary distinguishes each source from the rest of the
    corpus — the weighted log-odds-ratio with a Dirichlet prior
    (Monroe, Colaresi & Quinn 2008, "Fightin' Words", public), the
    statistically-sound replacement for raw tf-idf contrast when corpus
    sizes differ. For each (source, term): delta = log-odds of the term
    in the source vs in the Rest, shrunk by a flat 0.5 pseudo-count;
    z = delta / sqrt(1/(y_sw + a) + 1/(y_rest + a)). Top-5 terms per
    source by z.

    One explode -> one (source, tok) aggregate; the term-total and
    source-total joins reuse that aggregate (no rescan of documents);
    corpus scalars ride in as a broadcast 1-row frame (the tf_idf
    convention — never a driver-side count)."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source",
                       F.explode(tokens(F.col("text"))).alias("tok"))
    ysw = (toks.groupBy("source", "tok")
           .agg(F.count(F.lit(1)).cast("double").alias("y_sw")))
    yw = ysw.groupBy("tok").agg(F.sum("y_sw").alias("y_w"))
    ns = ysw.groupBy("source").agg(F.sum("y_sw").alias("n_s"))
    tot = yw.agg(F.sum("y_w").alias("n_tot"),
                 F.count(F.lit(1)).cast("double").alias("n_vocab"))
    a = F.lit(KEYNESS_PRIOR)
    a0 = a * F.col("n_vocab")
    y_rest = F.col("y_w") - F.col("y_sw")
    n_rest = F.col("n_tot") - F.col("n_s")
    delta = (F.log((F.col("y_sw") + a)
                   / (F.col("n_s") + a0 - F.col("y_sw") - a))
             - F.log((y_rest + a) / (n_rest + a0 - y_rest - a)))
    z = delta / F.sqrt(1.0 / (F.col("y_sw") + a) + 1.0 / (y_rest + a))
    j = (ysw.join(yw, "tok")
         .join(F.broadcast(ns), "source")
         .crossJoin(F.broadcast(tot)))
    w = Window.partitionBy("source").orderBy(
        F.desc(F.round(z, 9)), F.asc("tok"))
    return (j.select("source", "tok",
                     F.col("y_sw").cast("long").alias("y_sw"),
                     F.round(delta, 6).alias("log_odds"),
                     F.round(z, 6).alias("z"),
                     F.row_number().over(w).cast("long").alias("rank"))
            .where(F.col("rank") <= KEYNESS_TOPN))


QUERIES["source_keyness"] = q_source_keyness

ORACLE["source_keyness"] = f"""
WITH toks AS (
  SELECT source, unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS tok
  FROM documents
),
ysw AS (
  SELECT source, tok, CAST(count(*) AS DOUBLE) AS y_sw
  FROM toks GROUP BY source, tok
),
yw AS (SELECT tok, sum(y_sw) AS y_w FROM ysw GROUP BY tok),
ns AS (SELECT source, sum(y_sw) AS n_s FROM ysw GROUP BY source),
tot AS (SELECT sum(y_w) AS n_tot, CAST(count(*) AS DOUBLE) AS n_vocab
        FROM yw),
scored AS (
  SELECT s.source, s.tok, s.y_sw,
         ln((s.y_sw + {KEYNESS_PRIOR})
            / (n.n_s + {KEYNESS_PRIOR} * t.n_vocab - s.y_sw
               - {KEYNESS_PRIOR}))
         - ln(((w.y_w - s.y_sw) + {KEYNESS_PRIOR})
              / ((t.n_tot - n.n_s) + {KEYNESS_PRIOR} * t.n_vocab
                 - (w.y_w - s.y_sw) - {KEYNESS_PRIOR})) AS delta,
         1.0 / (s.y_sw + {KEYNESS_PRIOR})
         + 1.0 / ((w.y_w - s.y_sw) + {KEYNESS_PRIOR}) AS var
  FROM ysw s
  JOIN yw w ON w.tok = s.tok
  JOIN ns n ON n.source = s.source
  CROSS JOIN tot t
),
ranked AS (
  SELECT source, tok, CAST(y_sw AS BIGINT) AS y_sw,
         round(delta, 6) AS log_odds,
         round(delta / sqrt(var), 6) AS z,
         CAST(row_number() OVER (PARTITION BY source
           ORDER BY round(delta / sqrt(var), 9) DESC, tok ASC)
           AS BIGINT) AS rank
  FROM scored
)
SELECT source, tok, y_sw, log_odds, z, rank
FROM ranked WHERE rank <= {KEYNESS_TOPN}
"""


# ---- language-mix drift per source (KL divergence) -----------------------


def q_source_lang_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix drift per source: KL(source ‖ corpus) over the lang
    distribution — the mixture-monitoring scalar a multilingual corpus
    pipeline alerts on (a source whose language mix diverges from the
    corpus baseline is mislabeled, scraped wrong, or drifting). Exact
    count ratios; q > 0 whenever p > 0 because the corpus marginal
    contains every source's docs — no smoothing needed. Two aggregates
    over one (source, lang) count frame; corpus marginals broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    sl = (docs.groupBy("source", "lang")
          .agg(F.count(F.lit(1)).alias("n")))
    per_source = sl.groupBy("source").agg(F.sum("n").alias("n_docs"))
    per_lang = sl.groupBy("lang").agg(F.sum("n").alias("n_lang"))
    tot = sl.agg(F.sum("n").cast("double").alias("n_tot"))
    p = F.col("n") / F.col("n_docs")
    q = F.col("n_lang") / F.col("n_tot")
    kl_term = p * F.log(p / q)
    return (sl.join(F.broadcast(per_source), "source")
            .join(F.broadcast(per_lang), "lang")
            .crossJoin(F.broadcast(tot))
            .groupBy("source")
            .agg(F.max("n_docs").cast("long").alias("n_docs"),
                 F.count(F.lit(1)).cast("long").alias("n_langs"),
                 F.round(F.sum(kl_term), 6).alias("kl_divergence")))


QUERIES["source_lang_kl"] = q_source_lang_kl

ORACLE["source_lang_kl"] = """
WITH sl AS (
  SELECT source, lang, count(*) AS n
  FROM documents GROUP BY source, lang
),
per_source AS (SELECT source, sum(n) AS n_docs FROM sl GROUP BY source),
per_lang AS (SELECT lang, sum(n) AS n_lang FROM sl GROUP BY lang),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS n_tot FROM sl)
SELECT s.source, CAST(max(ps.n_docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_langs,
       round(sum((s.n * 1.0 / ps.n_docs)
                 * ln((s.n * 1.0 / ps.n_docs)
                      / (pl.n_lang / t.n_tot))), 6) AS kl_divergence
FROM sl s
JOIN per_source ps ON ps.source = s.source
JOIN per_lang pl ON pl.lang = s.lang
CROSS JOIN tot t
GROUP BY s.source
"""


# ---- near-dup threshold calibration sweep --------------------------------


def q_neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair cosine HISTOGRAM (0.1-wide buckets) over the
    TF-IDF inverted-index candidates — the calibration readout that
    tells a corpus owner where to SET the near-dup threshold before
    running dedup (a bimodal histogram separates noise from true dups;
    counts above each bucket edge are the would-be-dropped volume).
    Same banded candidate space as tfidf_neardup (threshold lifted, df
    caps still bounding the pair fanout), one bucket aggregate on the
    6-rounded cosine both engines already agree on."""
    from data_timeseries_java_spark.operators.text import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = tfidf_cosine_pairs(docs, threshold=-1.0,
                               max_df_frac=TFIDF_MAX_DF_FRAC,
                               max_df_abs=TFIDF_MAX_DF_ABS)
    bucket = F.least(F.floor(F.col("cosine") * 10), F.lit(9)).cast("long")
    return (pairs.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
            .select((F.col("bucket") / 10.0).alias("cos_lo"), "n_pairs"))


QUERIES["neardup_threshold_sweep"] = q_neardup_threshold_sweep

ORACLE["neardup_threshold_sweep"] = f"""
WITH {_TOKS},
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, tok
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS doc_freq FROM tf GROUP BY tok),
kept AS (
  SELECT t.doc_id, t.tok,
         t.tf * ln(n.n_docs / d.doc_freq) AS w
  FROM tf t JOIN dfreq d ON d.tok = t.tok CROSS JOIN n
  WHERE d.doc_freq <= least(n.n_docs * {TFIDF_MAX_DF_FRAC},
                            {TFIDF_MAX_DF_ABS})
),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM kept GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
  FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
cosines AS (
  SELECT round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
  FROM dots d
  JOIN norms na ON na.doc_id = d.id_a
  JOIN norms nb ON nb.doc_id = d.id_b
)
SELECT least(floor(cosine * 10), 9) / 10.0 AS cos_lo,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM cosines GROUP BY least(floor(cosine * 10), 9)
"""


# ---- streaming DSIR model, driver-gated through replay --------------------

_DSIR_REPLAY_SINKS: dict[tuple, str] = {}


def q_dsir_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring with the MODEL built through the
    STREAMING lane: documents replayed as 3 doc-id-range files, each
    micro-batch persisting one (bucket, ct, cr) hashed-ngram count
    partial (streaming/dsir_stream.py — the mergeable-store family);
    the read-time merge is integer sums, LOSSLESS, so scoring with the
    merged model hash-matches the batch `dsir_importance` oracle
    exactly. The gram and scoring code is literally shared with the
    batch operator, so the two lanes cannot drift. Building this query
    RUNS the stream (laziness-guard exempt)."""
    import os
    import shutil
    import tempfile
    import time as _time

    from data_timeseries_java_spark.streaming.dsir_stream import (
        read_streaming_dsir,
        streaming_dsir_model,
    )
    from data_timeseries_java_spark.streaming.replay import (
        drive_query,
        write_replay_buckets_long,
    )

    cache_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    work = _DSIR_REPLAY_SINKS.get(cache_key)
    if work is None or not os.path.isdir(f"{work}/out/dsir"):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang")
        lo, hi = docs.select(F.min("doc_id"), F.max("doc_id")).first()
        work = tempfile.mkdtemp(prefix="dsir_stream_replay_")
        write_replay_buckets_long(docs, F.col("doc_id"), f"{work}/in", 3,
                                  int(lo), int(hi) - int(lo) + 1,
                                  _time.time() - 1000, ["doc_id"])
        src = (spark.readStream.schema(docs.schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{work}/in/f*"))
        q = streaming_dsir_model(spark, src, f"{work}/out",
                                 target=F.col("lang") == DSIR_TARGET_LANG,
                                 n_buckets=DSIR_BUCKETS)
        drive_query(q, 600, "dsir stream replay")
        shutil.rmtree(f"{work}/in", ignore_errors=True)
        shutil.rmtree(f"{work}/out/checkpoint", ignore_errors=True)
        _DSIR_REPLAY_SINKS[cache_key] = work
    docs = load_table(spark, sf_dir, "documents")
    from data_timeseries_java_spark.streaming.dsir_stream import (
        read_streaming_dsir)
    return read_streaming_dsir(spark, f"{work}/out", docs,
                               target=F.col("lang") == DSIR_TARGET_LANG,
                               n_buckets=DSIR_BUCKETS)


QUERIES["dsir_stream_replay"] = q_dsir_stream_replay

# the lossless-merge claim: the streamed model's scores equal the batch
# operator's, so the gate is the SAME oracle
ORACLE["dsir_stream_replay"] = ORACLE["dsir_importance"]


DSIR_KEEP_FRAC = 0.25


def q_dsir_quantile_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction-budgeted DSIR selection: keep the top 25% of documents
    by importance weight against the exact interpolated quantile
    threshold (operators/text.dsir_quantile_select; production swaps
    the exact percentile for the mergeable quantile sketches)."""
    from data_timeseries_java_spark.operators.text import (
        dsir_importance,
        dsir_quantile_select,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_importance(docs, F.col("lang") == DSIR_TARGET_LANG,
                             n_buckets=DSIR_BUCKETS)
    return dsir_quantile_select(scored, keep_frac=DSIR_KEEP_FRAC)


QUERIES["dsir_quantile_select"] = q_dsir_quantile_select

ORACLE["dsir_quantile_select"] = f"""
WITH scored AS ({ORACLE["dsir_importance"]}),
thr AS (
  SELECT round(quantile_cont(log_weight, {1.0 - DSIR_KEEP_FRAC}), 6)
      AS threshold
  FROM scored
)
SELECT s.doc_id, s.is_target, s.log_weight, t.threshold,
       round(s.log_weight, 6) >= t.threshold AS kept
FROM scored s CROSS JOIN thr t
"""


# ---- Gopher filter, collocations, source overlap (round 8 batch) ---------


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published Gopher quality-filter thresholds as per-document
    boolean verdicts (operators/text.gopher_rules) — the FILTER stage a
    corpus build applies, complementing text_quality's continuous
    features. Single-scan projection, no shuffle."""
    from data_timeseries_java_spark.operators.text import gopher_rules

    return gopher_rules(load_table(spark, sf_dir, "documents"))


QUERIES["gopher_rules"] = q_gopher_rules

# flags are computed on UNROUNDED features in both engines (the round
# is output-only) so a boundary document cannot flip cross-engine
ORACLE["gopher_rules"] = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(t) AS n_words,
         list_sum(list_transform(t, x -> length(x))) * 1.0
           / greatest(len(t), 1) AS mean_word_len,
         len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) * 1.0
           / greatest(len(t), 1) AS alpha_ratio,
         len(list_filter(t, x -> list_contains(
             ['and','be','have','of','that','the','to','with'], x)))
           AS stop_hits
  FROM toks
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(alpha_ratio, 6) AS alpha_ratio,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       n_words BETWEEN 50 AND 100000 AS ok_word_count,
       mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_mean_len,
       alpha_ratio >= 0.8 AS ok_alpha,
       stop_hits >= 2 AS ok_stopwords,
       (n_words BETWEEN 50 AND 100000)
         AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         AND alpha_ratio >= 0.8 AND stop_hits >= 2 AS keep
FROM feat
"""


COLLOC_MIN_COUNT = 5


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked adjacent-word collocations over the corpus
    (operators/text.collocation_pmi): integer counts everywhere, one
    ln at the end; the only big shuffle is the |V|²-bounded bigram
    count."""
    from data_timeseries_java_spark.operators.text import collocation_pmi

    return collocation_pmi(load_table(spark, sf_dir, "documents"),
                           min_count=COLLOC_MIN_COUNT)


QUERIES["text_collocations"] = q_text_collocations

ORACLE["text_collocations"] = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT unnest(t) AS w FROM toks
),
uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
n1t AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM uc),
doc_bg AS (
  SELECT unnest(list_transform(range(1, len(t)),
                i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS s
  FROM toks WHERE len(t) >= 2
),
bc AS (
  SELECT s.w1 AS w1, s.w2 AS w2, CAST(count(*) AS BIGINT) AS c_xy
  FROM doc_bg GROUP BY 1, 2
  HAVING count(*) >= {COLLOC_MIN_COUNT}
),
n2t AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM doc_bg)
SELECT bc.w1, bc.w2, bc.c_xy, ua.c AS c_x, ub.c AS c_y,
       round(ln((bc.c_xy * n1t.n1 * n1t.n1) * 1.0
                / (n2t.n2 * ua.c * ub.c)), 6) AS pmi
FROM bc
JOIN uc ua ON ua.w = bc.w1
JOIN uc ub ON ub.w = bc.w2
CROSS JOIN n1t CROSS JOIN n2t
"""


def q_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source trigram Jaccard overlap matrix
    (operators/text.source_ngram_overlap) — "how much do my sources
    repeat each other" before mixture weighting; gram-keyed join,
    fanout bounded by |sources|."""
    from data_timeseries_java_spark.operators.text import (
        source_ngram_overlap)

    return source_ngram_overlap(load_table(spark, sf_dir, "documents"))


QUERIES["source_ngram_overlap"] = q_source_ngram_overlap

ORACLE["source_ngram_overlap"] = """
WITH toks AS (
  SELECT source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
  FROM documents
),
tg AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
  FROM toks WHERE len(t) >= 3
),
sc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
       FROM tg GROUP BY source),
inter AS (
  SELECT a.source AS source1, b.source AS source2,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM tg a JOIN tg b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT ca.source AS source1, cb.source AS source2,
       ca.n_grams AS n_a, cb.n_grams AS n_b,
       coalesce(i.n_inter, 0) AS n_inter,
       ca.n_grams + cb.n_grams - coalesce(i.n_inter, 0) AS n_union,
       round(coalesce(i.n_inter, 0) * 1.0
             / (ca.n_grams + cb.n_grams - coalesce(i.n_inter, 0)), 6)
         AS jaccard
FROM sc ca JOIN sc cb ON ca.source < cb.source
LEFT JOIN inter i
  ON i.source1 = ca.source AND i.source2 = cb.source
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the (declared, predicted) confusion
    matrix with per-cell counts, per-declared-language recall and
    per-predicted precision — the eval layer over the SAME langid
    derivation text_langid gates (one extra aggregate, nothing
    re-derived differently). Exact integer-ratio metrics rounded 6."""
    from data_timeseries_java_spark.operators.text import language_id

    preds = language_id(load_table(spark, sf_dir, "documents"))
    cells = (preds.groupBy(F.col("declared_lang"),
                           F.col("predicted_lang"))
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    from pyspark.sql import Window

    decl_tot = F.sum("n").over(Window.partitionBy("declared_lang"))
    pred_tot = F.sum("n").over(Window.partitionBy("predicted_lang"))
    return cells.select(
        "declared_lang", "predicted_lang", "n",
        F.round(F.col("n") / decl_tot, 6).alias("recall_share"),
        F.round(F.col("n") / pred_tot, 6).alias("precision_share"))


QUERIES["langid_confusion"] = q_langid_confusion

ORACLE["langid_confusion"] = f"""
WITH preds AS ({_langid_sql()}),
cells AS (
  SELECT declared_lang, predicted_lang,
         CAST(count(*) AS BIGINT) AS n
  FROM preds GROUP BY 1, 2
)
SELECT declared_lang, predicted_lang, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY declared_lang), 6)
         AS recall_share,
       round(n * 1.0 / sum(n) OVER (PARTITION BY predicted_lang), 6)
         AS precision_share
FROM cells
"""


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the quality classifier: scores bucketed
    into deciles, per-bin mean predicted score vs observed positive
    rate against the weak language label (lang = 'en', the same weak
    target the DSIR lane uses) — the calibration read a score-based
    selection pipeline needs before trusting thresholds. One extra
    aggregate over the classifier's own gated derivation."""
    from data_timeseries_java_spark.operators.text import (
        hashed_linear_classifier)

    docs = load_table(spark, sf_dir, "documents")
    s = hashed_linear_classifier(docs, n_buckets=CLF_BUCKETS)
    scored = (s.select("doc_id", F.round("score", 6).alias("score"))
              .join(docs.select("doc_id",
                                (F.col("lang") == "en").alias("pos")),
                    "doc_id"))
    bin_ = F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("long")
    # mean of 6-dp scores via exact micro-unit integers: the float sum
    # is order-dependent at the 6th decimal on ties-heavy bins
    micros = F.round(F.col("score") * 1e6).cast("long")
    return (scored.groupBy(bin_.alias("bin"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum(micros) / F.count(F.lit(1)) / 1e6, 6)
                 .alias("mean_score"),
                 F.round(F.avg(F.col("pos").cast("double")), 6)
                 .alias("frac_positive")))


QUERIES["classifier_calibration"] = q_classifier_calibration

ORACLE["classifier_calibration"] = f"""
WITH clf AS ({ORACLE["quality_classifier"]}),
scored AS (
  SELECT c.doc_id, c.score, d.lang = 'en' AS pos
  FROM clf c JOIN documents d USING (doc_id)
)
SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(CAST(round(score * 1e6) AS BIGINT)) * 1.0
             / count(*) / 1e6, 6) AS mean_score,
       round(avg(CASE WHEN pos THEN 1.0 ELSE 0.0 END), 6)
         AS frac_positive
FROM scored
GROUP BY 1
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE subword tokens per
    whitespace word, the standard measure of how well a tokenizer fits
    each language (fertility ~1 = native; >>1 = the tokenizer
    fragments that language and its docs cost proportionally more
    compute per word). Uses the committed merge table's exact counts
    (operators/text.bpe_token_counts — replace-chain, no UDF) grouped
    by the corpus's language column; integer sums, floor-quantized
    ratios (the repo ratio convention). One scan + one tiny
    per-language aggregate."""
    from data_timeseries_java_spark.operators.text import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents")
    # lang rides the SAME scan (keep_cols) — no doc_id self-join
    counts = bpe_token_counts(docs, keep_cols=["lang"])
    g = counts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"))
    f6 = lambda c: F.floor(c * 1_000_000) / 1_000_000  # noqa: E731
    return g.select(
        "lang", "n_docs", "n_words", "n_bpe_tokens",
        f6(F.col("n_bpe_tokens") / F.col("n_words")).alias("fertility"),
        f6(F.col("n_chars") / F.col("n_bpe_tokens"))
        .alias("chars_per_token"))


QUERIES["tokenizer_fertility"] = q_tokenizer_fertility

ORACLE["tokenizer_fertility"] = f"""
WITH bpe AS ({{bpe}}),
j AS (SELECT b.*, d.lang FROM bpe b JOIN documents d USING (doc_id)),
g AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS n_words,
         CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM j GROUP BY lang
)
SELECT lang, n_docs, n_words, n_bpe_tokens,
       floor(n_bpe_tokens * 1000000.0 / n_words) / 1000000 AS fertility,
       floor(n_chars * 1000000.0 / n_bpe_tokens) / 1000000
         AS chars_per_token
FROM g
""".replace("{bpe}", _bpe_sql())


def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC for the quality classifier against the weak
    language label, via the Mann-Whitney rank-sum identity —
    completing the eval pair with classifier_calibration (calibration
    says whether scores are honest probabilities; AUC says whether
    their ORDER separates the classes at all). Ties (many — the
    hashed classifier's 6-dp scores collide) get the standard average
    rank, computed exactly: per distinct score, avg_rank =
    preceding_count + (count+1)/2 lives on the half-integer lattice,
    so every sum here is exact integer-or-half arithmetic; only the
    final ratio is floor-quantized at 6 (the repo ratio convention).

    Shape: the classifier's gated derivation, one tiny groupBy
    DISTINCT 6-dp score (bounded at 1e6+1 groups at ANY corpus size),
    one ordered window over that bounded frame, one global aggregate
    — the value_ks_test pattern."""
    from pyspark.sql import Window

    from data_timeseries_java_spark.operators.text import (
        hashed_linear_classifier)

    docs = load_table(spark, sf_dir, "documents")
    s = hashed_linear_classifier(docs, n_buckets=CLF_BUCKETS)
    scored = (s.select("doc_id", F.round("score", 6).alias("score"))
              .join(docs.select("doc_id",
                                (F.col("lang") == "en").alias("pos")),
                    "doc_id"))
    g = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("pos").cast("long")).alias("pos_cnt"))
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1)
    ranked = g.select(
        "score", "cnt", "pos_cnt",
        (F.coalesce(F.sum("cnt").over(w), F.lit(0))
         + (F.col("cnt") + 1) / 2).alias("avg_rank"))
    tot = ranked.agg(
        F.sum("pos_cnt").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos_cnt")).alias("n_neg"),
        F.sum(F.col("pos_cnt") * F.col("avg_rank")).alias("rank_sum"))
    auc = ((F.col("rank_sum")
            - F.col("n_pos") * (F.col("n_pos") + 1) / 2)
           / (F.col("n_pos") * F.col("n_neg")))
    return tot.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (F.floor(auc * 1_000_000) / 1_000_000).alias("auc"))


QUERIES["classifier_auc"] = q_classifier_auc

ORACLE["classifier_auc"] = f"""
WITH clf AS ({{clf}}),
lab AS (
  SELECT c.doc_id, c.score, d.lang = 'en' AS pos
  FROM clf c JOIN documents d USING (doc_id)
),
g AS (
  SELECT score, count(*) AS cnt,
         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS pos_cnt
  FROM lab GROUP BY score
),
ranked AS (
  SELECT score, cnt, pos_cnt,
         coalesce(sum(cnt) OVER (ORDER BY score
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (cnt + 1) / 2.0 AS avg_rank
  FROM g
),
tot AS (
  SELECT sum(pos_cnt) AS n_pos,
         sum(cnt - pos_cnt) AS n_neg,
         sum(pos_cnt * avg_rank) AS rank_sum
  FROM ranked
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       floor((rank_sum - n_pos * (n_pos + 1) / 2.0)
             / (n_pos * n_neg) * 1000000) / 1000000 AS auc
FROM tot
""".replace("{clf}", ORACLE["quality_classifier"])


BURST_MIN_DOCS = 20  # report tokens appearing in at least this many docs


def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Church & Gale's variance-to-mean dispersion,
    public): per frequent token, the VMR of its per-document counts —
    function words disperse evenly (VMR near 1, Poisson-like), topical
    words 'burst' (VMR >> 1: absent from most docs, dense where they
    appear). The stopword-list-free signal for separating content from
    glue vocabulary. All moments come from exact integer sums over
    per-doc counts (zero-docs included via the corpus doc count, no
    per-doc rows fabricated); the VMR floor-quantizes at 6.

    Shape: one token explode -> (token, doc) count, one per-token
    aggregate, one broadcast scalar (corpus doc count) — linear, the
    vocab_zipf family."""
    from data_timeseries_java_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    n_docs_df = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_total"))
    per_doc = (docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c")))
    g = (per_doc.groupBy("tok")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.sum("c").alias("s"),
              F.sum(F.col("c") * F.col("c")).alias("ss")))
    j = g.crossJoin(F.broadcast(n_docs_df))
    n = F.col("n_docs_total").cast("double")
    mean = F.col("s") / n
    # population variance over ALL docs incl. zero-count ones:
    # E[c^2] - E[c]^2 with exact integer s/ss
    var = F.col("ss") / n - mean * mean
    vmr = F.floor(var / mean * 1_000_000) / 1_000_000
    return (j.where(F.col("n_docs") >= BURST_MIN_DOCS)
            .select("tok", "n_docs",
                    F.col("s").cast("long").alias("total_count"),
                    vmr.alias("vmr")))


QUERIES["text_burstiness"] = q_text_burstiness

ORACLE["text_burstiness"] = f"""
WITH {_TOKS},
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
per_doc AS (
  SELECT tok, doc_id, count(*) AS c FROM tok GROUP BY 1, 2
),
g AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n_docs,
         sum(c) AS s, sum(c * c) AS ss
  FROM per_doc GROUP BY tok
),
nd AS (SELECT count(*) AS n_docs_total FROM documents)
SELECT g.tok, g.n_docs, CAST(g.s AS BIGINT) AS total_count,
       floor((g.ss / nd.n_docs_total
              - (g.s * 1.0 / nd.n_docs_total)
                * (g.s * 1.0 / nd.n_docs_total))
             / (g.s * 1.0 / nd.n_docs_total) * 1000000) / 1000000
         AS vmr
FROM g, nd
WHERE g.n_docs >= {BURST_MIN_DOCS}
"""
