"""Text-analysis operators over the documents table (training-data pipeline
components): token stats, quality scoring, language-ID heuristic, document
fingerprinting.

All scoring is pure column expressions (JVM-side, codegen'd — no Python in
the hot path); every rule is mirrored exactly in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_ruby_spark.functions import h32_sql
from map_reduce_ruby_spark.materialize import truncate
from map_reduce_ruby_spark.plans.catalog import register
from map_reduce_ruby_spark.plans.memo import LruMemo
from map_reduce_ruby_spark.sources import load_table

# The redaction lexicon pattern: ONE Spark-side source of truth shared by
# text_redaction_stats and text_redact_documents (the oracle SQL keeps its
# own copy by design — it is the independent implementation).
_REDACT_PAT = r"\b(key|hash|value)\b"

# A tiny deterministic stopword lexicon per language for the lang-id
# heuristic. Real language ID would be an n-gram model behind mapInPandas;
# the heuristic keeps the operator fully SQL-checkable.
_STOPWORDS = ["the", "a", "data", "query", "join"]


def _tokens_spark(col):
    return F.filter(F.split(col, r"\s+"), lambda w: w != "")


_TOKENS_SQL = "list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({_TOKENS_SQL})) AS BIGINT) AS n_unique,
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents
    """,
    doc="Per-document token counting: whitespace tokens, unique tokens, "
    "chars. Array expressions only — one narrow projection at scale.",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens_spark(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
           ROUND(CAST(n_unique AS DOUBLE) / n_tokens, 6) AS unique_ratio,
           CASE WHEN n_tokens >= 20 AND n_stop > 0 THEN 1 ELSE 0 END AS quality_ok
    FROM (
        SELECT doc_id,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct({_TOKENS_SQL})) AS BIGINT) AS n_unique,
               CAST(len(list_filter({_TOKENS_SQL},
                    w -> list_contains({_STOPWORDS!r}, w))) AS BIGINT) AS n_stop
        FROM documents
    ) WHERE n_tokens > 0
    """,
    doc="Quality scoring: stopword ratio, type-token ratio, min-length gate — "
    "the standard cheap filters in a pretraining data pipeline. Ratios are "
    "rounded to 6 decimals on both engines (single double division).",
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens_spark(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).cast("long").alias("n_stop"),
    ).filter(F.col("n_tokens") > 0)
    return base.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_stop").cast("double") / F.col("n_tokens"), 6).alias("stopword_ratio"),
        F.round(F.col("n_unique").cast("double") / F.col("n_tokens"), 6).alias("unique_ratio"),
        F.when((F.col("n_tokens") >= 20) & (F.col("n_stop") > 0), 1).otherwise(0).alias("quality_ok"),
    )


@register(
    "text_lang_signal",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN list_contains(
                list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''),
                'the') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_the,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    doc="Language-ID signal aggregation: per labeled lang, how many docs "
    "contain the English marker token — the skeleton of an n-gram lang-id "
    "scorer (full model would be a broadcast lexicon joined the same way).",
    tags=("text", "langid"),
)
def text_lang_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens_spark(F.col("text"))
    return (
        docs.withColumn("has_the", F.array_contains(toks, "the").cast("int"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("has_the").cast("long").alias("n_with_the"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
    doc="Document fingerprinting: md5 over whitespace-normalized, lowercased "
    "text — the exact-dedup key. JVM md5, no Python.",
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


@register(
    "text_regex_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_word_tokens,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct_tokens,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
               AS n_unique_words
    FROM documents
    """,
    doc="BPE-ish regex tokenization: alphanumeric word tokens + single-char "
    "punctuation tokens (the pre-tokenizer split most BPE vocabularies "
    "assume), plus lowercased unique-word count. regexp_extract_all stays "
    "JVM-side; at scale this is a narrow scan-side projection feeding token "
    "budget accounting.",
    tags=("text", "tokenize"),
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.expr(r"regexp_extract_all(text, '[A-Za-z0-9]+', 0)")
    punct = F.expr(r"regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0)")
    uniq = F.array_distinct(F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
    return docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_word_tokens"),
        F.size(punct).cast("long").alias("n_punct_tokens"),
        F.size(uniq).cast("long").alias("n_unique_words"),
    )


@register(
    "approx_distinct_users_daily",
    oracle="""
    SELECT epoch_us(ts) // 86400000000 AS day_no,
           COUNT(DISTINCT user_id) AS exact_dau,
           TRUE AS hll_within_bounds
    FROM events GROUP BY 1
    """,
    doc="approx_count_distinct (HyperLogLog++) of daily active users — the "
    "sketch that replaces exact COUNT(DISTINCT) at 100 TB (mergeable, "
    "fixed-size state instead of a per-key hash set). HLL sketch values are "
    "engine-specific, so the checkable surface is (exact count, bounds "
    "flag): Spark emits its HLL estimate's |approx-exact|/exact <= 5% as a "
    "boolean next to the exact count (rel_sd=0.02, so 5% is 2.5 sigma); the "
    "oracle asserts the exact count and that the flag is TRUE. A sketch "
    "drifting out of bounds fails the hash gate. tests/test_approx.py "
    "additionally pins the raw estimate.",
    tags=("aggregate", "approx", "sketch"),
)
def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day_no", F.expr("ts_us div 86400000000"))
        .groupBy("day_no")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_dau"),
            F.countDistinct("user_id").alias("exact_dau"),
        )
        .select(
            "day_no",
            "exact_dau",
            (
                F.abs(F.col("approx_dau") - F.col("exact_dau"))
                / F.col("exact_dau")
                <= 0.05
            ).alias("hll_within_bounds"),
        )
    )


# --- n-gram language ID ------------------------------------------------------
#
# Two-pass scorer: (1) per labeled lang, the top-20 char trigrams by frequency
# (ties -> trigram asc) form the lang profile; (2) every document scores
# against every profile by distinct-trigram overlap, predicting the argmax
# (ties -> lang asc). The profile is ~20 x |langs| rows — broadcast — so
# scoring is a map-side join however large the corpus is.

_TRIGRAMS_SQL = (
    "list_transform(range(1, length(lower(text)) - 1), i -> substr(lower(text), i, 3))"
)


def _trigrams_spark(col):
    t = F.lower(col)
    return F.transform(
        F.sequence(F.lit(1), F.length(t) - 2), lambda i: F.substring(t, i, 3)
    )


@register(
    "text_langid_ngram",
    oracle=f"""
    WITH tri AS (
        SELECT doc_id, lang, unnest({_TRIGRAMS_SQL}) AS g
        FROM documents WHERE length(text) >= 3
    ),
    profile AS (
        SELECT lang, g FROM (
            SELECT lang, g, row_number() OVER (
                PARTITION BY lang ORDER BY COUNT(*) DESC, g
            ) AS rn
            FROM tri GROUP BY lang, g
        ) WHERE rn <= 20
    ),
    doc_tri AS (SELECT DISTINCT doc_id, g FROM tri),
    scores AS (
        SELECT d.doc_id, p.lang AS cand_lang, COUNT(*) AS overlap
        FROM doc_tri d JOIN profile p ON d.g = p.g
        GROUP BY d.doc_id, p.lang
    ),
    pred AS (
        SELECT doc_id, cand_lang AS pred_lang FROM (
            SELECT doc_id, cand_lang, row_number() OVER (
                PARTITION BY doc_id ORDER BY overlap DESC, cand_lang
            ) AS rn
            FROM scores
        ) WHERE rn = 1
    )
    SELECT d.lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY d.lang
    """,
    doc="N-gram language ID, end to end: char-trigram profiles per labeled "
    "lang (top-20 by frequency, deterministic ties), then every document "
    "scores against every profile by distinct-trigram overlap and predicts "
    "the argmax. Reports per-lang accuracy. Scale: the profile is tiny and "
    "broadcast; scoring is one scan + a small groupBy — corpus never "
    "self-joins.",
    tags=("text", "langid"),
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # Materialize lower(text) BEFORE the per-index transform: referencing the
    # raw expression inside the lambda would re-lower the string per trigram.
    lowered = docs.filter(F.length("text") >= 3).select(
        "doc_id", "lang", F.lower("text").alias("lt")
    )
    tri_expr = F.transform(
        F.sequence(F.lit(1), F.length("lt") - 2), lambda i: F.substring(F.col("lt"), i, 3)
    )
    tri = lowered.select("doc_id", "lang", F.explode(tri_expr).alias("g"))

    # Pass 1: the profile is <= 20 x |langs| rows — an aggregate artifact like
    # IVF centroids. Collect it so pass 2 is ONE corpus scan joined against a
    # literal-backed broadcast frame (otherwise the trigram explode lineage is
    # recomputed for both branches of the self-referential plan).
    w_prof = W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("g"))
    profile_rows = (
        tri.groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w_prof))
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("cand_lang"), "g")
        .collect()
    )
    profile = spark.createDataFrame(
        [(r.cand_lang, r.g) for r in profile_rows], "cand_lang string, g string"
    )

    doc_tri = tri.select("doc_id", "g").distinct()
    scores = (
        doc_tri.join(F.broadcast(profile), "g")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    w_pred = W.partitionBy("doc_id").orderBy(F.desc("overlap"), F.asc("cand_lang"))
    pred = (
        scores.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"))
    )
    return (
        docs.join(pred, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("pred_lang") == F.col("lang")).cast("int")).cast("long").alias("n_correct"),
        )
    )


@register(
    "text_rolling_fingerprint",
    oracle=f"""
    WITH win AS (
        SELECT doc_id,
               list_transform(range(1, len({_TOKENS_SQL}) - 6),
                   i -> {' || chr(32) || '.join(f'{_TOKENS_SQL}[i+{j}]' for j in range(8))}) AS windows
        FROM documents
        WHERE len({_TOKENS_SQL}) >= 8
    )
    SELECT doc_id,
           list_aggregate(list_transform(windows,
               w -> (('0x' || substr(md5(w), 1, 8))::UBIGINT)::BIGINT), 'min')
               AS fingerprint,
           CAST(len(windows) AS BIGINT) AS n_windows
    FROM win
    """,
    doc="Rolling-window document fingerprint (winnowing-style): hash every "
    "8-token window, keep the minimum — robust to edits outside the minimal "
    "window, the standard near-dup fingerprint for long documents. One "
    "narrow projection; no shuffle until fingerprints are grouped.",
    tags=("text", "fingerprint"),
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_ruby_spark.functions import h32

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens_spark(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 8)
    windows = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 8),
        lambda i: F.concat_ws(
            " ", *[F.element_at("toks", i + j + 1) for j in range(8)]
        ),
    )
    hashed = base.select("doc_id", F.transform(windows, lambda w: h32(w)).alias("hs"))
    return hashed.select(
        "doc_id",
        F.array_min("hs").alias("fingerprint"),
        F.size("hs").cast("long").alias("n_windows"),
    )


@register(
    "text_redaction_stats",
    oracle=r"""
    WITH hits AS (
        SELECT lang,
               len(regexp_extract_all(text, '\b(key|hash|value)\b')) AS n_hits,
               regexp_replace(text, '\b(key|hash|value)\b', '<redacted>', 'g')
                   AS scrubbed
        FROM documents
    )
    SELECT lang,
           CAST(SUM(n_hits) AS BIGINT) AS total_redactions,
           CAST(COUNT(*) FILTER (WHERE n_hits > 0) AS BIGINT) AS n_docs_affected,
           CAST(SUM(length(scrubbed)) AS BIGINT) AS scrubbed_chars
    FROM hits GROUP BY lang
    """,
    doc="Lexicon redaction (the PII-scrub pattern: same plumbing as "
    "email/phone/SSN patterns, with a deterministic denylist so the oracle "
    "can verify counts): word-boundary regexp_replace + occurrence counts "
    "per doc, rolled up per language. Both engines run the identical regex "
    "(\\b alternation — Java and RE2 agree). Scale: pure scan-side "
    "projection, one aggregation; the regex is the per-byte cost, which is "
    "exactly where a real pipeline spends it.",
    tags=("text", "redaction", "pipeline"),
)
def text_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hits = docs.select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(_REDACT_PAT), 0)).alias("n_hits"),
        F.length(F.regexp_replace("text", _REDACT_PAT, "<redacted>")).alias("scrubbed_len"),
    )
    return hits.groupBy("lang").agg(
        F.sum("n_hits").cast("long").alias("total_redactions"),
        F.count_if(F.col("n_hits") > 0).cast("long").alias("n_docs_affected"),
        F.sum("scrubbed_len").cast("long").alias("scrubbed_chars"),
    )


@register(
    "text_repetition_filter",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    base AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               ROUND(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
                   AS dup_word_frac,
               t
        FROM toks WHERE len(t) > 1
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1])) AS gram
        FROM base
    ),
    counts AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram),
    per AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
               ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_gram_frac
        FROM counts GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens, b.dup_word_frac, p.n_grams, p.top_gram_frac,
           CASE WHEN p.top_gram_frac <= 0.05 AND b.dup_word_frac <= 0.55
                THEN 1 ELSE 0 END AS repetition_ok
    FROM base b JOIN per p ON b.doc_id = p.doc_id
    """,
    doc="Gopher/C4-style within-document repetition filter: duplicate-word "
    "fraction (1 - type/token ratio) and most-frequent-2-gram fraction, "
    "thresholded into a keep flag. 2-grams come from zip_with over adjacent "
    "token slices (JVM-side, no Python); the per-gram count and per-doc "
    "re-aggregation both shuffle on doc_id(+gram), so the filter scales "
    "per-document with no global state. Thresholds (0.05 / 0.55) straddle "
    "the fixture medians so both verdicts occur.",
    tags=("text", "quality", "pipeline"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", _tokens_spark(F.col("text")).alias("t"))
        .filter(F.size("t") > 1)
        .select(
            "doc_id",
            "t",
            F.size("t").cast("long").alias("n_tokens"),
            F.round(
                1.0 - F.size(F.array_distinct("t")).cast("double") / F.size("t"), 6
            ).alias("dup_word_frac"),
        )
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("gram"),
    )
    per = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_gram_frac"),
        )
    )
    return base.drop("t").join(per, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_word_frac",
        "n_grams",
        "top_gram_frac",
        F.when(
            (F.col("top_gram_frac") <= 0.05) & (F.col("dup_word_frac") <= 0.55), 1
        )
        .otherwise(0)
        .alias("repetition_ok"),
    )


@register(
    "text_redact_documents",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\b(key|hash|value)\b'))
                AS BIGINT) AS n_redactions,
           md5(regexp_replace(text, '\b(key|hash|value)\b', '<redacted>', 'g'))
               AS scrubbed_md5
    FROM documents
    """,
    doc="The redaction TRANSFORM itself (text_redaction_stats covers the "
    "rollup): per document, the scrubbed text — emitted as its md5 so the "
    "gate checks every output byte without hashing megabyte rows — plus the "
    "per-doc hit count. This is the shape a privacy pass materializes (a "
    "new corpus generation of scrubbed text); both engines run the "
    "identical word-boundary regex (Java and RE2 agree on this class). "
    "Scale: narrow scan-side projection, no shuffle at all.",
    tags=("text", "redaction", "pipeline"),
)
def text_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_REDACT_PAT), 0))
        .cast("long")
        .alias("n_redactions"),
        F.md5(F.regexp_replace("text", _REDACT_PAT, "<redacted>")).alias("scrubbed_md5"),
    )


# --- corpus-trained bigram LM scoring (CCNet-style perplexity filter) -------
#
# CCNet filters/buckets documents by the perplexity of a small LM trained on
# trusted text. Re-expressed relationally: train add-one-smoothed bigram
# probabilities ON the corpus itself (bigram + unigram count tables — two
# uniform-key shuffles), then score each document by its mean bigram
# log-probability and bucket into quality bands. Every step is exact
# arithmetic both engines share.


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS tok FROM documents
    ),
    big AS (
        SELECT doc_id, tok[i] AS w1, tok[i+1] AS w2
        FROM toks, UNNEST(range(1, len(tok))) AS t(i)
    ),
    uni AS (
        SELECT w1 AS w, COUNT(*) AS cw FROM big GROUP BY w1
    ),
    bc AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
    ),
    vocab AS (SELECT COUNT(DISTINCT w) AS v FROM uni),
    scored AS (
        SELECT b.doc_id,
               ln((bc.c12 + 1.0) / (uni.cw + vocab.v)) AS lp
        FROM big b
        JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        JOIN uni ON b.w1 = uni.w
        CROSS JOIN vocab
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(SUM(CAST(ROUND(lp * 1000) AS BIGINT)) / 1000.0
                 / COUNT(*), 6) AS avg_lp,
           CASE WHEN ROUND(SUM(CAST(ROUND(lp * 1000) AS BIGINT)) / 1000.0
                           / COUNT(*), 6) >= -3.32 THEN 'head'
                WHEN ROUND(SUM(CAST(ROUND(lp * 1000) AS BIGINT)) / 1000.0
                           / COUNT(*), 6) >= -3.40 THEN 'middle'
                ELSE 'tail' END AS band
    FROM scored GROUP BY doc_id
    """,
    doc="CCNet-style LM quality bucketing: an add-one-smoothed bigram model "
    "is trained on the corpus (unigram + bigram count tables — shuffles on "
    "uniform token keys), each document is scored by mean bigram "
    "log-probability, and scores are cut into head/middle/tail bands (the "
    "CCNet split). Per-bigram logprobs are summed in scaled int64 "
    "(round(lp*1e3) — coarse enough that a last-ulp libm ln() divergence "
    "between engines cannot flip a rounding boundary) so the mean is "
    "addition-order independent — the same "
    "exactness rule as the engine's decimal sums — making the float "
    "pipeline hash-gateable. At 100 TB the count tables are corpus-sized "
    "but uniform-keyed; the scoring join is bigram-key equi-join, never a "
    "document pair join.",
    tags=("text", "pipeline", "lm", "extension"),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens_spark(F.col("text")).alias("tok"))
    big = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tok") >= 2,
                F.expr(
                    "transform(sequence(1, size(tok) - 1),"
                    " i -> struct(element_at(tok, i) AS w1,"
                    "             element_at(tok, i + 1) AS w2))"
                ),
            ).otherwise(F.expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    # One corpus explode, not three: the bigram-TYPE table is materialized
    # once and the unigram table derives from it exactly (cw = count of w1
    # occurrences in big = SUM of c12 over bc grouped by w1 — same
    # integers), so uni and vocab aggregate the small type table instead
    # of re-running the scan+explode per consumer.
    bc = truncate(
        big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )  # lazy: uni/vocab/the scoring join all fuse into the one final job
    uni = bc.groupBy(F.col("w1").alias("w")).agg(F.sum("c12").alias("cw"))
    vocab = uni.agg(F.countDistinct("w").alias("v"))
    scored = (
        big.join(bc, ["w1", "w2"])
        .join(uni, big["w1"] == uni["w"])
        .crossJoin(F.broadcast(vocab))  # 1-row scalar (vocab size)
        .select(
            "doc_id",
            F.log((F.col("c12") + F.lit(1.0)) / (F.col("cw") + F.col("v"))).alias("lp"),
        )
    )
    # 1e3 grid, not 1e6: Spark's Math.log and DuckDB's libm log can differ
    # in the last ulp, and at a fine grid that ulp lands on the .5 rounding
    # boundary (observed once at sf0.1). The coarser grid keeps the same
    # band semantics with a ~1000x wider safety margin.
    avg_lp = F.round(
        F.sum(F.round(F.col("lp") * 1000).cast("long")) / F.lit(1000.0)
        / F.count(F.lit(1)),
        6,
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), avg_lp.alias("avg_lp"))
        .withColumn(
            "band",
            F.when(F.col("avg_lp") >= -3.32, "head")
            .when(F.col("avg_lp") >= -3.40, "middle")
            .otherwise("tail"),
        )
    )


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS tok FROM documents
    ),
    big AS (
        SELECT tok[i] AS w1, tok[i+1] AS w2
        FROM toks, UNNEST(range(1, len(tok))) AS t(i)
    ),
    n AS (SELECT COUNT(*) AS total FROM big),
    uni1 AS (SELECT w1 AS w, COUNT(*) AS c FROM big GROUP BY w1),
    uni2 AS (SELECT w2 AS w, COUNT(*) AS c FROM big GROUP BY w2),
    bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
    pmi AS (
        SELECT bc.w1, bc.w2, bc.c12,
               ROUND(ln((bc.c12 * n.total) / (CAST(u1.c AS DOUBLE) * u2.c)), 6)
                   AS pmi
        FROM bc JOIN uni1 u1 ON bc.w1 = u1.w
                JOIN uni2 u2 ON bc.w2 = u2.w
                CROSS JOIN n
        WHERE bc.c12 >= 5
    )
    SELECT w1, w2, c12, pmi, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rk
          FROM pmi)
    WHERE rk <= 20
    """,
    doc="PMI collocation mining (the classic word-association statistic): "
    "pointwise mutual information over adjacent-token pairs, support floor "
    "c12 >= 5, global top-20 by 6dp-rounded PMI with lexicographic "
    "tie-breaks. Count tables shuffle on token keys; the final top-k is "
    "orderBy+limit (TakeOrderedAndProject at scale, never a global sort). "
    "PMI values rounded before ranking so both engines rank identically.",
    tags=("text", "extension"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _tokens_spark(F.col("text")).alias("tok"))
    big = toks.select(
        F.explode(
            F.when(
                F.size("tok") >= 2,
                F.expr(
                    "transform(sequence(1, size(tok) - 1),"
                    " i -> struct(element_at(tok, i) AS w1,"
                    "             element_at(tok, i + 1) AS w2))"
                ),
            ).otherwise(F.expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
        ).alias("b"),
    ).select("b.w1", "b.w2")
    # One corpus explode, not four: every other count table is an exact
    # re-aggregation of the bigram-TYPE table (c1/c2 = SUM of c12 grouped
    # by w1/w2, total = SUM of all c12 — same integers), so they derive
    # from the materialized type table instead of re-running the
    # scan+explode per consumer.
    bc_all = truncate(
        big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )  # lazy: all four re-aggregations fuse into the one final job
    n = bc_all.agg(F.sum("c12").alias("total"))
    uni1 = bc_all.groupBy(F.col("w1").alias("w")).agg(F.sum("c12").alias("c1"))
    uni2 = bc_all.groupBy(F.col("w2").alias("w")).agg(F.sum("c12").alias("c2"))
    bc = bc_all.filter(F.col("c12") >= 5)
    pmi = (
        bc.join(uni1.withColumnRenamed("w", "w1"), "w1")
        .join(uni2.withColumnRenamed("w", "w2"), "w2")
        .crossJoin(F.broadcast(n))  # 1-row scalar (corpus bigram total)
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log((F.col("c12") * F.col("total")) / (F.col("c1").cast("double") * F.col("c2"))),
                6,
            ).alias("pmi"),
        )
    )
    top = pmi.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(20)
    w = W.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


# --- BM25 retrieval ----------------------------------------------------------

_BM25_TERMS = ("data", "query", "join")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


@register(
    "text_bm25_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS tok FROM documents
    ),
    dl AS (
        SELECT doc_id, tok, len(tok) AS dlen FROM toks
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(tok) AS term FROM dl)
        WHERE term IN {_BM25_TERMS}
        GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT t.doc_id,
               SUM(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                   * (t.tf * ({_BM25_K1} + 1))
                   / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * l.dlen / s.avgdl))) AS raw
        FROM tf t
        JOIN df d ON t.term = d.term
        JOIN dl l ON t.doc_id = l.doc_id
        CROSS JOIN stats s
        GROUP BY t.doc_id
    )
    SELECT doc_id, ROUND(raw, 6) AS bm25, CAST(rk AS BIGINT) AS rk
    FROM (SELECT doc_id, raw,
                 row_number() OVER (ORDER BY ROUND(raw, 6) DESC, doc_id) AS rk
          FROM scored)
    WHERE rk <= {_BM25_TOPK}
    """,
    doc="BM25 retrieval (the inverted-index ranking function) for a fixed "
    "3-term query: per-doc term frequencies against corpus document "
    "frequencies and average document length, k1=1.2 b=0.75, global top-20 "
    "by 6dp-rounded score with doc_id tie-breaks. At scale the tf table IS "
    "the inverted index (posting lists keyed by term — one uniform-key "
    "shuffle to build, incrementally maintainable); df/avgdl are tiny "
    "broadcast artifacts and the final top-k is orderBy+limit "
    "(TakeOrderedAndProject). The one float sum per doc runs over <= "
    "|query| terms in deterministic term order, so 6dp rounding is safe to "
    "gate on.",
    tags=("text", "retrieval", "extension"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", _tokens_spark(F.col("text")).alias("tok")
    ).withColumn("dlen", F.size("tok"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        dl.select("doc_id", F.explode("tok").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # SUM over the per-(doc, term) contributions: Spark's partial sums could
    # pair float addends differently than DuckDB's sequential fold, but each
    # doc has <= 3 contribution rows, grouped on one shuffle key — both
    # engines fold the same few addends; 6dp rounding absorbs the pairing.
    contrib = (
        tf.join(F.broadcast(df), "term")
        .join(dl.select("doc_id", "dlen"), "doc_id")
        .crossJoin(F.broadcast(stats))  # 1-row scalar (n_docs, avgdl)
        .select(
            "doc_id",
            (
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dlen") / F.col("avgdl"))
                )
            ).alias("contribution"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.sum("contribution"), 6).alias("bm25")
    )
    top = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_BM25_TOPK)
    w = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


@register(
    "text_bm25_persisted",
    # text_bm25_search's oracle restricted to the A ∪ B corpus the
    # maintained index holds (slices 1..4 of doc_id % 5): the full
    # lifecycle — build(A), append(B), compact, vacuum — must rank
    # exactly like a one-shot rebuild over A ∪ B.
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 >= 1
    ),
    toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS tok FROM base
    ),
    dl AS (
        SELECT doc_id, tok, len(tok) AS dlen FROM toks
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(tok) AS term FROM dl)
        WHERE term IN {_BM25_TERMS}
        GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT t.doc_id,
               SUM(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                   * (t.tf * ({_BM25_K1} + 1))
                   / (t.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * l.dlen / s.avgdl))) AS raw
        FROM tf t
        JOIN df d ON t.term = d.term
        JOIN dl l ON t.doc_id = l.doc_id
        CROSS JOIN stats s
        GROUP BY t.doc_id
    )
    SELECT doc_id, ROUND(raw, 6) AS bm25, CAST(rk AS BIGINT) AS rk
    FROM (SELECT doc_id, raw,
                 row_number() OVER (ORDER BY ROUND(raw, 6) DESC, doc_id) AS rk
          FROM scored)
    WHERE rk <= {_BM25_TOPK}
    """,
    doc="The DURABLE form of text_bm25_search run through its FULL "
    "lifecycle (operators/text_index.py): the inverted index — postings "
    "(term, doc_id, tf, dlen) directory-partitioned by term-hash bucket "
    "— is built from corpus slice A (doc_id % 5 in 2..4), slice B "
    "(doc_id % 5 = 1) is APPENDED as its own ingest generation with "
    "BM25's additive global stats (N, total token count) maintained as "
    "meta counters — the piece the stateless band index never had to "
    "solve: integer adds commute, so incremental stats equal the "
    "rebuild's exactly, while per-term document frequencies are computed "
    "per query from the pruned posting lists — then the generations are "
    "COMPACTED (range-clustered on (tb, term): buckets stay partition-"
    "pruned, files term-contiguous for footer min/max) and vacuumed with "
    "a one-hour grace window (vacuum_index(path, grace_sec=3600.0): the "
    "cached root is shared across processes, so retired generations wait "
    "out readers). The query scan reads <= |terms|/64 of the index bytes "
    "(partition pruning on tb, plan-asserted in tests/test_text_index."
    "py). Gated on the full-rebuild SQL oracle over A ∪ B: a dropped "
    "batch, drifted counters, or a lossy compaction hash-mismatches. "
    "Build, append, compaction and attach run through the one generation "
    "store (operators/artifact_store.py) the ANN and NB stores use.",
    tags=("text", "retrieval", "incremental", "persisted", "compaction",
          "custom-operator", "extension"),
)
def text_bm25_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from map_reduce_ruby_spark.operators import (
        append_bm25_batch,
        bm25_index_exists,
        bm25_search,
        compact_bm25_index,
        write_bm25_index,
    )
    from map_reduce_ruby_spark.operators.artifact_store import (
        read_index_meta,
        vacuum_index,
    )
    from map_reduce_ruby_spark.operators.text_index import BM25_INDEX_VERSION
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_ab = docs.filter(F.col("doc_id") % 5 >= 1)
    if corpus_ab.isEmpty():
        return spark.createDataFrame([], "doc_id long, bm25 double, rk long")
    corpus_a = docs.filter(F.col("doc_id") % 5 >= 2)
    batch_b = docs.filter(F.col("doc_id") % 5 == 1)

    # content-fingerprinted cache, hit only on the fully-compacted end
    # state (the knn_ivf_compacted rule)
    tag = table_fingerprint(sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(), f"bm25_idx_v{BM25_INDEX_VERSION}_{tag}"
    )
    meta = read_index_meta(path)
    if not (
        bm25_index_exists(path)
        and meta
        and meta.get("batches") == 2
        and len(meta.get("ingests", [])) == 1
    ):
        write_bm25_index(spark, corpus_a, path)
        append_bm25_batch(spark, batch_b, path, batch_id="slice-1")
        compact_bm25_index(spark, path)
        # a REAL drain window, not grace=0: the index path is shared
        # across processes (content-addressed in tempdir), so a sibling
        # suite's search scan may still hold the retired generations —
        # deleting them immediately is the reader-kill the band-index
        # attach fix closed
        vacuum_index(path, grace_sec=3600.0)
    return bm25_search(
        spark, path, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B, top_k=_BM25_TOPK
    )


# --- Vocabulary coverage -----------------------------------------------------

_VOCAB_K = 20  # vocabulary size for the coverage report


@register(
    "vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT lang, t.term AS term
        FROM documents, UNNEST({_TOKENS_SQL}) AS t(term)
    ),
    vocab AS (
        SELECT term FROM (
            SELECT term, COUNT(*) AS n FROM tok GROUP BY term
        ) ORDER BY n DESC, term LIMIT {_VOCAB_K}
    ),
    per_lang AS (
        SELECT lang,
               COUNT(*) AS total_tokens,
               COUNT(*) FILTER (WHERE term IN (SELECT term FROM vocab))
                   AS covered_tokens
        FROM tok GROUP BY lang
    )
    SELECT lang, total_tokens, covered_tokens,
           ROUND(CAST(covered_tokens AS DOUBLE) / total_tokens, 6) AS coverage
    FROM per_lang
    """,
    doc="Vocabulary coverage: build a top-K global vocabulary (count desc, "
    "term asc tie-break — deterministic) and report, per language, what "
    "fraction of token occurrences the vocabulary covers — the standard "
    "check before freezing a tokenizer vocab on a multilingual corpus. "
    "Scale: token explode is narrow; the vocab is a K-row TakeOrdered "
    "result broadcast back, so the big side shuffles once (per-lang agg). "
    "No reference twin (no scalar/topk operators there, SURVEY.md:150-152).",
    tags=("text", "vocab", "pipeline", "extension"),
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(_tokens_spark(F.col("text"))).alias("term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    per_lang = (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.coalesce(F.col("in_vocab"), F.lit(0))).alias("covered_tokens"),
        )
    )
    return per_lang.select(
        "lang",
        "total_tokens",
        "covered_tokens",
        F.round(
            F.col("covered_tokens").cast("double") / F.col("total_tokens"), 6
        ).alias("coverage"),
    )


# --- N-gram diversity --------------------------------------------------------


@register(
    "ngram_diversity",
    oracle=f"""
    WITH tri AS (
        SELECT source, g.gram AS gram
        FROM (
            SELECT source,
                   list_transform(range(1, len({_TOKENS_SQL}) - 1),
                       i -> {_TOKENS_SQL}[i] || ' ' || {_TOKENS_SQL}[i+1]
                            || ' ' || {_TOKENS_SQL}[i+2]) AS grams
            FROM documents
            WHERE len({_TOKENS_SQL}) >= 3
        ), UNNEST(grams) AS g(gram)
    )
    SELECT source,
           COUNT(*) AS total_trigrams,
           COUNT(DISTINCT gram) AS distinct_trigrams,
           ROUND(CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*), 6)
               AS diversity
    FROM tri GROUP BY source
    """,
    doc="N-gram diversity per source: distinct/total trigram ratio — the "
    "cheap self-repetition signal used to demote template-generated or "
    "looping sources before training (low ratio = boilerplate). "
    "NON-distinct trigrams by construction (unlike the dedup shingles, "
    "which dedupe per doc): repetition inside a document must count. "
    "Scale: explode + one two-level aggregate; count(distinct) expands to "
    "Spark's standard partial-distinct two-stage plan on the (source, gram) "
    "shuffle key.",
    tags=("text", "quality", "extension"),
)
def ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # materialize toks as a column FIRST: element_at inside the transform
    # lambda would otherwise re-evaluate the split per access (no
    # common-subexpression elimination inside lambda bodies)
    toked = docs.select(
        "source", _tokens_spark(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 3)
    t = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(t, i + 1),
            F.element_at(t, i + 2),
            F.element_at(t, i + 3),
        ),
    )
    tri = toked.select("source", F.explode(grams).alias("gram"))
    counted = tri.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_trigrams"),
        F.countDistinct("gram").alias("distinct_trigrams"),
    )
    return counted.select(
        "source",
        "total_trigrams",
        "distinct_trigrams",
        F.round(
            F.col("distinct_trigrams").cast("double") / F.col("total_trigrams"), 6
        ).alias("diversity"),
    )


# --- BPE merge induction (frequency-factored) -------------------------------
#
# The first N merges of byte-pair-encoding tokenizer training, trained the
# way production tokenizer trainers train: over the WEIGHTED WORD-FREQUENCY
# TABLE, not the corpus. One corpus pass builds (word, w = occurrence
# count); every merge round then runs entirely on the distinct-word table —
# adjacent CHARACTER-pair counts weighted by w (sum(w) over distinct words
# == count over every corpus position, exactly), argmax pair, greedy
# left-to-right merge fold of each distinct word's symbol array. Per-round
# cost is O(|vocab| * word_len) — independent of corpus size — so merge
# count stops being a corpus-pass multiplier: 50k merges at 100 TB cost
# 50k passes over a few-million-row vocab table plus ONE corpus word-count,
# instead of 50k corpus scans. The learned pair feeds the fold through a
# 1-row broadcast cross join (no collect), and each round's table is
# localCheckpoint()ed (the connected-components lineage rule) so plan depth
# stays constant in merge count. The fold itself keeps BPE's greedy
# non-overlap rule: a merged symbol "p+q" can never re-match p. The
# reference has no tokenizer surface at all (user map code, SURVEY.md §2.2).

_BPE_STEPS = 10

# word -> its character-symbol array, identically on both engines
_BPE_CHARS_SPARK = "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
_BPE_CHARS_SQL = "list_transform(range(1, len(word) + 1), i -> word[i:i])"

# the weighted distinct-word table + its symbol arrays: the ONLY corpus
# pass in training (shared CTE prefix of both oracles)
_BPE_T0_SQL = f"""
    wf AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS w
        FROM (SELECT unnest({_TOKENS_SQL}) AS word FROM documents) u
        GROUP BY word
    ),
    t0 AS (SELECT word, w, {_BPE_CHARS_SQL} AS toks FROM wf)"""


def _bpe_pairs_sql(prev: str, s: int) -> str:
    return f"""
    pc{s} AS (
        SELECT {prev}.toks[i.i] AS p, {prev}.toks[i.i + 1] AS q,
               CAST(SUM({prev}.w) AS BIGINT) AS cnt
        FROM {prev}, UNNEST(range(1, len({prev}.toks))) AS i(i)
        GROUP BY 1, 2
    )"""


def _bpe_case_sql(p: str, q: str, len_fn: str) -> str:
    """The greedy-merge fold step: if the accumulated string ends with token
    ``p`` and the next token is ``q``, fuse them into 'p+q'; else append.
    ``p``/``q`` are SQL expressions (column refs in the plan, literals in
    unit tests)."""
    return f"""CASE WHEN (acc = {p} OR right(acc, {len_fn}({p}) + 1) = ' ' || {p})
                         AND t = {q}
                    THEN left(acc, {len_fn}(acc) - {len_fn}({p})) || {p} || '+' || {q}
                    ELSE acc || ' ' || t END"""


def _bpe_fold_sql(prev: str, s: int) -> str:
    # Greedy left-to-right merge of (tp.p, tp.q) over each distinct word's
    # symbol array: fold symbols into a space-joined string, replacing a
    # trailing p followed by q with "p+q". Weight w rides along untouched.
    body = _bpe_case_sql("tp.p", "tp.q", "len")
    return f"""
    t{s} AS (
        SELECT word, w,
               string_split(list_reduce(toks, (acc, t) -> {body}), ' ') AS toks
        FROM {prev}, top{s} tp
    )"""


def _bpe_sql() -> str:
    """The DuckDB oracle: the whole N-round trainer as one CTE chain over
    the word-frequency table (an independent engine needs no checkpointing —
    the chain is the spec)."""
    ctes = [_BPE_T0_SQL]
    for s in range(1, _BPE_STEPS + 1):
        ctes.append(_bpe_pairs_sql(f"t{s - 1}", s))
        ctes.append(
            f"""
    top{s} AS (SELECT p, q, cnt FROM pc{s} ORDER BY cnt DESC, p, q LIMIT 1)"""
        )
        if s < _BPE_STEPS:
            ctes.append(_bpe_fold_sql(f"t{s - 1}", s))
    unions = " UNION ALL ".join(
        f"SELECT {s} AS step, p, q, cnt FROM top{s}" for s in range(1, _BPE_STEPS + 1)
    )
    return f"""
    WITH {",".join(ctes)}
    SELECT CAST(step AS BIGINT) AS step, p, q, cnt FROM ({unions})
    """


def _bpe_fold_expr(p: str = "p", q: str = "q") -> str:
    """Spark SQL for one greedy BPE merge of (p, q) over array column
    ``toks``, split by case:

    - ``p <> q`` (the overwhelmingly common argmax for natural text): greedy
      non-overlap is FREE — a match at position i (toks[i]=p, toks[i+1]=q)
      can never overlap another match, because overlap would require
      toks[i]=q or toks[i+1]=p. So every match merges, expressible as a
      per-position transform + filter (3 string compares per token) instead
      of the sequential string-accumulator fold (which rebuilds the
      document string per token — measured 2.6s vs 1.1s per corpus pass at
      sf0.1).
    - ``p = q``: runs of the same token DO overlap ('b b b' merges only the
      first pair), so the sequential left-to-right aggregate() fold runs —
      correctness over speed on the rare case.
    """
    seq_body = _bpe_case_sql(p, q, "length")
    seq_fold = (
        f"split(aggregate(slice(toks, 2, size(toks) - 1), element_at(toks, 1),"
        f" (acc, t) -> {seq_body}), ' ')"
    )
    vec = (
        "filter(transform(sequence(1, size(toks)), i -> "
        f"CASE WHEN i < size(toks) AND element_at(toks, i) = {p}"
        f" AND element_at(toks, i + 1) = {q}"
        f" THEN concat({p}, '+', {q}) "
        f"WHEN i > 1 AND element_at(toks, i - 1) = {p}"
        f" AND element_at(toks, i) = {q} THEN NULL "
        "ELSE element_at(toks, i) END), x -> x IS NOT NULL)"
    )
    return f"CASE WHEN {p} = {q} THEN {seq_fold} ELSE {vec} END"


def _bpe_learn(
    spark: SparkSession,
    docs: DataFrame,
    steps: int = _BPE_STEPS,
    return_tokens: bool = False,
):
    """The Spark-side trainer: frequency-factored, one checkpointed round
    per merge step — over the word-frequency table, never the corpus.

    ONE corpus pass builds wf = (word, w) — the standard word-count shuffle.
    Per round after that: weighted pair-count shuffle over the distinct-word
    table -> K=1 TakeOrdered argmax (checkpointed 1-row artifact) -> greedy
    fold of each distinct word's symbol array via a higher-order fold, the
    learned pair arriving through a 1-row broadcast cross join ->
    localCheckpoint of the folded vocab table. sum(w) over distinct words
    equals count over every corpus position, so the learned merges are
    identical to corpus-pass training — at O(|vocab|) per round instead of
    O(corpus). Lineage never grows past one round, so plan depth is
    constant in merge count. Returns (step, p, q, cnt), one row per learned
    merge; with ``return_tokens=True`` the LAST merge is also applied and
    the result is ``(merges, vocab)`` where vocab is the fully-encoded
    (word, w, toks) table — the train->apply loop text_bpe_encode drives."""
    wf = (
        docs.select(F.explode(_tokens_spark(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # t0 is read by round 1's fused top job — checkpoint it lazily so the
    # corpus word-count runs once, like every later round's table
    t0 = truncate(
        wf.select("word", "w", F.expr(_BPE_CHARS_SPARK).alias("toks"))
    )
    t = t0
    # CASE guard: a doc can collapse to ONE token after a merge round, and
    # sequence(1, 0) is the DESCENDING [1, 0] — element_at(toks, 2)/(, 0)
    # would abort under ANSI mode.
    pair_idx = F.expr(
        "CASE WHEN size(toks) >= 2 THEN sequence(1, size(toks) - 1)"
        " ELSE CAST(array() AS array<int>) END"
    )
    fold = _bpe_fold_expr()
    tops: list[DataFrame] = []
    for s in range(1, steps + 1):
        pairs = (
            t.select("w", "toks", F.explode(pair_idx).alias("i"))
            .select(
                "w",
                F.expr("element_at(toks, i)").alias("p"),
                F.expr("element_at(toks, i + 1)").alias("q"),
            )
            .groupBy("p", "q")
            .agg(F.sum("w").alias("cnt"))
        )
        top = truncate(
            pairs.orderBy(F.desc("cnt"), F.asc("p"), F.asc("q"))
            .limit(1)
            .select(F.lit(s).cast("long").alias("step"), "p", "q", "cnt"),
            eager=True,  # 1-row artifact: consumed by the next
            # round's fold AND the final union — materialize once. This
            # EAGER truncation is also what materializes the previous
            # round's LAZY one: the fold and the pair count fuse into the
            # same job, so each round costs ONE pass over the previous
            # round's materialized table.
        )
        tops.append(top)
        if s < steps or return_tokens:
            t = truncate(
                t.crossJoin(F.broadcast(top.select("p", "q")))
                .select("word", "w", F.expr(fold).alias("toks"))
                # lazy: persists inside the next round's top job
                # (fold -> explode -> count in one pass)
            )
    out = tops[0]
    for more in tops[1:]:
        out = out.unionByName(more)
    # return_tokens: (merges, the fully-encoded vocab table) — encoding the
    # corpus is then a broadcast join against this few-row artifact
    return (out, t) if return_tokens else out


@register(
    "bpe_merge_steps",
    oracle=_bpe_sql(),
    doc=f"Tokenizer induction, frequency-factored: the first {_BPE_STEPS} "
    "character-level BPE merges learned over the WORD-FREQUENCY table "
    "(_bpe_learn) — the shape production tokenizer trainers use. ONE corpus "
    "pass builds (word, w); each round then runs on the distinct-word table "
    "only: adjacent symbol-pair counts weighted by w (sum(w) == the count "
    "over every corpus position, exactly) -> argmax pair (K=1 TakeOrdered, "
    "tie-broken cnt desc / p / q) -> greedy merge of each word's symbol "
    "array via a higher-order fold, the learned pair flowing in through a "
    "1-row broadcast cross join (no collect). Per-round cost is "
    "O(|vocab| * word_len), independent of corpus size — 50k merges at "
    "100 TB cost 50k vocab-table passes plus one corpus word-count, not "
    "50k corpus scans. Each round's vocab table is localCheckpoint()ed "
    "(the connected-components lineage rule) so plan depth is constant in "
    "merge count. A merged symbol 'p+q' can't re-match p, giving BPE's "
    "non-overlapping left-to-right semantics for free.",
    tags=("text", "tokenizer", "iterative", "extension"),
)
def bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_learn(spark, load_table(spark, sf_dir, "documents"))


def _bpe_encode_sql() -> str:
    """Oracle for the train->APPLY loop: the same factored CTE chain as
    _bpe_sql but folding on every round including the last, then the corpus
    re-encoded by joining its words against the encoded vocab table."""
    n = _BPE_STEPS
    ctes = [_BPE_T0_SQL]
    for s in range(1, n + 1):
        ctes.append(_bpe_pairs_sql(f"t{s - 1}", s))
        ctes.append(
            f"""
    top{s} AS (SELECT p, q, cnt FROM pc{s} ORDER BY cnt DESC, p, q LIMIT 1)"""
        )
        ctes.append(_bpe_fold_sql(f"t{s - 1}", s))
    return f"""
    WITH {",".join(ctes)},
    wt AS (
        SELECT word,
               CAST(length(word) AS BIGINT) AS n_before,
               CAST(len(toks) AS BIGINT) AS n_after
        FROM t{n}
    ),
    corpus AS (
        SELECT doc_id, source, unnest({_TOKENS_SQL}) AS word FROM documents
    ),
    per_doc AS (
        SELECT doc_id, source,
               SUM(wt.n_before) AS nb, SUM(wt.n_after) AS na
        FROM corpus JOIN wt USING (word)
        GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS tok_before,
           CAST(SUM(na) AS BIGINT) AS tok_after,
           ROUND(CAST(SUM(na) AS DOUBLE) / SUM(nb), 6) AS compression
    FROM per_doc
    GROUP BY source
    """


@register(
    "text_bpe_encode",
    oracle=_bpe_encode_sql(),
    doc=f"The tokenizer train->APPLY loop, frequency-factored: the "
    f"{_BPE_STEPS} merges learned by bpe_merge_steps are applied — but "
    "because training runs on the word-frequency table, each distinct word "
    "is encoded exactly ONCE (same per-round fold, including the final "
    "round) and the corpus is re-encoded by a broadcast join of its "
    "exploded words against the tiny encoded-vocab artifact: zero "
    "corpus-side exchange before the per-doc rollup. Output per source: "
    "docs, symbol counts before (characters) / after (BPE tokens), "
    "compression ratio. At 100 TB the corpus-side cost is one explode + "
    "broadcast-hash-join + two-level partial agg — no per-merge corpus "
    "work at all. The oracle re-derives training AND encoding as one "
    "factored CTE chain, so a hash match proves the applied merges equal "
    "the learned merges end-to-end.",
    tags=("text", "tokenizer", "iterative", "extension"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Session memo of the trained+encoded vocab artifact (checkpointed
    # frames stay valid for the session) — the production split:
    # bpe_merge_steps benchmarks TRAINING, this entry benchmarks encoding
    # the corpus with a trained tokenizer. Same memo rules as the IVF/PQ
    # indexes (keyed by applicationId, bounded LRU; checkpointed RDDs are
    # GC-managed so eviction needs no unpersist hook).
    key = (spark.sparkContext.applicationId, sf_dir)
    _, vocab = _BPE_ENCODE_MEMO.get_or_build(
        key, lambda: _bpe_learn(spark, docs, return_tokens=True)
    )
    # the encoded-vocab artifact: word -> (chars before, BPE tokens after)
    wt = vocab.select(
        "word",
        F.length("word").cast("long").alias("n_before"),
        F.size("toks").cast("long").alias("n_after"),
    )
    corpus = docs.select(
        "doc_id", "source", F.explode(_tokens_spark(F.col("text"))).alias("word")
    )
    per_doc = (
        corpus.join(F.broadcast(wt), "word")
        .groupBy("doc_id", "source")
        .agg(F.sum("n_before").alias("nb"), F.sum("n_after").alias("na"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nb").cast("long").alias("tok_before"),
        F.sum("na").cast("long").alias("tok_after"),
        F.round(F.sum("na").cast("double") / F.sum("nb"), 6).alias("compression"),
    )


_BPE_ENCODE_MEMO = LruMemo(capacity=8)


# --- Winnowing fingerprints (Schleimer et al., "Winnowing: Local
# Algorithms for Document Fingerprinting") --------------------------------

_WINNOW_W = 4  # window size over 3-gram hashes


@register(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(range(1, len(toks) - 1),
                   i -> {h32_sql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")})
                   AS g
        FROM tk
        WHERE len(toks) - 2 >= {_WINNOW_W}
    ),
    m AS (
        SELECT doc_id, len(g) AS n_grams,
               list_distinct(list_transform(range(1, len(g) - {_WINNOW_W} + 2),
                   j -> list_aggregate(g[j : j + {_WINNOW_W} - 1], 'min'))) AS fps
        FROM g
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fp,
           CAST(list_sum(fps) AS BIGINT) AS fp_sum
    FROM m
    """,
    doc=f"Winnowing document fingerprints (Schleimer et al.): positional "
    "3-gram h32 hashes, then the minimum of every sliding window of "
    f"{_WINNOW_W} gram hashes is selected and deduplicated — the classic "
    "guarantee that any match of length >= w+k-1 between two documents "
    "shares at least one selected fingerprint, at ~2/(w+1) the storage of "
    "full shingling. All narrow per-row array math (gram hashes projected "
    "to a COLUMN before the window lambda — the lambda-CSE rule on both "
    "engines); the checkable surface is per-doc fingerprint count + an "
    "order-invariant checksum (distinct-set SUM), since the two engines "
    "may order the distinct set differently.",
    tags=("text", "fingerprint", "dedup", "extension"),
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from map_reduce_ruby_spark.functions import h32

    toked = docs.select("doc_id", _tokens_spark(F.col("text")).alias("toks")).where(
        F.size("toks") - 2 >= _WINNOW_W
    )
    # gram hashes via the SHARED h32 helper (functions/hashes.py — the one
    # definition of the engine/oracle hash contract); toks is a projected
    # column, so element_at inside the lambda re-reads a materialized array
    # (CSE-safe)
    grams = toked.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: h32(
                F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                )
            ),
        ).alias("g"),
    )
    w = _WINNOW_W
    mins = grams.select(
        "doc_id",
        F.size("g").alias("n_grams"),
        F.expr(
            f"array_distinct(transform(sequence(1, size(g) - {w} + 1),"
            f" j -> array_min(slice(g, j, {w}))))"
        ).alias("fps"),
    )
    return mins.select(
        "doc_id",
        F.col("n_grams").cast("long"),
        F.size("fps").cast("long").alias("n_fp"),
        F.expr("aggregate(fps, CAST(0 AS BIGINT), (acc, x) -> acc + x)").alias(
            "fp_sum"
        ),
    )


# --- Approximate top-k terms (datasketches) ----------------------------------

_ATK_K = 10


@register(
    "approx_topk_terms",
    oracle=f"""
    WITH tok AS (
        SELECT t.term AS term
        FROM documents, UNNEST({_TOKENS_SQL}) AS t(term)
    ),
    cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
    top AS (SELECT c FROM cnt ORDER BY c DESC, term LIMIT {_ATK_K})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(SUM(c) AS BIGINT) AS topk_total,
           1 AS all_exact
    FROM top
    """,
    doc="Approximate frequent-items top-k (approx_top_k — the datasketches "
    "frequent-items sketch) over document tokens, completing the sketch "
    "family (HLL distinct, t-digest quantiles, count-min counts, Bloom "
    "membership): mergeable fixed-size state per partition instead of a "
    "full (term, count) shuffle — at 100 TB the vocabulary exceeds the "
    "tracked capacity and estimates carry a documented error bound. "
    "Checkable surface: at these SFs the vocab fits the sketch exactly, so "
    "every estimate is gated against the exact groupBy twin (all_exact "
    "flag), and the hashed columns are TIE-INVARIANT — entry count and the "
    "SUM of the top-k counts don't depend on which equal-count term the "
    "sketch picks at the k boundary, so both engines agree even where the "
    "tie-break is unspecified.",
    tags=("text", "sketch", "approx", "topk", "extension"),
)
def approx_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tokens_spark(F.col("text"))).alias("term"))
    sk = tok.agg(F.expr(f"approx_top_k(term, {_ATK_K})").alias("tk")).select(
        F.explode("tk").alias("e")
    )
    est = sk.select(F.col("e.item").alias("term"), F.col("e.count").alias("est"))
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    joined = est.join(F.broadcast(exact), "term", "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.sum("est").cast("long").alias("topk_total"),
        F.min(F.when(F.col("est") == F.col("c"), 1).otherwise(0)).alias("all_exact"),
    )


# --- Kneser-Ney trigram LM estimation ---------------------------------------

_KN_D = 0.75  # absolute discount at both interpolation levels
_KN_TOPN = 50


@register(
    "text_kneser_ney_trigram",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tok FROM documents),
    tri AS (
        SELECT tok[i] AS w1, tok[i+1] AS w2, tok[i+2] AS w3, COUNT(*) AS c3
        FROM toks, UNNEST(range(1, len(tok) - 1)) AS t(i)
        GROUP BY 1, 2, 3
    ),
    ctx AS (SELECT w1, w2, SUM(c3) AS c2, COUNT(*) AS t3 FROM tri GROUP BY w1, w2),
    cont AS (SELECT w2, w3, COUNT(*) AS n1b FROM tri GROUP BY w2, w3),
    mid AS (SELECT w2, SUM(n1b) AS nmid, COUNT(*) AS t2 FROM cont GROUP BY w2),
    uni AS (SELECT w3, COUNT(*) AS n1u FROM cont GROUP BY w3),
    tot AS (SELECT COUNT(*) AS t FROM cont),
    scored AS (
        SELECT tri.w1, tri.w2, tri.w3, tri.c3,
               GREATEST(CAST(tri.c3 AS DOUBLE) - {_KN_D}, 0.0) / ctx.c2
               + ({_KN_D} * ctx.t3 / ctx.c2)
                 * (GREATEST(CAST(cont.n1b AS DOUBLE) - {_KN_D}, 0.0) / mid.nmid
                    + ({_KN_D} * mid.t2 / mid.nmid)
                      * (CAST(uni.n1u AS DOUBLE) / tot.t)) AS p
        FROM tri
        JOIN ctx ON ctx.w1 = tri.w1 AND ctx.w2 = tri.w2
        JOIN cont ON cont.w2 = tri.w2 AND cont.w3 = tri.w3
        JOIN mid ON mid.w2 = tri.w2
        JOIN uni ON uni.w3 = tri.w3
        CROSS JOIN tot
    )
    SELECT w1, w2, w3, CAST(c3 AS BIGINT) AS c3, ROUND(p, 6) AS p_kn
    FROM scored
    ORDER BY c3 DESC, w1, w2, w3
    LIMIT {_KN_TOPN}
    """,
    doc="Interpolated Kneser-Ney trigram LM estimation (Chen & Goodman's "
    "formulation, absolute discount D=0.75 at both levels) — the real "
    "n-gram LM trainer shape, a level up from the bigram add-one model "
    "text_bigram_lm_score bands with. Every term is a COUNT from grouped "
    "trigram-TYPE tables: trigram tokens c3 and context totals c2/t3; "
    "continuation counts n1b = distinct left-extensions of each (w2,w3) "
    "(the KN signature: a bigram's probability mass comes from how many "
    "contexts it completes, not how often it occurs); middle totals "
    "nmid/t2; unigram continuation n1u over the bigram-type universe T. "
    "The probability is ONE float expression over those integers, written "
    "identically on both engines (exactly-rounded IEEE ops only, no "
    "transcendentals — unlike the log-prob pipelines, no grid snapping is "
    "needed for a hash match). Emits the top-50 trigrams by count with "
    "their smoothed probabilities. At 100 TB: count tables are "
    "uniform-keyed aggregations with map-side partials, the scoring joins "
    "are n-gram-key equi-joins, and the final top-k is TakeOrdered — no "
    "document-pair join, no global window, no driver loop.",
    tags=("text", "lm", "extension"),
)
def text_kneser_ney_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kn_trigram_scores(load_table(spark, sf_dir, "documents"))


def _trigram_occurrences(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2, w3) — one row per trigram TOKEN occurrence. Shared
    by the KN estimator (which groups it to types, pruning doc_id from the
    scan) and the perplexity filter (which keeps doc_id to score docs)."""
    toks = docs.select("doc_id", _tokens_spark(F.col("text")).alias("tok"))
    return toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tok") >= 3,
                F.expr(
                    "transform(sequence(1, size(tok) - 2),"
                    " i -> struct(element_at(tok, i) AS w1,"
                    "             element_at(tok, i + 1) AS w2,"
                    "             element_at(tok, i + 2) AS w3))"
                ),
            ).otherwise(
                F.expr(
                    "CAST(array() AS"
                    " array<struct<w1:string,w2:string,w3:string>>)"
                )
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2", "g.w3")


def kn_trigram_prob_table(tri: DataFrame, d_discount: float = _KN_D) -> DataFrame:
    """(w1, w2, w3, c3, p) — interpolated Kneser-Ney probability per
    trigram TYPE, from the trigram count table ``tri`` (w1, w2, w3, c3).
    ``p`` is the unrounded double; callers round at their own grid. Shared
    by kn_trigram_scores (top-k estimation) and text_kn_perplexity_filter
    (per-document scoring).

    The trigram-type table feeds three subtrees here (ctx, cont, the
    scoring join) and ``cont`` feeds four (mid, uni, tot, the join):
    without materialization every derivation re-runs the caller's full
    upstream plan — for the catalog entries that is the corpus scan +
    trigram explode + type aggregation, SEVEN parquet scans in the
    before-plan. Two LAZY truncations make the corpus explode happen
    once (every consumer fuses into the caller's one materializing job);
    every model table then derives from the (much smaller) type tables."""
    tri = truncate(tri)
    ctx = tri.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c2"), F.count(F.lit(1)).alias("t3")
    )
    cont = truncate(
        tri.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("n1b"))
    )
    mid = cont.groupBy("w2").agg(
        F.sum("n1b").alias("nmid"), F.count(F.lit(1)).alias("t2")
    )
    uni = cont.groupBy("w3").agg(F.count(F.lit(1)).alias("n1u"))
    tot = cont.agg(F.count(F.lit(1)).alias("t"))
    d = F.lit(float(d_discount))
    # the same expression tree as the oracle's — exactly-rounded IEEE
    # ops over integer counts, so the doubles are bit-identical
    p_uni = F.col("n1u").cast("double") / F.col("t")
    p_bi = (
        F.greatest(F.col("n1b").cast("double") - d, F.lit(0.0)) / F.col("nmid")
        + (d * F.col("t2") / F.col("nmid")) * p_uni
    )
    p_kn = (
        F.greatest(F.col("c3").cast("double") - d, F.lit(0.0)) / F.col("c2")
        + (d * F.col("t3") / F.col("c2")) * p_bi
    )
    return (
        tri.join(ctx, ["w1", "w2"])
        .join(cont, ["w2", "w3"])
        .join(mid, "w2")
        .join(uni, "w3")
        .crossJoin(F.broadcast(tot))  # 1-row scalar (bigram-type count)
        .select("w1", "w2", "w3", F.col("c3").cast("long").alias("c3"),
                p_kn.alias("p"))
    )


def kn_trigram_scores(
    docs: DataFrame, d_discount: float = _KN_D, top_n: int = _KN_TOPN
) -> DataFrame:
    """The KN estimator as a reusable operator over any (doc_id, text)
    frame, with the discount and top-k as parameters — the catalog entry
    pins (0.75, 50); the differential fuzzer drives random discounts and
    corpora against a from-scratch Python model (tests/
    test_differential_fuzz.py, tests/test_er_properties.py)."""
    tri = (
        _trigram_occurrences(docs)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    scored = kn_trigram_prob_table(tri, d_discount).select(
        "w1", "w2", "w3", "c3", F.round(F.col("p"), 6).alias("p_kn")
    )
    return scored.orderBy(
        F.desc("c3"), F.asc("w1"), F.asc("w2"), F.asc("w3")
    ).limit(int(top_n))


# --- Kneser-Ney document perplexity filter -----------------------------------

# Band cuts on the per-doc mean KN log-probability. The grid-snapped mean
# (round(lp*1e3) int64 sum, then /1e3/count rounded to 6dp) is an identical
# double on both engines, so the comparisons below are deterministic; the
# cuts land inside the observed cross-SF spread (sf0.001-0.1 medians range
# -3.04..-3.35) so every fixture yields at least two non-trivial bands.
_KNP_HEAD = -3.05
_KNP_MID = -3.35


@register(
    "text_kn_perplexity_filter",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS tok FROM documents),
    occ AS (
        SELECT doc_id, tok[i] AS w1, tok[i+1] AS w2, tok[i+2] AS w3
        FROM toks, UNNEST(range(1, len(tok) - 1)) AS t(i)
    ),
    tri AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM occ GROUP BY 1, 2, 3),
    ctx AS (SELECT w1, w2, SUM(c3) AS c2, COUNT(*) AS t3 FROM tri GROUP BY w1, w2),
    cont AS (SELECT w2, w3, COUNT(*) AS n1b FROM tri GROUP BY w2, w3),
    mid AS (SELECT w2, SUM(n1b) AS nmid, COUNT(*) AS t2 FROM cont GROUP BY w2),
    uni AS (SELECT w3, COUNT(*) AS n1u FROM cont GROUP BY w3),
    tot AS (SELECT COUNT(*) AS t FROM cont),
    ptab AS (
        SELECT tri.w1, tri.w2, tri.w3,
               GREATEST(CAST(tri.c3 AS DOUBLE) - {_KN_D}, 0.0) / ctx.c2
               + ({_KN_D} * ctx.t3 / ctx.c2)
                 * (GREATEST(CAST(cont.n1b AS DOUBLE) - {_KN_D}, 0.0) / mid.nmid
                    + ({_KN_D} * mid.t2 / mid.nmid)
                      * (CAST(uni.n1u AS DOUBLE) / tot.t)) AS p
        FROM tri
        JOIN ctx ON ctx.w1 = tri.w1 AND ctx.w2 = tri.w2
        JOIN cont ON cont.w2 = tri.w2 AND cont.w3 = tri.w3
        JOIN mid ON mid.w2 = tri.w2
        JOIN uni ON uni.w3 = tri.w3
        CROSS JOIN tot
    ),
    scored AS (
        SELECT o.doc_id, ln(p.p) AS lp
        FROM occ o
        JOIN ptab p ON o.w1 = p.w1 AND o.w2 = p.w2 AND o.w3 = p.w3
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_trigrams,
               ROUND(SUM(CAST(ROUND(lp * 1000) AS BIGINT)) / 1000.0
                     / COUNT(*), 6) AS avg_lp
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_trigrams, avg_lp,
           CASE WHEN avg_lp >= {_KNP_HEAD} THEN 'head'
                WHEN avg_lp >= {_KNP_MID} THEN 'middle'
                ELSE 'tail' END AS band
    FROM per_doc
    """,
    doc="CCNet's perplexity filter with the REAL n-gram LM: each document "
    "is scored by the mean interpolated Kneser-Ney trigram log-probability "
    "under the corpus-trained model (text_kneser_ney_trigram's estimator, "
    "shared via kn_trigram_prob_table) and bucketed head/middle/tail — the "
    "upgrade from text_bigram_lm_score's add-one bigram to the smoothing "
    "production pipelines actually use. Per-trigram logprobs sum in scaled "
    "int64 (round(lp*1e3) — the 1e3 grid keeps a last-ulp libm ln() "
    "divergence between engines from flipping a rounding boundary) so the "
    "per-doc mean is addition-order independent and hash-gateable. At "
    "100 TB: the model is grouped trigram-TYPE count tables (uniform-keyed "
    "aggregations with map-side partials), scoring is one equi-join of the "
    "corpus-sized occurrence stream against the type-sized probability "
    "table, and the per-doc mean is a doc_id groupBy — no document-pair "
    "join, no global window, no driver loop. Docs under 3 tokens have no "
    "trigrams and drop out, exactly as in the oracle.",
    tags=("text", "pipeline", "lm", "quality", "extension"),
)
def text_kn_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kn_perplexity_scores(load_table(spark, sf_dir, "documents"))


def kn_perplexity_scores(
    docs: DataFrame,
    d_discount: float = _KN_D,
    head_cut: float = _KNP_HEAD,
    mid_cut: float = _KNP_MID,
) -> DataFrame:
    """The perplexity filter as a reusable operator over any (doc_id,
    text) frame, with the discount and band cuts as parameters — the
    catalog entry pins (0.75, -3.05, -3.35); the differential fuzzer
    drives random values against the from-scratch Python scorer
    (tests/test_differential_fuzz.py _gen_knp_arm)."""
    occ = _trigram_occurrences(docs)
    tri = occ.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    ptab = kn_trigram_prob_table(tri, d_discount).select("w1", "w2", "w3", "p")
    scored = occ.join(ptab, ["w1", "w2", "w3"]).select(
        "doc_id", F.log("p").alias("lp")
    )
    avg_lp = F.round(
        F.sum(F.round(F.col("lp") * 1000).cast("long")) / F.lit(1000.0)
        / F.count(F.lit(1)),
        6,
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_trigrams"), avg_lp.alias("avg_lp"))
        .withColumn(
            "band",
            F.when(F.col("avg_lp") >= F.lit(float(head_cut)), "head")
            .when(F.col("avg_lp") >= F.lit(float(mid_cut)), "middle")
            .otherwise("tail"),
        )
    )


@register(
    "text_bpe_persisted",
    oracle=_bpe_encode_sql(),
    doc="The DURABLE form of text_bpe_encode: the trained tokenizer — "
    "learned merge list + fully-encoded word vocabulary — is persisted as "
    "a versioned parquet artifact (operators/tokenizer_store.py, built "
    "and attached through the one generation store the ANN/BM25/NB "
    "stores use — operators/artifact_store.py) and the "
    "corpus is encoded FROM STORAGE: a restarted session broadcasts the "
    "stored vocab against the exploded corpus with zero training jobs "
    "(mtimes pinned in tests). BPE deliberately has NO append path — "
    "merges are a global frequency argmax, so new data means retrain; the "
    "artifact is write-once/reload-many, which is how production "
    "tokenizers version too. Gated on the SAME train+encode full-rebuild "
    "oracle as text_bpe_encode, so stored == derived holds for the "
    "tokenizer exactly as it does for every other persisted artifact.",
    tags=("text", "tokenizer", "persisted", "extension"),
)
def text_bpe_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from map_reduce_ruby_spark.operators.tokenizer_store import (
        BPE_TOKENIZER_VERSION,
        bpe_tokenizer_exists,
        load_bpe_tokenizer,
        write_bpe_tokenizer,
    )
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    tag = table_fingerprint(sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(), f"bpe_tok_v{BPE_TOKENIZER_VERSION}_{tag}"
    )
    if not bpe_tokenizer_exists(path, _BPE_STEPS):
        merges, vocab = _bpe_learn(spark, docs, return_tokens=True)
        write_bpe_tokenizer(merges, vocab, path, steps=_BPE_STEPS)
    _, vocab = load_bpe_tokenizer(spark, path, steps=_BPE_STEPS)
    wt = vocab.select(
        "word",
        F.length("word").cast("long").alias("n_before"),
        F.size("toks").cast("long").alias("n_after"),
    )
    corpus = docs.select(
        "doc_id", "source", F.explode(_tokens_spark(F.col("text"))).alias("word")
    )
    per_doc = (
        corpus.join(F.broadcast(wt), "word")
        .groupBy("doc_id", "source")
        .agg(F.sum("n_before").alias("nb"), F.sum("n_after").alias("na"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nb").cast("long").alias("tok_before"),
        F.sum("na").cast("long").alias("tok_after"),
        F.round(F.sum("na").cast("double") / F.sum("nb"), 6).alias("compression"),
    )
