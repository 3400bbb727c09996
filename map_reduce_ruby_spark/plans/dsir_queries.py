"""Data selection for language-model pretraining: DSIR importance
resampling and a hashed-ngram Naive-Bayes classifier.

Two published, closed-form data-selection methods over the documents
table, both built on ONE shared feature extractor (hashed unigram+bigram
bag-of-ngrams — the DSIR paper's feature space):

* DSIR (Xie et al., "Data Selection for Language Models via Importance
  Resampling", NeurIPS 2023): fit two smoothed bucket distributions — the
  TARGET slice (here: lang='en', the in-domain proxy) and the RAW corpus —
  and weight every document by its log importance ratio
  sum_grams ln(p_target[bucket]/p_raw[bucket]). Selection is Gumbel
  top-k over the log-weights, which samples WITHOUT replacement
  proportionally to the importance weights; the Gumbel noise is derived
  deterministically from h32(doc_id) so both engines draw the same
  sample.
* Naive Bayes over the same hashed features is the closed-form analog of
  the fastText-style quality/language classifier used to filter GPT-3 /
  LLaMA pretraining data: per-class bucket log-likelihoods + log-prior,
  argmax over classes. Here it is self-trained on the corpus's lang
  labels and evaluated in-corpus (per-doc prediction + the confusion
  matrix a pipeline would monitor).

Cross-engine float determinism follows the catalog's LM convention
(text_bigram_lm_score, text_kneser_ney_trigram): every per-gram
log-probability is snapped to a scaled-int64 1e-3 grid BEFORE summing, so
document scores are exact integer sums — addition-order independent and
hash-gateable — and the 1e3 grid keeps a last-ulp libm ln() divergence
between engines ~1000x away from any rounding boundary.

Scale shape (the part that must survive 100 TB): one explode of the
corpus into hashed gram instances, ONE shuffle to (doc_id, bucket)
counts, then every model table is tiny — the bucket distributions are
<= _BUCKETS rows, the NB grid is n_classes * _BUCKETS rows — and every
scoring join is a broadcast hash join against those tables followed by a
partial-aggregated per-document sum. Selection is TakeOrdered (per
-partition top-k, then a k-row merge on the driver), never a global
single-partition window. No step is ever document x document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_ruby_spark.functions import h32, h32_sql
from map_reduce_ruby_spark.plans.catalog import register
from map_reduce_ruby_spark.plans.memo import LruMemo
from map_reduce_ruby_spark.sources import load_table

# Feature-space size. 256 hash buckets keeps the model tables broadcast-
# trivial while leaving the synthetic vocabulary (~60 words -> ~3.6k
# distinct grams) enough spread that bucket collisions don't flatten the
# distributions. The DSIR paper uses 10k buckets at web scale — the knob
# is free to raise; nothing below depends on its magnitude.
_BUCKETS = 256

# DSIR's in-domain target slice: English documents stand in for "the
# distribution we want more of" (the paper's target corpus).
_TARGET_LANG = "en"

# Selected fraction for the resampling entry: top ceil(n/5) by
# Gumbel-perturbed log-weight (integer arithmetic both engines).
_SELECT_DENOM = 5

_TOKENS_SQL = "list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')"

# The oracle's twin of _doc_gram_buckets: unigrams ++ space-joined
# bigrams, h32-hashed into _BUCKETS buckets, counted per (doc, bucket).
_DB_SQL = f"""
    toks AS (
        SELECT doc_id, lang, {_TOKENS_SQL} AS tok FROM documents
    ),
    grams AS (
        SELECT doc_id, lang, g
        FROM toks, UNNEST(list_concat(tok,
             CASE WHEN len(tok) >= 2
                  THEN list_transform(range(1, len(tok)),
                                      i -> tok[i] || ' ' || tok[i + 1])
                  ELSE CAST([] AS VARCHAR[]) END)) AS t(g)
    ),
    db AS (
        SELECT doc_id, lang, ({h32_sql('g')}) % {_BUCKETS} AS b,
               COUNT(*) AS cnt
        FROM grams GROUP BY 1, 2, 3
    )
"""

# Bucket log-ratio table (DSIR's importance model), Laplace-smoothed on
# both margins, snapped to the 1e-3 int grid per bucket.
_LAM_SQL = f"""
    ct AS (
        SELECT b, SUM(cnt) AS c_t FROM db
        WHERE lang = '{_TARGET_LANG}' GROUP BY b
    ),
    cr AS (
        SELECT b, SUM(cnt) AS c_r FROM db GROUP BY b
    ),
    tot AS (
        SELECT SUM(CASE WHEN lang = '{_TARGET_LANG}' THEN cnt ELSE 0 END) AS n_t,
               SUM(cnt) AS n_r
        FROM db
    ),
    lam AS (
        SELECT cr.b,
               CAST(ROUND((ln((COALESCE(ct.c_t, 0) + 1.0) / (tot.n_t + {_BUCKETS}))
                         - ln((cr.c_r + 1.0) / (tot.n_r + {_BUCKETS}))) * 1000)
                    AS BIGINT) AS lam_milli
        FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN tot
    ),
    weights AS (
        SELECT db.doc_id,
               MIN(db.lang) AS lang,
               CAST(SUM(db.cnt) AS BIGINT) AS n_grams,
               CAST(SUM(db.cnt * lam.lam_milli) AS BIGINT) AS weight_milli
        FROM db JOIN lam ON db.b = lam.b
        GROUP BY db.doc_id
    )
"""

# Session memo of the (doc_id, lang, bucket, cnt) feature table — one
# cached copy shared by all four entries in this module (same memo rules
# as the IVF/PQ/SNM memos: keyed by applicationId+sf_dir, bounded LRU,
# unpersist on eviction).
_DSIR_DB_MEMO = LruMemo(capacity=8, unpersist=lambda df: df.unpersist())


def _doc_gram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, b, cnt): hashed unigram+bigram bucket counts."""
    key = (spark.sparkContext.applicationId, sf_dir)
    return _DSIR_DB_MEMO.get_or_build(
        key, lambda: gram_buckets_for(load_table(spark, sf_dir, "documents")).cache()
    )


def gram_buckets_for(docs: DataFrame) -> DataFrame:
    """Hashed unigram+bigram bucket counts (doc_id, lang, b, cnt) for any
    (doc_id, lang, text) frame — the docs-frame-level API the property
    tests drive with randomized corpora."""
    tok = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    toks = docs.select("doc_id", "lang", tok.alias("tok"))
    grams = F.concat(
        F.col("tok"),
        F.when(
            F.size("tok") >= 2,
            F.expr(
                "transform(sequence(1, size(tok) - 1),"
                " i -> concat(element_at(tok, i), ' ', element_at(tok, i + 1)))"
            ),
        ).otherwise(F.expr("CAST(array() AS array<string>)")),
    )
    g = toks.select("doc_id", "lang", F.explode(grams).alias("g"))
    return (
        g.select("doc_id", "lang", (h32(F.col("g")) % F.lit(_BUCKETS)).alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_grams, weight_milli): DSIR log importance weights
    as exact scaled-int64 sums."""
    return dsir_weights_for(_doc_gram_buckets(spark, sf_dir))


def dsir_weights_for(db: DataFrame) -> DataFrame:
    """DSIR weights over a (doc_id, lang, b, cnt) feature frame.

    Both bucket margins come out of ONE aggregation pass (c_t is the
    target-slice conditional sum — the same integers the separate
    filtered groupBy produced), and the corpus totals n_t/n_r are exact
    re-sums of the <=256-row margin table rather than a third full pass
    over the feature frame."""
    cm = db.groupBy("b").agg(
        F.sum("cnt").alias("c_r"),
        F.sum(
            F.when(F.col("lang") == _TARGET_LANG, F.col("cnt"))
        ).alias("c_t"),
    )
    tot = cm.agg(
        F.coalesce(F.sum("c_t"), F.lit(0)).alias("n_t"),
        F.sum("c_r").alias("n_r"),
    )
    lam = (
        cm.crossJoin(F.broadcast(tot))  # 1-row scalar (corpus gram totals)
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1.0))
                        / (F.col("n_t") + F.lit(float(_BUCKETS)))
                    )
                    - F.log(
                        (F.col("c_r") + F.lit(1.0))
                        / (F.col("n_r") + F.lit(float(_BUCKETS)))
                    )
                )
                * 1000
            )
            .cast("long")
            .alias("lam_milli"),
        )
    )
    return (
        db.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.sum("cnt").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("lam_milli")).alias("weight_milli"),
        )
    )


@register(
    "corpus_dsir_weights",
    oracle=f"""
    WITH {_DB_SQL}, {_LAM_SQL}
    SELECT doc_id, lang, n_grams, weight_milli,
           ROUND(weight_milli / 1000.0, 6) AS weight
    FROM weights
    """,
    doc="DSIR importance weights (Xie et al., NeurIPS 2023): hashed "
    "unigram+bigram bucket distributions for the target slice (lang='en') "
    "vs the raw corpus, Laplace-smoothed; each document's log importance "
    "weight is the exact int64 sum of its grams' 1e-3-grid log-ratios. "
    "One corpus explode + one (doc,bucket) shuffle; the importance model "
    "is a <=256-row broadcast — the scoring pass is a broadcast hash join "
    "plus partial-aggregated per-doc sum, never doc x doc.",
    tags=("pipeline", "dsir", "quality", "extension"),
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _dsir_weights(spark, sf_dir)
    return w.select(
        "doc_id",
        "lang",
        "n_grams",
        "weight_milli",
        F.round(F.col("weight_milli") / F.lit(1000.0), 6).alias("weight"),
    )


@register(
    "corpus_dsir_select",
    oracle=f"""
    WITH {_DB_SQL}, {_LAM_SQL},
    scored AS (
        SELECT doc_id, lang, weight_milli,
               weight_milli + CAST(ROUND(-ln(-ln(
                   (({h32_sql("CAST(doc_id AS VARCHAR)", seed="dsir")})
                    + 0.5) / 4294967296.0)) * 1000) AS BIGINT) AS skey_milli
        FROM weights
    )
    SELECT doc_id, lang, weight_milli, skey_milli
    FROM scored
    QUALIFY ROW_NUMBER() OVER (ORDER BY skey_milli DESC, doc_id)
            <= (COUNT(*) OVER () + {_SELECT_DENOM - 1}) // {_SELECT_DENOM}
    """,
    doc="DSIR resampling step: Gumbel top-k over the log importance "
    "weights — equivalent to sampling ceil(n/5) documents WITHOUT "
    "replacement proportionally to their importance weights (the "
    "Gumbel-max trick). The Gumbel draw is deterministic-portable: "
    "u = (h32('dsir:'||doc_id)+0.5)/2^32, g = -ln(-ln(u)), snapped to "
    "the same 1e-3 int grid as the weights so selection compares exact "
    "integers. Spark plans TakeOrdered (per-partition top-k + k-row "
    "driver merge), NOT a single-partition global window; k is computed "
    "at build time from a count of the distinct doc_ids in the "
    "session-cached feature table, integer arithmetic on both engines.",
    tags=("pipeline", "dsir", "sampling", "extension"),
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _dsir_weights(spark, sf_dir)
    u = (
        h32(F.col("doc_id").cast("string"), seed="dsir") + F.lit(0.5)
    ) / F.lit(4294967296.0)
    scored = w.select(
        "doc_id",
        "lang",
        "weight_milli",
        (
            F.col("weight_milli")
            + F.round(-F.log(-F.log(u)) * 1000).cast("long")
        ).alias("skey_milli"),
    )
    # k counts the docs the WEIGHTS frame contains — docs with >= 1 token
    # (a whitespace-only text yields no grams and no weight row, and the
    # oracle's COUNT(*) OVER () runs over its weights CTE). Every tokened
    # doc has >= 1 unigram and therefore >= 1 row in the cached feature
    # table, so count distinct doc_ids there instead of re-tokenizing the
    # full corpus text (the feature table is narrow and session-cached;
    # the text scan is the widest column in the schema).
    n = (
        _doc_gram_buckets(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .count()
    )
    k = (n + _SELECT_DENOM - 1) // _SELECT_DENOM
    return scored.orderBy(F.desc("skey_milli"), "doc_id").limit(k)


def _nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, pred, best_milli): per-document argmax class of the
    hashed-ngram Naive Bayes model, exact int64 scores."""
    return nb_scores_for(_doc_gram_buckets(spark, sf_dir))


def nb_scores_for(db: DataFrame) -> DataFrame:
    """Naive Bayes argmax over a (doc_id, lang, b, cnt) feature frame —
    the SELF-TRAINED form (model statistics derived from the same frame
    being scored)."""
    cb = db.groupBy(F.col("lang").alias("cls"), "b").agg(F.sum("cnt").alias("c_cb"))
    nd_c = db.select("doc_id", "lang").distinct().groupBy(
        F.col("lang").alias("cls")
    ).agg(F.count(F.lit(1)).alias("nd_c"))
    return nb_scores_from_model(db, cb, nd_c)


def nb_scores_from_model(
    db: DataFrame, cb: DataFrame, nd_c: DataFrame
) -> DataFrame:
    """Naive Bayes argmax of probe frame ``db`` (doc_id, lang, b, cnt)
    under a MODEL given as its sufficient statistics: class-bucket gram
    counts ``cb`` (cls, b, c_cb — may span persisted generations with
    duplicate (cls, b) rows; summed here, which is what lets the durable
    store append without rewriting) and per-class document counts
    ``nd_c`` (cls, nd_c). Probe buckets the model never saw score at the
    Laplace floor; probe docs score against the model's class set."""
    cb = cb.groupBy("cls", "b").agg(F.sum("c_cb").alias("c_cb"))
    ctot = cb.groupBy("cls").agg(F.sum("c_cb").alias("n_c"))
    nd = nd_c.agg(F.sum("nd_c").alias("nd"))
    prior = nd_c.crossJoin(F.broadcast(nd)).select(  # 1-row scalar (doc total)
        "cls",
        F.round(F.log(F.col("nd_c") / F.col("nd")) * 1000).cast("long").alias(
            "prior_milli"
        ),
    )
    # Full class x bucket grid WITHOUT a cartesian plan: the class lists
    # are bounded driver-side collects (|langs| rows — the same
    # bounded-dims pattern as the ANN centroid collects), exploded over
    # the <=256-row bucket table; absent (class, bucket) pairs get the
    # Laplace floor. Only classes present in BOTH the gram model and the
    # doc-count table score (the prior join was inner already).
    cls_rows = (
        ctot.select(F.lit(0).alias("src"), "cls")
        .unionAll(nd_c.select(F.lit(1).alias("src"), "cls"))
        .collect()
    )  # one driver job for both bounded class lists
    model_classes = {r["cls"] for r in cls_rows if r["src"] == 0}
    prior_classes = {r["cls"] for r in cls_rows if r["src"] == 1}
    classes = sorted(model_classes & prior_classes)
    if not classes:
        return db.select("doc_id", "lang").filter(F.lit(False)).select(
            "doc_id",
            "lang",
            F.lit(None).cast("string").alias("pred"),
            F.lit(None).cast("long").alias("best_milli"),
        )
    buckets = db.select("b").distinct()
    grid = buckets.select(
        "b", F.explode(F.array(*[F.lit(c) for c in classes])).alias("cls")
    )
    llm = (
        grid.join(cb, ["cls", "b"], "left")
        .join(ctot, "cls")
        .select(
            "cls",
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("c_cb"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n_c") + F.lit(float(_BUCKETS)))
                )
                * 1000
            )
            .cast("long")
            .alias("llm_milli"),
        )
    )
    # Pivot the tiny model tables to ONE row per bucket (and one 1-row
    # prior frame) so scoring pays a single broadcast join that does NOT
    # multiply the (doc, bucket) table by n_classes, one hash aggregation
    # with per-class sum columns, and a codegen'd argmax expression —
    # instead of an n_docs x n_classes shuffle followed by a second
    # exchange + full sort for max(struct) (SortAggregate: struct agg
    # buffers are not hash-aggregable). Scores stay exact int64 sums of
    # the same llm_milli/prior_milli values, so results are bit-identical.
    llm_wide = llm.groupBy("b").agg(
        *[
            F.max(F.when(F.col("cls") == c, F.col("llm_milli"))).alias(f"__llm_{i}")
            for i, c in enumerate(classes)
        ]
    )
    prior_wide = prior.agg(
        *[
            F.max(F.when(F.col("cls") == c, F.col("prior_milli"))).alias(f"__pri_{i}")
            for i, c in enumerate(classes)
        ]
    )
    sums = (
        db.join(F.broadcast(llm_wide), "b")
        .groupBy("doc_id", "lang")
        .agg(
            *[
                F.sum(F.col("cnt") * F.col(f"__llm_{i}")).alias(f"__s_{i}")
                for i in range(len(classes))
            ]
        )
    )
    # Exact-integer argmax; ties (possible only on identical int scores)
    # break to the lexicographically LAST class name on both engines
    # (struct ordering: score first, then class name).
    best = sums.crossJoin(F.broadcast(prior_wide)).select(
        "doc_id",
        "lang",
        F.array_max(
            F.array(
                *[
                    F.struct(
                        (F.col(f"__s_{i}") + F.col(f"__pri_{i}")).alias("score_milli"),
                        F.lit(c).alias("cls"),
                    )
                    for i, c in enumerate(classes)
                ]
            )
        ).alias("m"),
    )
    return best.select(
        "doc_id", "lang", F.col("m.cls").alias("pred"), F.col("m.score_milli").alias("best_milli")
    )


def _nb_best_sql(train: str, probe: str) -> str:
    """CTE chain (cb/ctot/prior/grid/llm/nb_best) of the NB model trained
    on relation ``train`` and argmax-scored over relation ``probe`` — the
    ONE definition behind the self-trained oracle (train = probe = db) and
    the persisted/streamed A-union-B oracle, so a smoothing or tie-break
    change can never fork the two."""
    return f"""
    cb AS (
        SELECT lang AS cls, b, SUM(cnt) AS c_cb FROM {train} GROUP BY 1, 2
    ),
    ctot AS (
        SELECT cls, SUM(c_cb) AS n_c FROM cb GROUP BY cls
    ),
    prior AS (
        SELECT lang AS cls,
               CAST(ROUND(ln(COUNT(DISTINCT doc_id)
                             / (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
                                FROM {train})) * 1000) AS BIGINT) AS prior_milli
        FROM {train} GROUP BY lang
    ),
    grid AS (
        SELECT b, cls FROM (SELECT DISTINCT b FROM {probe})
        CROSS JOIN (SELECT DISTINCT cls FROM ctot)
    ),
    llm AS (
        SELECT grid.cls, grid.b,
               CAST(ROUND(ln((COALESCE(cb.c_cb, 0) + 1.0)
                             / (ctot.n_c + {_BUCKETS})) * 1000)
                    AS BIGINT) AS llm_milli
        FROM grid
        LEFT JOIN cb ON grid.cls = cb.cls AND grid.b = cb.b
        JOIN ctot ON grid.cls = ctot.cls
    ),
    nb_best AS (
        SELECT doc_id, lang, cls AS pred, score_milli AS best_milli
        FROM (
            SELECT p.doc_id, p.lang, llm.cls,
                   CAST(SUM(p.cnt * llm.llm_milli) + MIN(prior.prior_milli)
                        AS BIGINT) AS score_milli
            FROM {probe} p
            JOIN llm ON p.b = llm.b
            JOIN prior ON llm.cls = prior.cls
            GROUP BY p.doc_id, p.lang, llm.cls
        )
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score_milli DESC, cls DESC) = 1
    )
"""


_NB_SQL = _nb_best_sql("db", "db")


@register(
    "text_nb_langid",
    oracle=f"""
    WITH {_DB_SQL}, {_NB_SQL}
    SELECT doc_id, lang, pred, best_milli,
           CASE WHEN pred = lang THEN 1 ELSE 0 END AS ok
    FROM nb_best
    """,
    doc="Hashed-ngram Naive Bayes language classifier — the closed-form "
    "analog of the fastText-style filter used on GPT-3/LLaMA pretraining "
    "data: per-class Laplace bucket log-likelihoods + log-prior, exact "
    "int64 argmax per document (1e-3 grid, ties to the last class name). "
    "Model tables are n_classes x 256 rows broadcast; scoring multiplies "
    "the (doc,bucket) table by n_classes through a broadcast join with "
    "partial aggregation — linear in corpus size at any class count.",
    tags=("text", "quality", "classifier", "extension"),
)
def text_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    best = _nb_scores(spark, sf_dir)
    return best.select(
        "doc_id",
        "lang",
        "pred",
        "best_milli",
        F.when(F.col("pred") == F.col("lang"), 1).otherwise(0).alias("ok"),
    )


# Train on slices A u B (doc_id % 5 >= 1), classify the probe slice
# (doc_id % 5 = 0) from scratch — the oracle for EVERY maintained form of
# the durable NB model (single-append text_nb_persisted AND micro-batched
# streaming_nb_ingest): additivity means any ingest decomposition must
# reproduce this exact model.
NB_AB_PROBE_ORACLE = f"""
    WITH {_DB_SQL},
    train AS (SELECT * FROM db WHERE doc_id % 5 >= 1),
    probe AS (SELECT * FROM db WHERE doc_id % 5 = 0),
    {_nb_best_sql("train", "probe")}
    SELECT doc_id, lang, pred, best_milli,
           CASE WHEN pred = lang THEN 1 ELSE 0 END AS ok
    FROM nb_best
"""


@register(
    "text_nb_persisted",
    oracle=NB_AB_PROBE_ORACLE,
    doc="DURABLE Naive Bayes classifier (operators/nb_store.py) — the "
    "persisted-artifact lifecycle applied to the data-selection family: "
    "train the class-bucket count tables on corpus slice A, APPEND slice "
    "B's counts as a new generation (every NB statistic is additive, so "
    "the maintained model is bit-identical to a full retrain — stronger "
    "than IVF, whose centroids freeze at batch-1), compact, vacuum, then "
    "classify the probe slice from STORAGE with zero training jobs. The "
    "oracle retrains from scratch over A union B and must hash-match: a "
    "dropped batch, a stats drift, or a lossy compaction all fail the "
    "gate. Classification cost is probe-batch-sized — the counts tables "
    "broadcast; the training corpus is never re-read.",
    tags=("text", "quality", "classifier", "persisted", "incremental",
          "extension"),
)
def text_nb_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from map_reduce_ruby_spark.operators.artifact_store import (
        read_index_meta,
        vacuum_index,
    )
    from map_reduce_ruby_spark.operators.nb_store import (
        NB_MODEL_VERSION,
        append_nb_batch,
        compact_nb_model,
        load_nb_model,
        nb_model_exists,
        write_nb_model,
    )
    from map_reduce_ruby_spark.sources.tables import table_fingerprint

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    train_a = docs.filter(F.col("doc_id") % 5 >= 2)
    batch_b = docs.filter(F.col("doc_id") % 5 == 1)
    probe = docs.filter(F.col("doc_id") % 5 == 0)

    # content-fingerprinted cache, hit only on the fully-compacted end
    # state (the text_bm25_persisted rule)
    tag = table_fingerprint(sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(), f"nb_model_v{NB_MODEL_VERSION}_{tag}"
    )
    meta = read_index_meta(path)
    if not (
        nb_model_exists(path, _BUCKETS)
        and meta
        and meta.get("batches") == 2
        and len(meta.get("ingests", [])) == 1
    ):
        write_nb_model(spark, train_a, path, _BUCKETS)
        append_nb_batch(spark, batch_b, path, batch_id="slice-1")
        compact_nb_model(spark, path)
        # a REAL drain window, not grace=0: the model path is shared
        # across processes (content-addressed in tempdir), so a sibling
        # suite's classification scan may still hold the retired
        # generations — deleting them immediately is the reader-kill the
        # band-index attach fix closed. Retired count files are KBs; they
        # wait out the hour.
        vacuum_index(path, grace_sec=3600.0)
    counts, class_docs, _meta = load_nb_model(spark, path)
    best = nb_scores_from_model(gram_buckets_for(probe), counts, class_docs)
    return best.select(
        "doc_id",
        "lang",
        "pred",
        "best_milli",
        F.when(F.col("pred") == F.col("lang"), 1).otherwise(0).alias("ok"),
    )


@register(
    "text_nb_confusion",
    oracle=f"""
    WITH {_DB_SQL}, {_NB_SQL}
    SELECT lang, pred, COUNT(*) AS n_docs
    FROM nb_best GROUP BY lang, pred
    """,
    doc="Confusion matrix of the Naive Bayes language classifier — the "
    "n_classes^2-row monitoring view a filtering pipeline alerts on. "
    "Same scoring plan as text_nb_langid (shared cached feature table) "
    "plus one tiny aggregation.",
    tags=("text", "quality", "classifier", "extension"),
)
def text_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    best = _nb_scores(spark, sf_dir)
    return best.groupBy("lang", "pred").agg(F.count(F.lit(1)).alias("n_docs"))
