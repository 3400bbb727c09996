"""Catalog-wide physical-plan audit: no query may plan a quadratic join.

A CartesianProduct or BroadcastNestedLoopJoin anywhere in the catalog is a
100 TB outage hiding behind a passing correctness check — this test fails the
build instead. Runs plan compilation only (no execution) at sf0.001. The
same pass counts the Spark jobs each entry's build runs.
"""

from __future__ import annotations

import pytest

from map_reduce_ruby_spark.plans import all_entries
from map_reduce_ruby_spark.sources import TABLES, load_table

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")

# Entries whose fn EXECUTES work while building (stream drains, index
# builds, checkpointed iterations): their returned frame's executedPlan IS
# audited below like everyone else's — this set only exempts them from the
# "plan compilation only" expectation, so a future slow entry is a conscious
# decision. (Build-time work they run internally is each audited by its own
# operator test: plan-shape assertions in tests/test_dedup_index.py,
# tests/test_bucketing.py, tests/test_ivf.py, tests/test_streaming*.py.)
EXECUTING_ENTRIES = {
    "streaming_tumbling_window",
    "streaming_stateful_totals",
    "streaming_dedup_events",
    "streaming_stream_stream_join",
    "streaming_session_windows",
    "streaming_mv_refresh",
    "streaming_enrich_join",  # drains the stream to a memory sink
    "streaming_cms_counters",  # drains the stream to a memory sink
    "streaming_index_ingest",  # drains the stream, appending index bands
    "streaming_chunk_wordcount",  # writes chunk files + drains the stream
    "streaming_dedup_probe",  # drains the stream, probing per micro-batch
    "dedup_persisted_index",  # writes the bucketed band index at build time
    "knn_ivf",
    "knn_ivf_pq",  # builds + joins the two component indexes at build time
    "knn_ivf_persisted",  # writes the durable IVF index at build time
    "knn_ivf_pq_persisted",  # writes/loads BOTH durable artifacts at build time
    "dedup_clusters_cc",
    "dedup_clusters_cc_star",
    "dedup_cleaned_corpus",
    "corpus_budget_cut",
    "corpus_materialize",
    "sequence_pack_shards",  # prefix_sum collects bucket totals at build time
    "er_sorted_neighborhood",  # prefix_sum rank scans collect bucket totals
    "dedup_sorted_neighborhood",  # same prefix_sum rank scans, one corpus
    "knn_pandas_udf",  # collects the 10-row query matrix at build time
    "ntile_customer_spend_deciles_ranged",  # collects 9 quantile boundaries at build time

    "corpus_dsir_select",  # counts distinct doc_ids of the cached feature table for k
    "text_nb_langid",  # collects the bounded class list at build time
    "text_nb_confusion",  # same NB scoring helper (bounded class collect)
    "text_nb_persisted",  # builds/appends/compacts the durable NB model
    "streaming_nb_ingest",  # drains the stream, appending NB generations
    "dedup_ngram_jaccard",  # localCheckpoints its shingle set at build time
    "bpe_merge_steps",  # localCheckpoints each merge round's token table
    "text_bpe_encode",  # same checkpointed trainer + final encode fold
    "text_bpe_persisted",  # trains/writes the tokenizer artifact at build time
}

# There is NO quadratic allowlist: every catalog plan must be free of
# CartesianProduct, and any BroadcastNestedLoopJoin must be STRUCTURALLY
# 1-row on its build side (an uncorrelated scalar subquery — a global
# HashAggregate with no grouping keys, or a LIMIT 1). Catalyst folds
# literal equi-keys away, so a 1-row BNLJ is the only way to express a
# scalar broadcast; O(n), not quadratic. The |queries| x corpus ANN scans
# (knn_bruteforce/sq8/pq, dedup_embedding_cosine) that used to be
# name-allowlisted now replay their bounded query artifact as a literal
# exploded array (functions/replay.py) and plan NO join at all.
#
# Entries EXPECTED to carry a 1-row scalar broadcast — observed set must
# equal this, so a new BNLJ is a conscious decision:
ONE_ROW_BROADCAST = {
    "tfidf_top_terms",              # |docs| scalar for idf
    "q22_dormant_rich_customers",   # avg account balance scalar
    "text_bigram_lm_score",         # corpus bigram total scalar
    "text_pmi_collocations",        # corpus token total scalar
    "text_bm25_search",             # avg doc length scalar
    "text_kneser_ney_trigram",      # bigram-type-count scalar (KN base T)
    "text_kn_perplexity_filter",    # same KN base-T scalar via shared helper
    "corpus_dsir_weights",          # corpus gram-total scalar (n_t, n_r)
    "corpus_dsir_select",           # same DSIR weight helper's totals scalar
    "text_nb_langid",               # document-total scalar for the NB prior
    "text_nb_confusion",            # same NB scoring helper's prior scalar
    "text_nb_persisted",            # same prior scalar, stored-model form
    "streaming_nb_ingest",          # same prior scalar, streamed-model form
}


# The entries perfbench/catalog_warm.py times: a warm build runs no Spark job.
CATALOG_WARM = {
    "q3_shipping_priority",
    "df_reduce_by_key_fastpath",
    "text_bm25_persisted",
    "corpus_dsir_weights",
}

# Entries outside EXECUTING_ENTRIES whose warm build still runs Spark jobs
# (how many at sf0.001, schema memo warm). Observed set must equal this,
# so it can only shrink: fold each one's jobs into the real action, or
# document the entry in EXECUTING_ENTRIES.
BUILD_JOB_ENTRIES = {
    "compat_spill_wordcount",       # 2
    "dedup_clusters_incremental",   # 33
    "dedup_edit_distance",          # 2
    "dedup_embedding_cosine",       # 3
    "dedup_index_append",           # 1
    "dedup_simhash_hamming",        # 2
    "docs_hybrid_rrf",              # 1
    "graph_pagerank_dedup",         # 4
    "graph_triangle_count",         # 3
    "knn_bruteforce",               # 1
    "knn_ivf_compacted",            # 2
    "knn_ivf_incremental",          # 2
    "knn_pq",                       # 1
    "knn_pq_incremental",           # 3
    "knn_sq8",                      # 1
    "text_bigram_lm_score",         # 1
    "text_kn_perplexity_filter",    # 2
    "text_kneser_ney_trigram",      # 2
    "text_langid_ngram",            # 3
    "text_pmi_collocations",        # 1
}


def _walk(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _one_row_guaranteed(subtree: str) -> bool:
    """The build side proves <=1 row structurally: a global aggregate
    (HashAggregate/SortAggregate with no grouping keys) or LIMIT 1, with
    nothing row-multiplying (join/generate/union/expand) ABOVE it."""
    lines = subtree.splitlines()
    markers = ("HashAggregate(keys=[]", "SortAggregate(key=[]", "GlobalLimit 1")
    multiplying = ("Join", "Generate", "Union", "Expand", "CartesianProduct")
    for i, line in enumerate(lines):
        if any(m in line for m in markers):
            return not any(any(k in above for k in multiplying) for above in lines[:i])
    return False


def test_no_quadratic_joins_in_catalog(spark, sf_dir, count_jobs):
    offenders = {}
    observed_bnlj = set()
    build_jobs = {}
    for t in TABLES:
        load_table(spark, sf_dir, t)  # warms the schema memo
    for name, entry in sorted(all_entries().items()):
        df, jobs = count_jobs(lambda: entry.fn(spark, sf_dir))
        if jobs and name not in EXECUTING_ENTRIES:
            # a first build may write a store or fill a session memo that
            # earlier tests left in place or not: count a warm build
            df, jobs = count_jobs(lambda: entry.fn(spark, sf_dir))
        build_jobs[name] = jobs
        plan_node = df._jdf.queryExecution().executedPlan()
        plan = plan_node.toString()
        if "CartesianProduct" in plan:
            offenders[name] = ["CartesianProduct"]
            continue
        if "BroadcastNestedLoopJoin" not in plan:
            continue
        observed_bnlj.add(name)
        for node in _walk(plan_node):
            if node.nodeName() != "BroadcastNestedLoopJoin":
                continue
            build = (
                node.right()
                if "BuildRight" in node.buildSide().toString()
                else node.left()
            )
            if not _one_row_guaranteed(build.toString()):
                offenders.setdefault(name, []).append(
                    "BroadcastNestedLoopJoin with multi-row build side"
                )
    assert not offenders, offenders
    # the scalar-broadcast census can't silently grow or rot
    assert observed_bnlj == ONE_ROW_BROADCAST, (
        observed_bnlj - ONE_ROW_BROADCAST,
        ONE_ROW_BROADCAST - observed_bnlj,
    )
    assert {n: build_jobs[n] for n in CATALOG_WARM} == dict.fromkeys(CATALOG_WARM, 0)
    # the build-job census can't silently grow
    observed_jobs = {
        n for n, j in build_jobs.items() if j and n not in EXECUTING_ENTRIES
    }
    assert observed_jobs == BUILD_JOB_ENTRIES, (
        observed_jobs - BUILD_JOB_ENTRIES,
        BUILD_JOB_ENTRIES - observed_jobs,
    )


def test_executing_entries_set_is_not_stale():
    """EXECUTING_ENTRIES documents build-time work; every listed name must
    still exist in the catalog so the list can't silently rot."""
    known = set(all_entries())
    assert EXECUTING_ENTRIES <= known, EXECUTING_ENTRIES - known
