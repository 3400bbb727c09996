"""Empty-input robustness: every relational/text query family must plan and
execute over zero-row tables (schema preserved) without crashing — the
behavior a scheduled 100 TB pipeline needs on an empty ingest day."""

from __future__ import annotations

import pytest

from map_reduce_ruby_spark.plans import all_entries
from map_reduce_ruby_spark.sources import TABLES, load_table

REPRESENTATIVE = [
    "q1_pricing_summary",          # scan-filter-agg
    "q3_shipping_priority",        # join + topk
    "q8_market_share",             # deep star join + ratio agg
    "q13_customer_distribution",   # outer join + double agg
    "window_topk_orders_per_customer",
    "window_range_frame_spend",
    "rollup_returnflag_linestatus",
    "dedup_exact",
    "text_token_stats",
    "text_repetition_filter",
    "corpus_upsert_latest",
    "events_json_props",
    "ntile_customer_spend_deciles_ranged",  # quantile collect -> None guard
    "knn_ivf",                              # empty corpus -> no index build
    "knn_ivf_pq",                           # empty corpus -> no composed index
    "corpus_mixing_allocation",
    "dedup_incremental_minhash",
    "q21_waiting_orders",
    "zorder_tile_stats",
    # round-3 additions
    "doc_chunk_overlap",            # sequence/explode over empty
    "events_gap_fill_ffill",        # spine from empty min/max bounds
    "bpe_merge_steps",              # LIMIT-1 argmax over empty pair counts
    "text_bpe_encode",              # empty trainer -> empty encode join
    "text_winnowing_fingerprint",   # window mins over zero qualifying docs
    "multimodal_frame_energy",      # mapInPandas over zero batches
    "multimodal_phash_dedup",       # perceptual hash over zero payloads
    "graph_triangle_count",         # empty edge set -> empty graph
    "stats_moments_corr",           # no groups -> no divisions
    "mv_incremental_refresh",       # full-outer merge of two empty MVs
    "dedup_edit_distance",          # empty candidate set
    "vocab_coverage",               # empty vocab TakeOrdered
    "corpus_snapshot_diff",         # full outer over two empty gens
    "lateral_topk_customers",       # decorrelated lateral over empty dims
    "window_rank_breadth",          # nine window fns over empty partitions
    # round-5 additions
    "dedup_simhash_hamming",        # adaptive band width at n_docs = 0
    "dedup_simhash_bitsample",      # cyclic-window tables over zero docs
    "dedup_semantic_ivf",           # adaptive cell count over empty corpus
    # round-6 additions
    "knn_ivf_persisted",            # empty corpus -> no index write
    "dedup_embedding_cosine",       # empty query sample -> schema-stable empty
    "knn_bruteforce",               # literal-replay path with zero query rows
    "docs_hybrid_rrf",              # both arms empty -> early schema return
    # round-7 additions
    "knn_ivf_incremental",          # empty corpus -> no build, no append
    "dedup_index_append",           # empty corpus/batch/probe slices
    "knn_pq_incremental",           # empty corpus -> no build, no append
    "streaming_index_ingest",       # empty stream drop -> drained, empty probe
    # round-8 additions
    "er_sorted_neighborhood",       # empty record set -> schema-stable empty
    "text_kneser_ney_trigram",      # zero trigram types -> empty top-k
    "knn_ivf_pq_persisted",         # empty corpus -> neither artifact written
    "text_bpe_persisted",           # empty trainer -> empty stored vocab
    "streaming_dedup_probe",        # zero arrivals -> schema-stable empty
    "dedup_sorted_neighborhood",    # empty record set -> schema-stable empty
    "corpus_constraint_checks",     # zero-row tables -> 7 zero-violation rows
    "text_bm25_persisted",          # empty corpus -> no store write
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(0).coalesce(1).write.parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


# Fixed-shape report queries: their row count is the REPORT's size, not
# the input's — on empty tables they must return the full report with
# zero counts, not zero rows.
FIXED_REPORT_ROWS = {
    "corpus_constraint_checks": 7,  # one row per constraint, all zeros
}


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_query_survives_empty_tables(spark, empty_sf_dir, name):
    df = all_entries()[name].fn(spark, empty_sf_dir)
    rows = df.collect()
    if name in FIXED_REPORT_ROWS:
        assert len(rows) == FIXED_REPORT_ROWS[name], rows
        assert all(r.n_violations == 0 for r in rows), rows
        return
    # empty input -> zero GROUPED rows (no NULL-aggregate phantom rows leak
    # out of any catalog query; global-agg queries coalesce to one row max)
    assert len(rows) <= 1, rows
