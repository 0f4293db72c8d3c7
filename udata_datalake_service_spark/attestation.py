"""Driver-attestation ledger + registry rotation (round-6 structural fix).

The driver's correctness gate attests only the FIRST 50 ``queries()``
entries each round (the "window").  Through round 5 the window was
hand-ordered — changed queries were manually moved to the head — which
guaranteed changed entries a driver row but put no structural bound on
how long an UNCHANGED query could go without one (by round 5 some
singletons had not had a driver row since round 2, a gap VERDICT r5
flagged).

This module makes the rotation a checked-in invariant:

* ``LAST_DRIVER_ROUND`` records, per query, the most recent round whose
  ``CORRECTNESS_r{N}.json`` contains a green row for it (hash_match, or
  rows_match with no error for the non-SQL-expressible ops).  It is
  regenerated from the committed CORRECTNESS artifacts each round
  (``tools/attest_map.py``).
* ``NEW_OR_CHANGED`` names the queries whose source or oracle changed
  this round (or that are brand new) — they are forced to the head of
  the window so the driver attests exactly what is shipping.
* ``rotation_order`` sorts the registry by
  ``(changed-this-round DESC, last-driver-round ASC, name)``.

With N queries and a 50-slot window, every query is re-attested at
least every ceil(N/50) rounds; ``tests/test_entry_contract.py``
enforces the resulting bound (no past-window entry older than
CURRENT_ROUND - 2) so staleness can never silently regrow.
"""

from __future__ import annotations

# Round currently being built (the driver will write CORRECTNESS_r{CURRENT_ROUND}).
CURRENT_ROUND = 15

# Queries that are new this round or whose source/oracle changed this
# round; forced to the head of the attestation window.
NEW_OR_CHANGED: frozenset[str] = frozenset({
    # round-15 changes (populated as queries are added/edited this round)
    "tx_text_metrics",  # STOPWORDS ≡ LANG_MARKERS['en'] guard: assert → raise
})

# Rounds whose driver window did NOT advance the rotation: the round-12
# ledger refresh was skipped (attestation.py still said CURRENT_ROUND=11
# at driver time), so CORRECTNESS_r12.json's key set is byte-identical to
# r11's — the same 50 queries were attested twice and the 86 stalest got
# no driver row.  A frozen round consumes no rotation progress, so the
# staleness bound must not count it as an elapsed rotation opportunity
# (see ``effective_gap``).  This set is NOT free-form: a test verifies
# each member against the committed artifacts (key set equal to the
# previous round's), so a round can only be declared frozen when the
# artifacts prove the window really did not move.  tools/round_open.sh
# (the round-start guard added this round) exists to keep this set from
# ever growing again.
FROZEN_ROUNDS: frozenset[int] = frozenset({12})


def effective_gap(last_round: int, current_round: int) -> int:
    """Rounds elapsed since ``last_round`` that actually offered a
    rotation slot — i.e. the raw gap minus frozen rounds inside it."""
    frozen_in_gap = sum(1 for f in FROZEN_ROUNDS if last_round < f <= current_round)
    return current_round - last_round - frozen_in_gap

# query name -> last round with a green driver row (regenerate with
# tools/attest_map.py after each round's CORRECTNESS artifact lands).
LAST_DRIVER_ROUND: dict[str, int] = {
    "a1_group_topk": 14,
    "a234_dashboard_aggs": 14,
    "a5_st2_backoff_table": 14,
    "a6_max_booland": 14,
    "a7_count_over_all": 14,
    "a8_purge_returning_count": 14,
    "a9_profile": 14,
    "a9_quantiles": 14,
    "ann_centroid_assign": 14,
    "ann_ivfpq_topk": 14,
    "ann_ivfpq_trained": 13,
    "ann_near_dups_exact": 14,
    "ann_pq_topk": 13,
    "ann_recall": 12,
    "ann_topk": 14,
    "asof_join": 12,
    "cohort": 12,
    "contamination": 12,
    "corpus_datasheet": 14,
    "corpus_ingest": 13,
    "corpus_warc_ingest": 12,
    "cube_rollup": 14,
    "curate_zipf": 13,
    "curriculum": 12,
    "dd_dup_clusters": 14,
    "dd_exact_prefix_groups": 14,
    "dd_jaccard_prefix": 12,
    "dd_lsh_capped": 12,
    "dd_lsh_eval": 14,
    "dd_lsh_incremental": 13,
    "dd_lsh_pairs": 13,
    "dd_minhash_signature": 14,
    "dd_minhash_xxh": 13,
    "dd_ngram_jaccard": 13,
    "dd_paragraph_dedup": 13,
    "dd_simhash": 14,
    "dd_span_coverage": 13,
    "dd_star_clusters": 14,
    "dense_ids": 13,
    "dist_match_sample": 14,
    "domain_mix": 13,
    "domain_split": 14,
    "dq_expectations": 14,
    "dsir_select": 14,
    "dsir_weights": 13,
    "embed_standardize": 14,
    "event_transitions": 14,
    "f3_smart_cast": 12,
    "f4_date_parse_multi": 12,
    "f_scalar_surface": 12,
    "flagship_pricing_summary": 14,
    "funnel": 14,
    "fuzzy_linkage": 14,
    "gopher_quality": 14,
    "html_extract": 14,
    "interval_join": 14,
    "j1_current_state_join": 12,
    "j2_history_join": 12,
    "j3_u7_batch_select_claim": 12,
    "j4_orphan_left_join": 13,
    "j5_latest_per_key": 13,
    "j6_status_dashboard": 13,
    "k10_time_travel": 14,
    "k8_drop_table": 13,
    "k9_webhook_payload": 14,
    "k_lake_roundtrip": 13,
    "mix_shards": 14,
    "mixture_plan": 12,
    "mm_embed_vq": 13,
    "mm_exif_meta": 14,
    "mm_frame_sample": 13,
    "mm_jpeg_meta": 13,
    "mm_media_meta": 12,
    "nb_source_classifier": 12,
    "o1_top2_per_key": 13,
    "o3_deterministic_sample": 13,
    "o4_csv_sample": 13,
    "o5_ordered_scan": 13,
    "p10_retention_survivors": 13,
    "p1_point_lookup": 13,
    "p3_exclusion_filter": 13,
    "p4_date_cast_filter": 13,
    "p5_json_extract": 13,
    "p6_range_predicate": 13,
    "p78_predicate_surface": 14,
    "p9_time_window": 13,
    "pack_stream": 12,
    "pack_waste": 12,
    "pii_redact": 12,
    "pivot_activity": 12,
    "reduced_antijoin": 14,
    "rt_bm25_topk": 12,
    "rt_decontam": 13,
    "rt_hard_negatives": 12,
    "rt_hybrid_rrf": 12,
    "rt_lake_bm25": 13,
    "s1_live_fetch": 14,
    "s4_excel_load": 13,
    "s5_catalog_load": 13,
    "s6_csv_ingest_inference": 13,
    "s7_mime_sniff": 14,
    "s9_f10_http_surface": 14,
    "scd2_merge": 12,
    "semantic_dedup": 12,
    "sessionize": 12,
    "sk_bloom_probe": 13,
    "sk_countmin_hh": 12,
    "sk_kmv_ndv": 13,
    "sk_lake_rollup": 14,
    "skew_salted_count": 14,
    "sla_streaks": 12,
    "st1_microbatch_rates": 13,
    "st3_next_check_ladder": 13,
    "st45_change_trigger": 14,
    "temporal_split": 13,
    "tfidf_vocab": 12,
    "tok_bpe_encode": 13,
    "tx_bigram_surprisal": 14,
    "tx_blocklist": 12,
    "tx_chunks": 12,
    "tx_clean": 12,
    "tx_curate_pipeline": 13,
    "tx_fingerprint": 14,
    "tx_hashed_features": 12,
    "tx_lang_id": 12,
    "tx_novelty": 12,
    "tx_surprisal": 12,
    "tx_text_metrics": 14,
    "tx_vocab_coverage": 12,
    "u1_union_tiers": 13,
    "u2_upsert_merge": 13,
    "u3_snapshot_diff": 13,
    "u456_point_dml": 14,
    "url_canonical": 12,
    "url_quality": 12,
    "variant_props": 12,
    "weighted_group_sample": 14,
    "window_surface": 14,
}


def rotation_order(names) -> list[str]:
    """Stable registry order: new/changed first, then least-recently
    driver-attested, ties by name.  Never-attested queries that are not
    flagged NEW_OR_CHANGED sort as round 0 (i.e. most urgent) — a query
    cannot dodge the window by missing from the ledger."""
    return sorted(
        names,
        key=lambda n: (
            0 if n in NEW_OR_CHANGED else 1,
            LAST_DRIVER_ROUND.get(n, 0),
            n,
        ),
    )
