"""The driver's CORRECTNESS harness verifies exactly the FIRST 50
entries of __spark_entry__.queries() (observed r01/r02/r03). These
tests pin the explicit window ordering in catalog._DRIVER_WINDOW so a
future registration can't silently displace an entry out of driver
verification again (the round-2 failure mode: 35 new entries landed at
positions 51-85 and got no driver row)."""

from alertsage_spark import catalog

DRIVER_WINDOW_SIZE = 50

# Oracled entries that have never had a driver row — these MUST sit
# inside the window until a CORRECTNESS_r0x gives them a green row
# (then they may rotate out like the rel_filter_* basics did).
# r5 composition: audio codec, ANN-legged hybrid, and the packing entry
# newly promoted rows-only -> ORACLE.
NEVER_DRIVER_CHECKED = {
    "mm_audio_stats", "ft_hybrid_rrf_ann", "pipe_pack_sequences",
    # had rows-only driver rows before; first ORACLE rows this round
    "sim_ann_lsh_topk", "sim_dup_pairs",
    # late r5: production-index WAND leg + ANN leg fused
    "ft_hybrid_rrf_segwand",
}

# Entries whose ENGINE PATHS changed in round 7 — keep them in the
# window so the driver re-certifies the changed code: every entry that
# read the held relational index now reads the segment index's
# Arrow-decoded relational view, and the LSM relview entries read the
# rewritten decoders.
RECERTIFY_THIS_ROUND = {
    "ft_bm25_topk_refqueries", "ft_hybrid_rrf", "ft_hybrid_rrf_ann",
    "ft_term_df_top20", "ft_doclen", "ft_corpus_stats",
    "ft_threshold_sweep", "ft_threshold_gate", "ft_boolean_search",
    "ft_fuzzy_suggest", "ft_snippet_topdocs", "ft_substring_search",
    "ft_prefix_search", "ft_search_facets", "ft_term_autocomplete",
    "ft_query_language", "ft_boolean_lsm", "ft_substring_lsm",
}

# Staleness rotation (r4 verdict task 7: no entry's last driver row may
# go stale beyond ~2 rounds): the full 16-entry set rotated out in r4
# (last row r3) must be back inside this round.
ROTATED_BACK_IN_R5 = {
    "ft_clean_text", "ft_sanitize_text", "ft_lenient_json",
    "ft_siem_patterns", "ft_keyword_gate", "ft_extract_iocs",
    "ft_mitre_ids", "ft_risk_score", "ft_uncertainty_band",
    "ft_normalize_label", "rel_regexp_extract", "rel_topk_offset",
    "rel_topk_most_common", "rel_json_extract", "rel_date_arith",
    "rel_comment_filter",
}

# Still to rotate in (last driver row 3+ rounds old): ft_quality,
# sim_cosine_topk, dedup_exact_stats, dedup_jaccard_verified,
# rel_agg_rollup, rel_agg_pivot, rel_time_window, rel_window_lag,
# rel_agg_distinct, rel_agg_banding, rel_join_topk.

# Flagship entries that must never leave the window (baseline targets).
MUST_KEEP = {
    "ft_bm25_topk_refqueries", "ft_wand_topk_refqueries",
    "ft_taat_topk_refqueries", "ft_sha256_fidelity",
}

# Oracled entries currently rotated OUT (each with a green driver row,
# still locally replicated by tests/test_catalog_oracle.py). Nothing
# may be rotated out without a prior green driver row. The rel_* basics
# were r6-green and yielded their slots to the round-7 re-certify set.
ROTATED_OUT = {
    "ft_bm25f_topk", "mm_extract_features", "mm_resize_stats",
    "sim_ann_lsh_recall", "sim_ann_ivf_recall", "stream_dedup_exact",
    "dedup_components", "dedup_survivors", "ft_hallucinated_iocs",
    "ft_build_invariants", "rel_setops", "rel_distinct_pairs",
    "rel_scalar_strfuncs", "rel_readonly_sql_api", "rel_agg_salted",
    "rel_join_salted", "rel_agg_percentiles", "rel_scalar_subquery",
    "rel_window_ntile", "rel_sessionize", "stream_time_window",
    "stream_sessionize", "io_jsonl_roundtrip", "io_csv_roundtrip",
    "sim_dup_pairs_prod", "ft_phrase_search", "pipe_decontaminate",
    "pipe_split_train_val", "pipe_repetition_filter",
    "rel_filter_eq", "rel_filter_range", "rel_filter_dates",
    "rel_filter_like", "rel_filter_inlist", "rel_filter_compound",
    "rel_join_left", "rel_join_chain", "rel_join_semi", "rel_join_anti",
    "rel_agg_label_counts", "rel_agg_count_avg", "rel_agg_minmax",
    "rel_agg_multikey", "rel_agg_conditional",
}


def test_window_names_all_registered():
    q = catalog.queries()
    missing = [n for n in catalog._DRIVER_WINDOW if n not in q]
    assert not missing, f"_DRIVER_WINDOW names not registered: {missing}"


def test_window_has_no_duplicates():
    w = catalog._DRIVER_WINDOW
    assert len(w) == len(set(w))


def test_window_is_exactly_50():
    assert len(catalog._DRIVER_WINDOW) == DRIVER_WINDOW_SIZE


def test_first_50_cover_unverified_and_flagships():
    first = list(catalog.queries())[:DRIVER_WINDOW_SIZE]
    fset = set(first)
    assert NEVER_DRIVER_CHECKED <= fset, sorted(NEVER_DRIVER_CHECKED - fset)
    assert RECERTIFY_THIS_ROUND <= fset, sorted(RECERTIFY_THIS_ROUND - fset)
    assert ROTATED_BACK_IN_R5 <= fset, sorted(ROTATED_BACK_IN_R5 - fset)
    assert MUST_KEEP <= fset, sorted(MUST_KEEP - fset)


def test_rotated_out_entries_still_registered_and_oracled():
    q, o = catalog.queries(), catalog.oracle_sql()
    for name in ROTATED_OUT:
        assert name in q and name in o, name
    assert not ROTATED_OUT & set(list(q)[:DRIVER_WINDOW_SIZE])


def test_window_entries_are_all_oracled():
    """r3 established the invariant: every driver-window slot carries a
    DuckDB oracle (an oracled row is stronger evidence than rows-only)."""
    o = catalog.oracle_sql()
    missing = [n for n in catalog._DRIVER_WINDOW if n not in o]
    assert not missing, missing


def test_oracle_order_follows_queries_order():
    q = list(catalog.queries())
    o = list(catalog.oracle_sql())
    pos = {n: i for i, n in enumerate(q)}
    assert o == sorted(o, key=pos.__getitem__)


def test_all_entries_still_present_after_reorder():
    # reordering must be a permutation, never a filter
    assert set(catalog.queries()) == set(catalog._QUERIES)
    assert set(catalog.oracle_sql()) == set(catalog._ORACLE)
