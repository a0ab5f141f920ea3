"""Named query builders + matching DuckDB oracle SQL.

Each submodule exposes ``QUERIES`` (name -> (spark, sf_dir) -> DataFrame)
and ``ORACLE`` (name -> ANSI SQL over the driver-registered DuckDB views
``region nation customer supplier part orders lineitem events documents
embeddings``). The driver hash-compares the two at sf0.01
(order-insensitive), so every computed column is aliased identically on
both sides and floating-point results are made deterministic (decimal
sums cast back to double; cosines rounded).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import reference_queries


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        merged.update(mod.QUERIES)
    return merged


def all_oracle_sql() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _modules():
        merged.update(mod.ORACLE)
    return merged


# The driver checks at most 50 queries() entries (round 1 checked exactly
# the first 50 of 52, silently dropping the tail), so the driver-facing
# dict is a curated subset of the full registry. Excluded names stay in
# all_queries() for bench/tests; each exclusion is a strict semantic
# subset of a retained row (documented in PARITY.md).
DRIVER_QUERY_CAP = 50
DRIVER_EXCLUDED = {
    # ---- REGISTRY-ONLY by design (pytest pins more than a driver
    # slot could; see PYTEST_ONLY_BY_DESIGN) ---------------------------
    # iterative BPE merge induction is not SQL-expressible; pytest
    # pins naive-reference equality, trainer equivalence, replay
    # encode, concat round-trip.
    "bpe_token_stats",
    # unigram-LM twin (Kudo 2018): EM over the segmentation lattice;
    # pytest pins Viterbi == exhaustive argmax, EM monotonicity,
    # singles retention, exact concat round-trip.
    "unigram_token_stats",
    # rows-only training row whose FOLD is oracle-checked as
    # tokenizer_family_fold (kept on the r14 roster); training keeps
    # its pytest differentials (merge replay, Viterbi == exhaustive,
    # concat round-trips).
    "tokenizer_family_compare",
    # ---- r16 rotations out: seats for the 16 floor-due rows (the
    # r12 cohort, last green r11). Every row below is r15-green and
    # keeps its pytest DuckDB differential; covers name rows on the
    # r16 roster. -----------------------------------------------------
    "active_day_codes",
    "anomaly_flags",
    "audio_near_dup",
    "bm25_index_probe",
    "catalog_number_parsing",
    "composite_key_join",
    "corpus_card",
    "events_sliding_window",
    "kmv_distinct_users",
    "latest_event_version",
    "pagination_window",
    "quality_psi",
    "retention_cohorts",
    "scalar_subquery_filter",
    "video_near_dup",
    "events_key_skew",
    # ---- r14: LIVE ANN tiers whose deterministic scan+rerank halves
    # are now oracle-checked as ann_int8_rerank / ann_pq_rerank over
    # the frozen ANN fixture (VERDICT r13 #6 — the
    # tokenizer_family_fold split). The live rows keep the bench
    # scan-compression story at sf0.1 and their pytest equalities
    # (rerank == float scores; recall >= 0.9; code determinism);
    # their one non-frozen step each (round(x/scale) boundary,
    # k-means training) is exactly what the split removed from the
    # cross-engine surface. ------------------------------------------
    "ann_quantized_topk",
    "ann_pq_topk",
    # ---- r14 rotations out (every row below is r13-green; seats went
    # to the 19-row r10 REVIEW cohort — drained to zero — plus the
    # three first-witness rows ann_int8_rerank / ann_pq_rerank /
    # kll_quantiles. Keepers are the family-cover hubs each cover
    # entry names. Every row keeps its full pytest DuckDB differential
    # and is due back by r16 per the cadence. -------------------------
    "bigram_logprob",
    "bitext_mining_margin",
    "bloom_membership",
    "classifier_eval",
    "cms_frequencies",
    "current_terms_topk",
    "event_transitions",
    "excess_loss_select",
    "json_props_extract",
    "kmv_overlap_users",
    "lsh_recall",
    "mg_heavy_hitters",
    "multimodal_audio_codec",
    "multimodal_features",
    "multimodal_real_codec",
    "multimodal_video_codec",
    "ngram_novelty",
    "profile_table",
    "resample_interpolate",
    "sampled_quantiles",
    "variant_props_extract",
    "warc_ingest_roundtrip",
    # ---- r14 (late): seat swap for the NEW scd2_history row (the
    # rotation floor gives never-witnessed oracle-ready rows a
    # first-witness slot immediately, and the roster was at the
    # 50-row cap). topk_per_group_price is r13-green and its window
    # family keeps TWO on-roster witnesses. ---------------------------
    "topk_per_group_price",
    # ---- r13 rotations (r12-green; within their cover cadence) -----
    "pivot_event_counts",
    "quantile_stats",
    "text_quality_score",
    "top_tokens_per_lang",
    "ann_bucketed_topk",
    "asof_join_last_click",
    "assemble_sequences",
    "cdc_upsert",
    "cube_agg",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "doc_logprob",
    "funnel_steps",
    "lang_id_heuristic",
    "leakage_safe_split",
    "line_dedup",
    "local_supplier_volume",
    "near_dup_contamination",
    "ngram_containment",
    "pricing_summary_agg",
    "repeated_span_removal",
    "repetition_stats",
    "resample_gapfill",
    "snapshot_cdc",
    "tfidf_top_terms",
    "train_order",
    "url_dedup",
    "dedup_survivors_quality",
    "mixture_upsample",
    # ---- r12 rotations (r11-green; within their cover cadence) -----
    "incremental_classifier",
    "link_authority",
    "mixture_sample",
    "omit_drops_withdrawals",
    "perplexity_buckets",
    "phrase_search",
    "prefix_jaccard_join",
    "quota_sample",
    "rollup_agg",
    "semantic_dedup",
    "semi_anti_joins",
    "skew_salted_join",
    "term_enrollments",
    "token_budget_prune",
    "token_counts",
    "unpivot_event_counts",
}

#: Excluded rows whose correctness is pinned by pytest ALONE, by
#: design (iterative training / engine-ulp boundaries — documented on
#: each row above); the staleness rule's cover check does not apply.
PYTEST_ONLY_BY_DESIGN = {
    "bpe_token_stats",
    "unigram_token_stats",
}

#: The machine-readable half of each DRIVER_EXCLUDED justification
#: (r9 verdict #8): for every excluded row, the retained rows whose
#: driver greens keep its plan family witnessed. The staleness test
#: (tests/test_rotation.py) asserts each excluded row has at least one
#: cover that is on the CURRENT roster or driver-green within the
#: two-round cadence — so a justification silently invalidated by a
#: later rotation fails a test instead of aging into prose.
EXCLUSION_COVERS: dict[str, tuple[str, ...]] = {
    # r16 rotations out (every row r15-green; covers stay on the
    # roster). r16 also re-pointed the older entries whose covers had
    # aged past the cadence at rows on the r16 roster.
    "active_day_codes": ("scalar_functions_suite", "timestamp_formats"),
    "anomaly_flags": ("trailing_range_stats", "events_rollup"),
    "audio_near_dup": ("image_near_dup", "media_index_probe"),
    "bm25_index_probe": ("bm25_search", "hybrid_search"),
    "catalog_number_parsing": ("scalar_functions_suite", "timestamp_formats"),
    "composite_key_join": ("latest_order_per_customer", "range_join_calendar"),
    "corpus_card": ("pii_stats", "quality_filter"),
    "events_sliding_window": ("events_tumbling_window", "trailing_range_stats"),
    "kmv_distinct_users": ("sketch_dashboard",),
    "latest_event_version": ("latest_order_per_customer", "watermark_incremental"),
    "pagination_window": ("running_total", "priority_ordered_extract"),
    "quality_psi": ("quality_filter", "kll_quantiles"),
    "retention_cohorts": ("events_rollup", "events_sessionization"),
    "scalar_subquery_filter": ("set_operations", "term_courses"),
    "video_near_dup": ("image_near_dup", "media_index_probe"),
    "events_key_skew": ("sketch_dashboard", "events_rollup"),
    # r14: the live ANN tiers' deterministic halves are driver-checked
    # as the fixture rows (VERDICT r13 #6); the live rows keep their
    # pytest equalities + bench witnesses
    "ann_quantized_topk": ("ann_int8_rerank",),
    "ann_pq_topk": ("ann_pq_rerank",),
    # r14 rotations out (every row r13-green; covers name kept hubs /
    # re-admitted r10-cohort rows back on the roster)
    "bigram_logprob": ("quality_classifier", "quality_filter"),
    "bitext_mining_margin": ("hybrid_search", "incremental_near_dup"),
    "bloom_membership": ("sketch_dashboard", "contamination"),
    "classifier_eval": ("quality_classifier",),
    "cms_frequencies": ("sketch_dashboard", "mg_heavy_hitters"),
    "current_terms_topk": ("topk_per_group_price", "running_total"),
    "event_transitions": ("events_sessionization", "events_rollup"),
    "excess_loss_select": ("quality_classifier", "temperature_mixture"),
    "json_props_extract": ("scalar_functions_suite", "pii_stats"),
    "kmv_overlap_users": ("kmv_distinct_users", "sketch_dashboard"),
    "lsh_recall": ("dedup_minhash_lsh", "incremental_near_dup"),
    "mg_heavy_hitters": ("sketch_dashboard", "events_key_skew"),
    "multimodal_audio_codec": ("audio_near_dup", "media_index_probe"),
    "multimodal_features": ("image_near_dup", "media_index_probe"),
    "multimodal_real_codec": ("image_near_dup", "media_index_probe"),
    "multimodal_video_codec": ("video_near_dup", "media_index_probe"),
    "ngram_novelty": ("contamination", "dedup_exact"),
    "profile_table": ("sketch_dashboard", "trailing_range_stats"),
    "resample_interpolate": ("trailing_range_stats", "resample_gapfill"),
    "sampled_quantiles": ("kll_quantiles", "sketch_dashboard"),
    "variant_props_extract": ("scalar_functions_suite", "term_courses"),
    "warc_ingest_roundtrip": ("crawl_gate_composed",),
    # r14 (late): rotated out to seat the new scd2_history row —
    # greatest-n/window ranking stays witnessed by two on-roster rows
    "topk_per_group_price": ("trailing_range_stats", "running_total"),
    # r13 rotations out (kept from r13; the mixture family's witness
    # is the still-on-roster temperature_mixture)
    "mixture_upsample": ("temperature_mixture", "pack_sequences"),
    "dedup_survivors_quality": ("dedup_minhash_lsh", "quality_filter"),
    # r13 rotations out (every row here is r12-green; covers name the
    # kept hubs / re-admitted rows now back on the roster)
    "pivot_event_counts": ("events_rollup", "cube_agg"),
    "quantile_stats": ("sketch_dashboard", "trailing_range_stats"),
    "text_quality_score": ("quality_filter", "quality_classifier"),
    "top_tokens_per_lang": ("tfidf_top_terms", "bm25_search"),
    "ann_bucketed_topk": ("incremental_near_dup", "media_index_probe"),
    "asof_join_last_click": ("range_join_calendar", "events_sessionization"),
    "assemble_sequences": ("pack_sequences", "bm25_search"),
    "cdc_upsert": ("snapshot_cdc", "latest_order_per_customer"),
    "cube_agg": ("events_rollup", "distinct_counts"),
    "dedup_ngram_jaccard": ("dedup_minhash_lsh", "ngram_containment"),
    "dedup_simhash": ("dedup_exact", "dedup_minhash_lsh"),
    "doc_logprob": ("quality_classifier", "bigram_logprob"),
    "funnel_steps": ("events_sessionization", "event_transitions"),
    "lang_id_heuristic": ("text_quality_score", "quality_filter"),
    "leakage_safe_split": ("corpus_split", "temperature_mixture"),
    "line_dedup": ("repeated_span_removal", "dedup_exact"),
    "local_supplier_volume": ("pricing_summary_agg", "term_courses"),
    "near_dup_contamination": ("contamination", "incremental_near_dup"),
    "ngram_containment": ("dedup_ngram_jaccard", "dedup_minhash_lsh"),
    "pricing_summary_agg": ("events_rollup", "distinct_counts"),
    "repeated_span_removal": ("line_dedup", "dedup_exact"),
    "repetition_stats": ("text_quality_score", "quality_filter"),
    "resample_gapfill": ("trailing_range_stats", "resample_interpolate"),
    "snapshot_cdc": ("cdc_upsert", "sketch_dashboard"),
    "tfidf_top_terms": ("bm25_search", "top_tokens_per_lang"),
    "train_order": ("mixture_upsample", "pack_sequences"),
    "url_dedup": ("dedup_exact", "scalar_functions_suite"),
    # r12 rotations out (every row here is r11-green; covers name the
    # kept hubs / re-admitted supersets)
    "incremental_classifier": ("quality_classifier",),
    "link_authority": ("link_authority_converged",),
    "mixture_sample": ("temperature_mixture", "diversity_sample"),
    "omit_drops_withdrawals": ("term_courses", "recent_instructor_updates"),
    "perplexity_buckets": ("doc_logprob", "quality_classifier"),
    "phrase_search": ("assemble_sequences", "bm25_search"),
    "prefix_jaccard_join": ("dedup_ngram_jaccard", "dedup_minhash_lsh"),
    "quota_sample": ("corpus_split", "diversity_sample"),
    "rollup_agg": ("events_rollup", "distinct_counts"),
    "semantic_dedup": ("embedding_near_dup", "ann_cosine_topk"),
    "semi_anti_joins": ("contamination", "funnel_steps"),
    "skew_salted_join": ("local_supplier_volume", "latest_order_per_customer"),
    "term_enrollments": ("term_courses",),
    "token_budget_prune": ("pack_sequences", "token_counts"),
    "token_counts": ("bm25_search", "tfidf_top_terms"),
    "unpivot_event_counts": ("events_rollup", "distinct_counts"),
    # registry-only / superseded rows
    "tokenizer_family_compare": ("tokenizer_family_fold",),
}


def driver_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {k: v for k, v in all_queries().items() if k not in DRIVER_EXCLUDED}
    assert len(out) <= DRIVER_QUERY_CAP, (
        f"{len(out)} driver-facing queries exceed the driver's "
        f"{DRIVER_QUERY_CAP}-query cap; merge or exclude before adding more"
    )
    return out


def driver_oracle_sql() -> dict[str, str]:
    names = driver_queries()
    return {k: v for k, v in all_oracle_sql().items() if k in names}


def _modules():
    mods = [reference_queries]
    for name in ("extension_queries", "llm_queries"):
        try:
            mods.append(__import__(f"{__name__}.{name}", fromlist=[name]))
        except ImportError:
            pass
    return mods
