"""The pinned workload.  Editing bench.py, the registry or the core count
cannot change what the benchmark measures without changing this file.
"""

# The 21 headline queries (bench.HEADLINE when the benchmark was defined):
# one per operator family.
HEADLINE = [
    "q01_pricing_summary",
    "q02_filter_topk",
    "q05_region_revenue",
    "q08_argminmax_join",
    "q11_dedup_first_last",
    "q16_cumsum_offsets",
    "q19_topk_per_group",
    "q22_sessionize",
    "q24_pivot_unpivot",
    "q31_tumbling_window",
    "q32_exact_dedup_docs",
    "q35_minhash_neardup",
    "q37_lang_detect",
    "q38_ann_topk",
    "q41_stateful_thinning",
    "q51_duplicated_spans",
    "q56_lm_perplexity",
    "q58_image_resize_features",
    "q60_segment_snap",
    "q69_ivfpq_full_rerank",
    "q72_mini_clean_corpus",
]

# Result rows of each query at sf0.1, recorded when the benchmark was
# defined.  The output check falls back to these for a query that has no
# ORACLE_SQL (none of the 21 lacks one today).
EXPECTED_ROWS_SF01 = {
    "q01_pricing_summary": 6, "q02_filter_topk": 100, "q05_region_revenue": 5,
    "q08_argminmax_join": 147236, "q11_dedup_first_last": 1500,
    "q16_cumsum_offsets": 100000, "q19_topk_per_group": 75,
    "q22_sessionize": 1500, "q24_pivot_unpivot": 15,
    "q31_tumbling_window": 14385, "q32_exact_dedup_docs": 4992,
    "q35_minhash_neardup": 256, "q37_lang_detect": 5000, "q38_ann_topk": 10,
    "q41_stateful_thinning": 98534, "q51_duplicated_spans": 477,
    "q56_lm_perplexity": 5000, "q58_image_resize_features": 5000,
    "q60_segment_snap": 1500, "q69_ivfpq_full_rerank": 10,
    "q72_mini_clean_corpus": 425,
}

# sha256 of the fixed tables under perfbench/data/<scale>: a byte copy of
# the seed-42 tables that TESTDATA.md describes.  sf0.1 is
# the measured scale; sf0.001 serves the smoke test.
TABLE_SHA256 = {
    "sf0.1": {
        "customer": "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
        "documents": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
        "embeddings": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
        "events": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
        "lineitem": "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
        "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
        "orders": "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
        "part": "082525b9eb5098fe7b841e66b5a3e156808d32230202bc11cbafd85eb2443ea1",
        "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
        "supplier": "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a",
    },
    "sf0.001": {
        "customer": "14cc0a87578999fcb79267bfa2c900f0104df23785151a7274297d1aea7236d4",
        "documents": "dae477afb99976de4d51a57a650a5af1d3d0c3593bcf7195a77a6b068ae867bc",
        "embeddings": "a3177c59491c14cc2ad432cd53bedaa8040fedf382f4cdb26e0563ec89179a41",
        "events": "7fd4b9d6277e78d4552e69475995d203a9e38aa4cc914d87cb79b0f9bd145a55",
        "lineitem": "104501c514a4f24eb4ef0431eeb7cc95dd2b78b516d01b9d7be62c9132165c52",
        "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
        "orders": "1c313e7a580f267933bc45c636774722dfeaad27d0b9c2f09192ce9beddd1c76",
        "part": "fa2e28382bd1552ae9268cd5a243552ab43f7de7dadee5a32be3e82c30df8aa8",
        "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
        "supplier": "6a61c8ceec13a7bf75e5ff84d6ac43ff5002921a3dba023cae109f2239d32073",
    },
}
