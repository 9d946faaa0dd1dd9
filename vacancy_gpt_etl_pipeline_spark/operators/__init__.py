from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
    Enricher,
    HttpLLMEnricher,
    MockKeywordEnricher,
    enrich_column,
)
from vacancy_gpt_etl_pipeline_spark.operators.dedup import (
    dedup_exact,
    dedup_exact_text,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from vacancy_gpt_etl_pipeline_spark.operators.similarity import (
    cosine_similarity_col,
    embedding_near_duplicates,
    knn_brute_force,
    knn_ivf,
    knn_lsh,
    lloyd_refine,
    sampled_centroids,
    semdedup,
)
from vacancy_gpt_etl_pipeline_spark.operators.sketches import (
    approx_quantiles_per_group,
    distinct_count_rollup,
    hll_rollup,
    hll_sketch_table,
)
from vacancy_gpt_etl_pipeline_spark.operators.asof import asof_join
from vacancy_gpt_etl_pipeline_spark.operators.relational import top_k_per_group
from vacancy_gpt_etl_pipeline_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)
from vacancy_gpt_etl_pipeline_spark.operators.packing import (
    pack_sequences,
    pack_summary,
)
from vacancy_gpt_etl_pipeline_spark.operators.sampling import (
    budget_mix,
    hash_permille,
    shuffle_shards,
    stratified_sample,
    weighted_sample,
)
from vacancy_gpt_etl_pipeline_spark.operators.text_search import bm25_topk
from vacancy_gpt_etl_pipeline_spark.operators.curation import (
    adaptive_quality_floor,
    curate_documents,
    ngram_contamination,
    quality_filter,
    remove_boilerplate_ngrams,
)
from vacancy_gpt_etl_pipeline_spark.operators.dedup import (
    incremental_dedup,
    incremental_neardup,
)
from vacancy_gpt_etl_pipeline_spark.operators.fuzzy import fuzzy_self_join
from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
    decode_audio,
    decode_images,
    decode_video_frames,
    synthesize_audio_payload,
    synthesize_bmp_payload,
    synthesize_image_payload,
    synthesize_pcm_payload,
    synthesize_y4m_payload,
)
from vacancy_gpt_etl_pipeline_spark.operators.skew import (
    salted_agg,
    salted_collect_set,
)
from vacancy_gpt_etl_pipeline_spark.operators.retention import cohort_retention
from vacancy_gpt_etl_pipeline_spark.operators.text_search import (
    pmi_collocations,
)
from vacancy_gpt_etl_pipeline_spark.operators.layout import (
    zorder_manifest,
    zorder_repartition,
    zvalue,
)
from vacancy_gpt_etl_pipeline_spark.operators.diff import snapshot_diff

__all__ = [
    "adaptive_quality_floor",
    "snapshot_diff",
    "cohort_retention",
    "pmi_collocations",
    "zorder_manifest",
    "zorder_repartition",
    "zvalue",
    "curate_documents",
    "decode_audio",
    "decode_images",
    "decode_video_frames",
    "fuzzy_self_join",
    "incremental_dedup",
    "incremental_neardup",
    "ngram_contamination",
    "quality_filter",
    "remove_boilerplate_ngrams",
    "salted_agg",
    "salted_collect_set",
    "semdedup",
    "synthesize_audio_payload",
    "synthesize_bmp_payload",
    "synthesize_image_payload",
    "synthesize_pcm_payload",
    "synthesize_y4m_payload",
    "Enricher",
    "HttpLLMEnricher",
    "MockKeywordEnricher",
    "enrich_column",
    "dedup_exact",
    "dedup_exact_text",
    "minhash_near_duplicates",
    "ngram_jaccard_pairs",
    "simhash_near_duplicates",
    "cosine_similarity_col",
    "embedding_near_duplicates",
    "knn_brute_force",
    "knn_ivf",
    "knn_lsh",
    "lloyd_refine",
    "sampled_centroids",
    "approx_quantiles_per_group",
    "distinct_count_rollup",
    "hll_rollup",
    "hll_sketch_table",
    "asof_join",
    "top_k_per_group",
    "bm25_topk",
    "connected_components",
    "dedup_clusters",
    "budget_mix",
    "hash_permille",
    "pack_sequences",
    "pack_summary",
    "shuffle_shards",
    "stratified_sample",
    "weighted_sample",
]
