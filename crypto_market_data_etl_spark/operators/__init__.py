"""Composable DataFrame -> DataFrame operators (SURVEY.md §2.3-2.9 + extensions)."""

from .asof import asof_join, asof_join_adaptive, merge_asof_grouped  # noqa: F401
from .bars import blocked_cumsum, dollar_bars, with_cents  # noqa: F401
from .candles import ohlcv_aggs, sliding_stats, tumbling_candles  # noqa: F401
from .dedup import (  # noqa: F401
    chunk_dedup,
    exact_dedup,
    minhash_jaccard_pairs,
    ngram_jaccard_pairs,
    simhash,
    span_dedup,
)
from .blocked import auto_block_span, blocked_lag  # noqa: F401
from .ewma import (  # noqa: F401
    ewma_blocked,
    ewma_full,
    ewma_over_window,
    ewma_tail,
    with_ofi,
)
from .multimodal import blob_metadata, extract_features, to_blob_table  # noqa: F401
from .candles import candle_partials, rollup_candles  # noqa: F401
from .similarity import (  # noqa: F401
    ann_recall,
    assign_centroids_np,
    cosine_topk,
    embedding_neardup_pairs,
    ivf_ann_topk,
    lsh_ann_bandor,
    lsh_ann_multiprobe,
    lsh_ann_topk,
    lsh_buckets,
)
from .sketches import approx_quantiles, heavy_hitters, hll_distinct, hll_merge  # noqa: F401
from .text import (  # noqa: F401
    fingerprints,
    gopher_rules,
    lang_scores,
    ngram_lm_scores,
    quality_expr,
    quality_scores,
    token_stats,
)
from .bpe import bpe_encode, bpe_learn  # noqa: F401
from .contamination import (  # noqa: F401
    bloom_contamination_report,
    contamination_report,
    cross_corpus_neardup,
)
from .retrieval import bm25_topk  # noqa: F401
from .sampling import (  # noqa: F401
    domain_quality_gate,
    dsir_logratios,
    hash_sample,
    leakage_safe_splits,
    pack_sequences,
    pack_shards,
    stratified_sample,
)
from .curation import curate_corpus  # noqa: F401
