"""Effective pipeline configuration.

Values reproduce the reference's *effective* defaults: the constructor defaults of
`RuleFilter` (/root/reference/text_quality_filter/utils/rule_filter.py:18-26)
merged with `RULE_FILTER_CONFIG` / `FEATURE_WORDS_CONFIG` / `GENERAL_CONFIG`
(/root/reference/text_quality_filter/config/config.py:10-61). Keys present in the
reference config but never read by any component (max_number_ratio,
max_english_ratio, max_max_line_length, max_duplicate_line_ratio,
max_avg_paragraph_length — config.py:14-19) are intentionally omitted.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class RuleConfig:
    # rule_filter.py ctor defaults overridden by config.py:10-20
    min_text_length: int = 100
    min_avg_line_length: float = 5.0
    min_chinese_ratio: float = 0.6
    max_symbol_ratio: float = 0.2
    max_internal_dup_ratio: float = 0.5  # ctor default; not in config.py
    max_vertical_bar_ratio: float = 0.005
    max_comma_ratio: float = 0.05
    max_url_density: float = 0.01
    max_emoji_ratio: float = 0.02


@dataclass(frozen=True)
class FeatureConfig:
    # config.py:23-27
    max_feature_words_per_line: float = 0.2


@dataclass(frozen=True)
class DedupConfig:
    # clustering.py:25-27 thresholds re-expressed for MinHash-LSH.
    # Banding picked for the 0.85 threshold: 16 bands x 8 rows gives
    # P(candidate | J=0.85) = 1-(1-0.85^8)^16 ~= 0.99 while
    # P(candidate | J=0.6) ~= 0.24 — the earlier 32x4 banding admitted
    # J=0.6 pairs with p=0.99 and made boilerplate clusters quadratic.
    similarity_threshold: float = 0.85
    shingle_size: int = 5
    num_hashes: int = 128
    num_bands: int = 16  # rows per band = num_hashes // num_bands = 8


@dataclass(frozen=True)
class PipelineConfig:
    """What operators/quality.with_quality reads (config.py:47-61)."""

    rule: RuleConfig = field(default_factory=RuleConfig)
    feature: FeatureConfig = field(default_factory=FeatureConfig)
    quality_threshold: float = 0.8
    weight_rule: float = 0.3
    weight_feature: float = 0.5
    enable_rule: bool = True
    enable_feature: bool = True


DEFAULT = PipelineConfig()

# GENERAL_CONFIG's weights of the components disabled by default; only the
# four-component composite (catalog q_quality_keep_full) weighs them in
WEIGHT_PERPLEXITY = 0.1
WEIGHT_CLUSTERING = 0.1
# Okapi BM25 (operators/retrieval.py)
BM25_K1 = 1.2
BM25_B = 0.75
