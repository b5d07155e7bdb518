from .cleaning import (
    filter_valid_observations,
    filter_year_range,
    filter_indicator_whitelist,
    filter_positive,
    cast_year_to_int,
    standardize_country_names,
    repair_swapped_columns,
)
from .reshape import pivot_indicators, unpivot
from .joins import left_join_population, salted_join
from .aggregates import quality_report
from .windows import rank_by, latest_per_key, topk_per_group

__all__ = [
    "filter_valid_observations",
    "filter_year_range",
    "filter_indicator_whitelist",
    "filter_positive",
    "cast_year_to_int",
    "standardize_country_names",
    "repair_swapped_columns",
    "pivot_indicators",
    "unpivot",
    "left_join_population",
    "salted_join",
    "quality_report",
    "rank_by",
    "latest_per_key",
    "topk_per_group",
]
