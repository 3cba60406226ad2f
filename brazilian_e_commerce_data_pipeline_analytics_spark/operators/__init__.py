from .projection import rename_select
from .dedup import key_dedup
from .windows import top_k, top_k_per_group, yoy, pct_of_total, moving_sum_avg
from .aggregates import quality_check
from .datespine import date_spine

__all__ = [
    "rename_select",
    "key_dedup",
    "top_k",
    "top_k_per_group",
    "yoy",
    "pct_of_total",
    "moving_sum_avg",
    "quality_check",
    "date_spine",
]
