"""Reusable operator library (SURVEY.md §2 inventory, Spark-first)."""

from .dedup import first_per_key, first_today  # noqa: F401
from .joins import dim_enrich, interval_join  # noqa: F401
from .split import split_log  # noqa: F401
from .windows import tumble  # noqa: F401
