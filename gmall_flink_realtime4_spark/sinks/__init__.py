"""Sink factories (SURVEY.md §2.2)."""

from .factories import (  # noqa: F401
    routed_kafka_frame,
    upsert_parquet,
)
