"""Source factories (SURVEY.md §2.1)."""

from .factories import read_topic_db  # noqa: F401
