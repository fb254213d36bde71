"""Query plans: batch/streaming-unified pipeline definitions.

``catalog`` holds the registry the driver contract (__spark_entry__.py)
exposes; importing the sibling modules registers their queries.
"""

from . import catalog  # noqa: F401


def load_all() -> None:
    """Import every query-defining module (registration side effects)."""
    from . import corpus_queries  # noqa: F401
    from . import dedup_queries  # noqa: F401
    from . import dq_queries  # noqa: F401
    from . import dwd_queries  # noqa: F401
    from . import dws_queries  # noqa: F401
    from . import func_queries  # noqa: F401
    from . import llm_multimodal  # noqa: F401
    from . import log_queries  # noqa: F401
    from . import olap_queries  # noqa: F401
    from . import retrieval_queries  # noqa: F401
    from . import text_queries  # noqa: F401
    from . import window_queries  # noqa: F401
