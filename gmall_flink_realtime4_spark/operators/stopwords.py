"""Stopword lists and stopword-hit expressions (quality ratios, language ID).

``LANG_STOPWORDS`` is the model of the stopword-hit language ID:
``langid_predict`` scores any (doc_id, lang, text) frame and ``hits_sql``
writes the DuckDB twin of one language's hit count. ``STOP_SQL`` is the
English stopword list of the quality ratios.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

STOP_SQL = "('the', 'a', 'of', 'to', 'and')"

LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "de": ("der", "und", "das"),
}


def hits_sql(langtoks: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{t}'" for t in langtoks)
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({inlist})))"


def langid_predict(d: DataFrame) -> DataFrame:
    """Predictor core over any (doc_id, lang, text) frame — one codegen
    projection; split out so the streaming confusion-matrix partials
    (dq_queries.langid_confusion_partials) score batches with the
    identical expression tree."""

    def hits(langtoks: tuple[str, ...]):
        return F.size(F.filter(F.split("text", " "), lambda x: x.isin(*langtoks)))

    h = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits(LANG_STOPWORDS["en"]).alias("en_hits"),
        hits(LANG_STOPWORDS["fr"]).alias("fr_hits"),
        hits(LANG_STOPWORDS["es"]).alias("es_hits"),
        hits(LANG_STOPWORDS["de"]).alias("de_hits"),
    )
    total = F.col("en_hits") + F.col("fr_hits") + F.col("es_hits") + F.col("de_hits")
    return h.withColumn(
        "predicted_lang",
        F.when(total == 0, "und")
        .when(
            (F.col("en_hits") >= F.col("fr_hits"))
            & (F.col("en_hits") >= F.col("es_hits"))
            & (F.col("en_hits") >= F.col("de_hits")),
            "en",
        )
        .when(
            (F.col("fr_hits") >= F.col("es_hits"))
            & (F.col("fr_hits") >= F.col("de_hits")),
            "fr",
        )
        .when(F.col("es_hits") >= F.col("de_hits"), "es")
        .otherwise("de"),
    )
