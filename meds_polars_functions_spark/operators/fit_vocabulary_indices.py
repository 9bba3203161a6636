"""Vocabulary index fitting (SURVEY §2.5 W5, §2.4 A7).

Reference: src/MEDS_transforms/fit_vocabulary_indices.py:92-187 —
assert (code, *modifiers) unique, then assign each code its 1-based
lexicographic rank (0 reserved for UNK), nulls sorting smallest.

Spark mapping: ``row_number`` over a global ``orderBy(asc_nulls_first)``
window. This is a single-partition window — acceptable *only* because code
metadata is metadata-scale (≤ millions of rows), never fact-scale. The
dedup check is a plain groupBy-count whose duplicate groups (normally none)
are collected in one action: a shuffle and a result stage, no limit scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def duplicate_codes(code_metadata: DataFrame, code_modifiers: Sequence[str] = ()) -> DataFrame:
    """(code,*modifiers) groups appearing more than once
    (reference fit_vocabulary_indices.py:92-99)."""
    keys = ["code", *code_modifiers]
    return (
        code_metadata.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def fit_vocabulary_indices(
    code_metadata: DataFrame, code_modifiers: Sequence[str] = ()
) -> DataFrame:
    """Add ``code/vocab_index`` = lexicographic rank, 1-based (0 = UNK),
    nulls-first (reference fit_vocabulary_indices.py:102-187)."""
    keys = ["code", *code_modifiers]
    dups = duplicate_codes(code_metadata, code_modifiers).collect()
    if dups:
        raise ValueError(
            f"Code metadata has duplicate (code, modifiers) rows, e.g. {dups[:5]}"
        )
    w = Window.orderBy(*[F.asc_nulls_first(k) for k in keys])
    return code_metadata.withColumn(
        "code/vocab_index", F.row_number().over(w)
    )
