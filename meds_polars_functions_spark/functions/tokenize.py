"""Word tokenizers: the two dialects every word-level operator splits on.

Both lowercase, split on runs of characters outside ``[a-z0-9]`` and
drop the empty pieces. They differ only in the apostrophe:

- ``TEXT`` keeps it (``"it's"`` is one word): quality stats, language
  ID, TF-IDF, BM25, LM scoring, BPE, the blocklist gate;
- ``DEDUP`` splits on it (``"it's"`` is ``it``, ``s``): shingles,
  MinHash, SimHash, span dedup, winnowing, content-defined chunking.

Each dialect is ONE pattern string with three derived forms, so the
Spark, Python and DuckDB tokenizers cannot drift apart:

- ``words(col)``: the Spark column expression. ``array_remove`` rather
  than a ``filter`` lambda: the higher-order function is CodegenFallback
  and forces the whole split+lower subtree into interpreted evaluation
  per token, while the native form whole-stage-codegens;
- ``regex``: the compiled pattern the Arrow UDFs split with,
  ``[w for w in regex.split(t.lower()) if w]``;
- ``sql(expr)``: the DuckDB list expression the oracles replay
  (``sql_pattern`` is its quoted pattern literal, for oracles that
  filter the split differently).

One known divergence: DuckDB lowercases U+0130 (``İ``) to a plain ``i``,
while Java and Python lowercase it to ``i`` + U+0307, which the pattern
then splits on (``"İstanbul"`` is ``['i', 'stanbul']`` in Spark and
Python, ``['istanbul']`` in DuckDB).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


class Dialect:
    """One split pattern and its Spark, Python and DuckDB forms."""

    __slots__ = ("pattern", "regex", "sql_pattern")

    def __init__(self, pattern: str) -> None:
        self.pattern = pattern
        self.regex = re.compile(pattern)
        self.sql_pattern = "'" + pattern.replace("'", "''") + "'"

    def words(self, c: Column) -> Column:
        return F.array_remove(F.split(F.lower(c), self.pattern), "")

    def sql(self, expr: str = "text") -> str:
        return (
            f"list_filter(string_split_regex(lower({expr}), {self.sql_pattern}),"
            " x -> x <> '')"
        )


TEXT = Dialect(r"[^a-z0-9']+")
DEDUP = Dialect(r"[^a-z0-9]+")
