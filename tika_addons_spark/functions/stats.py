"""Per-document text statistics (SURVEY.md §2.4 A1–A3, §2.8 F9).

The statistics themselves are declarative queries, each checked against a
DuckDB oracle: alphabetic and non-whitespace codepoint counts are q04,
token counts q05, sha256 q03 and token entropy q21 (``-Σ p·log2(p)`` over
the token count distribution, tika-eval TokenEntropy,
``TikaEvalDocMapper.java:289-292``). They share one tokenizer, the Spark
Column form below; the dedup operators and the comparison harness use it
too.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_col(colname: str) -> Column:
    """JVM-side tokenizer: array of lowercase alphabetic tokens.

    Takes a column *name* (or SQL expression string) so it composes into
    ``F.expr`` without touching JVM internals. NB: Spark SQL string literals
    treat backslash as an escape, so the regex backslash is doubled here.
    """
    return F.expr(f"regexp_extract_all(lower({colname}), '[\\\\p{{L}}]+', 0)")
