"""Text normalization (SURVEY.md §2.8 F1, F17).

``collapse_newlines`` (F1) is a pure-Python function: the canonical spec,
used by the standalone oracle and therefore by every kernel row of the
extraction engine. Where a declarative plan needs a value without entering
Python (F17's stack-trace facet), the module offers a Spark Column
expression (JVM-side, whole-stage-codegen'd).

Reference semantics:
- F1 newline collapse + trim: ``content.replaceAll("\\n+","\\n").trim()``
  (tika-eval-solrj/.../TikaEvalDocMapper.java:263-264)

The other §2.8 normalizers are not package functions: q18 normalizes
whitespace and control characters (F2/F8) in SQL, checked against DuckDB;
the URL, email and non-alphabetic strips (F3–F5) run in no job or query
and are out of scope (COVERAGE.md §2.8).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

RE_NEWLINES = re.compile(r"\n+")


def collapse_newlines(text: str) -> str:
    """F1 — exact TikaEvalDocMapper semantics: \\n+ → \\n, then trim.

    Gate (round-6): ``\\n+`` only changes the string where a run of length
    >= 2 exists, i.e. where ``"\\n\\n"`` occurs — a single ``\\n`` replaced
    by ``\\n`` is the identity. The substring probe is C memchr speed
    (~0.6 µs) vs ~5 µs for the regex scan on a typical extracted body,
    and html/archive bodies (joined with single newlines) never contain
    a double newline, so the hot path skips the sub entirely."""
    if "\n\n" in text:
        return RE_NEWLINES.sub("\n", text).strip()
    return text.strip()


# ---------------------------------------------------------------------------
# F17 — stacktrace normalize → facet
# (reference: TikaEvalDocMapper.java:208-218 handleStackTrace →
# tika-eval's EvalExceptionUtils.normalize: strip per-exception messages,
# keep the exception-class chain so equal failure *shapes* facet together)
# ---------------------------------------------------------------------------
STACK_HEAD_RE = r"^([\w$.]+(?:Exception|Error))"
CAUSED_BY_RE = r"Caused by: ([\w$.]+)"


def stacktrace_facet_col(c: Column) -> Column:
    """Exception-class chain of a stack-trace string, ' -> '-joined:
    'java.io.IOException -> java.net.SocketException'. NULL/blank in →
    NULL out (handleStackTrace's isBlank guard); pure column expressions,
    DuckDB-expressible (q45)."""
    head = F.regexp_extract(c, STACK_HEAD_RE, 1)
    causes = F.regexp_extract_all(c, F.lit(CAUSED_BY_RE), F.lit(1))
    chain = F.filter(
        F.concat(F.array(head), causes), lambda x: x != F.lit("")
    )
    return F.when(
        c.isNull() | (F.length(F.trim(c)) == 0) | (F.size(chain) == 0),
        F.lit(None).cast("string"),
    ).otherwise(F.concat_ws(" -> ", chain))
