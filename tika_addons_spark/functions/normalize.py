"""Text normalization cascades (SURVEY.md §2.8 F1–F8).

Each normalizer is a pure-Python function: the canonical spec, used by the
standalone oracle and therefore by every kernel row of the extraction engine.
Where a declarative plan needs a value without entering Python (F17's
stack-trace facet), the module offers a Spark Column expression (JVM-side,
whole-stage-codegen'd).

Reference semantics:
- F1 newline collapse + trim: ``content.replaceAll("\\n+","\\n").trim()``
  (tika-eval-solrj/.../TikaEvalDocMapper.java:263-264)
- F2 whitespace normalize: ``replaceAll("\\s+"," ")``
  (zip-dumper/.../ZipFeatureDumper.java:238-244)
- F3 URL strip / F4 email strip: regexes from
  lang-id/.../TikaOpenNLPDetector.java:119-120 (TIKA-2777 variants)
- F5 non-alpha/ideograph strip: ``[^\\p{IsAlphabetic}\\p{IsIdeographic}]+``
  (TikaOpenNLPDetector.java:137-150)
- F8 control-char clean for sinks: \\u0000→'' and [\\t\\r\\n]→' '
  (batchlite/.../JDBCMetadataWriter.java:111-122, MimeAndDigester.java:345)
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- regex constants (single source of truth) ------------------------------
RE_NEWLINES = re.compile(r"\n+")
RE_WS = re.compile(r"\s+")
# TikaOpenNLPDetector.java:119 (custom URL regex to avoid pathological hangs)
RE_URL = re.compile(r"https?://[-_.?&~;+=/#0-9A-Za-z]{10,10000}")
# TikaOpenNLPDetector.java:120
RE_EMAIL = re.compile(r"[-_.0-9A-Za-z]{1,100}@[-_0-9A-Za-z]{1,100}[-_.0-9A-Za-z]{1,100}")
# Python's \w includes digits/underscore; [^\W\d_] == unicode alphabetic.
RE_NON_ALPHA_RUN = re.compile(r"(?:[^\w]|[\d_])+", re.UNICODE)
RE_CONTROL = re.compile(r"[\t\r\n]")


# --- pure-Python canonical implementations ---------------------------------
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


def normalize_ws(text: str) -> str:
    """F2 — any whitespace run → single space, trimmed."""
    return RE_WS.sub(" ", text).strip()


def strip_urls(text: str) -> str:
    """F3 — URLs → single space."""
    return RE_URL.sub(" ", text)


def strip_emails(text: str) -> str:
    """F4 — emails → single space."""
    return RE_EMAIL.sub(" ", text)


def strip_non_alpha(text: str) -> str:
    """F5 — non-alphabetic runs → single space (ideographs count as alpha)."""
    return RE_NON_ALPHA_RUN.sub(" ", text)


def clean_for_sink(text: str) -> str:
    """F8 — NUL removed, tab/CR/LF → space (JDBC/TSV sink hygiene)."""
    return RE_CONTROL.sub(" ", text.replace("\x00", ""))


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
