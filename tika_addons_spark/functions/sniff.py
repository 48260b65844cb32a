"""Content-type sniffing (SURVEY.md §2.9 X6).

The reference records both Tika detection and ``file -b --mime-type``
(eval-addons/.../MimeAndDigester.java:162-187, FileMime.java:19-54), with
exception sentinels instead of failures. Our payloads live in the ``text``
column, so detection is magic-prefix + structure heuristics over the string —
pure column expressions where the caller wants JVM-side speed. The
extraction hot path (operators/extract_arrow.py) re-expresses
``sniff_one`` as pyarrow masks with the same priority.

Sentinel vocabulary mirrors the reference: detection never throws; unknown →
``text/plain``; null/empty → ``application/octet-stream``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

MIME_PDF = "application/pdf"
MIME_HTML = "text/html"
MIME_XML = "application/xml"
MIME_MTEXT = "application/x-dwg-mtext"
MIME_PLAIN = "text/plain"
MIME_EMPTY = "application/octet-stream"
MIME_ZIP = "application/zip"
MIME_GZIP = "application/gzip"
MIME_7Z = "application/x-7z-compressed"
MIME_COMPRESS = "application/x-compress"
MIME_LZ4 = "application/x-lz4"
MIME_SNAPPY = "application/x-snappy-framed"

# base64 data-URI attachments inside turn text — the transcript-world form
# of the reference's base64-encoded bugzilla attachments
# (bugtracker-crawler/.../BugzillaWorker.java, gz'd JSON payloads)
DATA_URI_ZIP = "data:application/zip;base64,"
DATA_URI_GZIP = "data:application/gzip;base64,"
DATA_URI_7Z = "data:application/x-7z-compressed;base64,"
DATA_URI_COMPRESS = "data:application/x-compress;base64,"
DATA_URI_LZ4 = "data:application/x-lz4;base64,"
DATA_URI_SNAPPY = "data:application/x-snappy-framed;base64,"

_RE_HTML = re.compile(r"^\s*(?:<!doctype\s+html|<html[\s>])", re.IGNORECASE)
_RE_HTMLISH = re.compile(
    r"<(?:title|head|body|div|p|table|nav|h[1-6])[\s>]", re.IGNORECASE
)
_RE_XML = re.compile(r"^\s*<\?xml")
_RE_MTEXT = re.compile(
    r"\\[AHf][^;\\\n]{0,100};"      # \A1; \H2.5; \fArial|b0|i0;
    r"|\\S[^;^#]{1,20}[/^#][^;]{1,20};"  # stacked fraction \S a^b;
    r"|\\[PLlOoKk]"                  # \P newline, underline/strike toggles
    r"|\\[{}]"                       # escaped braces
)


def sniff_one(text: str | None) -> str:
    """Canonical per-value sniffer (oracle + hot-path spec)."""
    if text is None or len(text) == 0:
        return MIME_EMPTY
    head = text[:4096]
    stripped = head.lstrip()
    if stripped.startswith(DATA_URI_ZIP):
        return MIME_ZIP
    if stripped.startswith(DATA_URI_GZIP):
        return MIME_GZIP
    if stripped.startswith(DATA_URI_7Z):
        return MIME_7Z
    if stripped.startswith(DATA_URI_COMPRESS):
        return MIME_COMPRESS
    if stripped.startswith(DATA_URI_LZ4):
        return MIME_LZ4
    if stripped.startswith(DATA_URI_SNAPPY):
        return MIME_SNAPPY
    if stripped.startswith("%PDF-"):
        return MIME_PDF
    if _RE_XML.match(head):
        return MIME_XML
    if _RE_HTML.match(head) or _RE_HTMLISH.search(head):
        return MIME_HTML
    if _RE_MTEXT.search(head):
        return MIME_MTEXT
    return MIME_PLAIN


def sniff_col(c: Column) -> Column:
    """JVM-side prefix-only sniff (cheap declarative variant; the full
    heuristic is ``sniff_one``). Useful for partition routing and as
    a DuckDB-comparable query."""
    head = F.substring(c, 1, 4096)
    stripped = F.ltrim(head)
    return (
        F.when(c.isNull() | (F.length(c) == 0), F.lit(MIME_EMPTY))
        .when(stripped.startswith("%PDF-"), F.lit(MIME_PDF))
        .when(stripped.startswith("<?xml"), F.lit(MIME_XML))
        .when(
            F.lower(stripped).startswith("<!doctype html")
            | F.lower(stripped).startswith("<html"),
            F.lit(MIME_HTML),
        )
        .otherwise(F.lit(MIME_PLAIN))
    )
