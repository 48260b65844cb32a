"""Extension fixing by content detection (SURVEY.md §2.9 X11), run by q46.

Reference: ``bugtracker-crawler/.../Step2ExtensionFixer.java:46-210``.

SURVEY §2.8's date-parse, date-regex, filename and entry-path functions
(F11–F14) and the P4 extension allow-list run in no job or query; they are
out of scope (COVERAGE.md §2.2, §2.8).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# extensions the reference refuses to change even when detection disagrees
# (Step2ExtensionFixer.DONT_CHANGE_ORIG_EXT — kept verbatim for parity)
DONT_CHANGE_ORIG_EXT = frozenset({
    ".tgz", ".eps", ".spl", ".prn", ".otf", ".pfb", ".oxps", ".oxt", ".cdr",
    ".odt", ".ods", ".odg", ".jar", ".cbz", ".odp", ".exe", ".xcu", ".nbm",
    ".xdl", ".svg", ".fodt", ".fods", ".fodg", ".fodp", ".py", ".rb", ".xhp",
    ".mml", ".fdx", ".xba", ".sog", ".soe", ".soc", ".sod", ".ui", ".pps",
    ".pot", ".ppsx", ".key", ".pages", ".ogv", ".ogg", ".vdx", ".abw",
    ".xcd", ".xconf", ".xpi", ".xul", ".plist", ".ai", ".war", ".bau",
})

# content-detected type → extension, RELIABLE types only (the reference
# leaves tikaExt blank for UNRELIABLE_MEDIA_TYPES: plain/octet/mbox/rfc822)
_DETECT_TO_EXT = {
    "application/pdf": ".pdf",
    "application/xml": ".xml",
    "text/html": ".html",
}


def fix_extension_cols(path_col: Column, detected_col: Column) -> dict[str, Column]:
    """Step2ExtensionFixer's decision as pure column expressions.

    Returns audit columns: orig_ext (with dot, '' if none), new_ext (the
    extension the file should carry), action ('keep'|'rename'). Decision
    order mirrors the reference exactly: DONT_CHANGE original → keep;
    normed = lowercased orig, blanked if absent or longer than 6 chars;
    detection supplies the ext only for reliable types; fall back to
    normed; DONT_CHANGE normed overrides detection; equal/blank/'.' → keep
    (note: case-only fixes DO rename, e.g. '.TXT' → '.txt' — the
    comparison is case-sensitive, as in the reference)."""
    orig = F.regexp_extract(path_col, r"(\.[A-Za-z0-9]+)$", 1)
    normed = F.when(
        (orig == "") | (F.length(orig) > 6), F.lit("")
    ).otherwise(F.lower(orig))

    tika_ext = F.lit("")
    for mime, ext in _DETECT_TO_EXT.items():
        tika_ext = F.when(detected_col == mime, F.lit(ext)).otherwise(tika_ext)

    dont = F.array(*[F.lit(e) for e in sorted(DONT_CHANGE_ORIG_EXT)])
    base = F.when(tika_ext != "", tika_ext).otherwise(normed)
    base = F.when(F.array_contains(dont, normed), normed).otherwise(base)

    keep = (
        F.array_contains(dont, orig)
        | (base == orig)
        | (base == "")
        | (base == ".")
    )
    return {
        "orig_ext": orig,
        "new_ext": F.when(keep, orig).otherwise(base),
        "action": F.when(keep, F.lit("keep")).otherwise(F.lit("rename")),
    }
