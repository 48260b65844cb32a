"""Link harvest with deny-lists (SURVEY.md §2.9 X3).

Reference: ``bugtracker-crawler/.../GithubScraper.java:56,165-219`` —
``HREF_PATTERN`` regex over raw HTML (no DOM parse), deny-list of hosts and
path shapes (`/pull/\\d+`, opensource.guide, travis-ci.org, gist.github,
github.com/notifications, github.com + /commit/ or /tree/), then split into
attachment links (`/files/\\d+`) and external links (http/https), each
deduplicated via a seen-set.

Spark-first: everything is a column expression — regexp_extract_all +
array_distinct + higher-order filter — so it rides whole-stage codegen and
is trivially DuckDB-oracle-able (q43). The deny-lists apply in one place,
``harvest_kept_hrefs``, together with the reference's github.com attribute
rule, which needs the tag text around each href."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# group 1 = the href value (reference HREF_PATTERN keeps attrs around it)
HREF_PATTERN = '<a [^>]*href="([^"]+)"[^>]*>'

# the reference's full 3-group pattern (GithubScraper.java:56):
# group 1 = attrs BEFORE href=, group 2 = href value, group 3 = text after
# the closing quote up to '>' — groups 1/3 feed the github.com attr rule
HREF_PATTERN_3G = '<a ([^>]*)href="([^"]+)([^>]*)"?>'

# substring deny-list (GithubScraper.java:178-188)
DENY_SUBSTRINGS = (
    "opensource.guide",
    "travis-ci.org",
    "gist.github",
    "github.com/notifications",
)
PULL_RE = "/pull/[0-9]+"
FILES_RE = "/files/[0-9]+"


def harvest_hrefs(c: Column | str) -> Column:
    """All distinct href values in document order of first occurrence—ish
    (array_distinct keeps first occurrence)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.array_distinct(F.regexp_extract_all(c, F.lit(HREF_PATTERN), F.lit(1)))


def _denied(h: Column) -> Column:
    sub = None
    for d in DENY_SUBSTRINGS:
        cond = h.contains(d)
        sub = cond if sub is None else (sub | cond)
    sub = sub | h.rlike(PULL_RE)
    # github.com hrefs pointing at commits/trees are navigation, not content
    sub = sub | (h.contains("github.com") & (h.contains("/commit/") | h.contains("/tree/")))
    return sub


def harvest_kept_hrefs(c: Column | str) -> Column:
    """Full reference decision in one pass: harvest (pre, href, post) per
    ``<a>`` tag, apply the deny-lists AND the github.com attr rule
    (``GithubScraper.java:188-198``: a github.com href is dropped when the
    tag carries anything non-blank before the ``href=`` or after the value —
    those are styled navigation anchors, not content links), then distinct.

    Pure column ops (regexp_extract_all ×3 + arrays_zip + filter) — rides
    whole-stage codegen, no UDF."""
    c = F.col(c) if isinstance(c, str) else c
    pre = F.regexp_extract_all(c, F.lit(HREF_PATTERN_3G), F.lit(1))
    href = F.regexp_extract_all(c, F.lit(HREF_PATTERN_3G), F.lit(2))
    post = F.regexp_extract_all(c, F.lit(HREF_PATTERN_3G), F.lit(3))
    zipped = F.arrays_zip(
        pre.alias("pre"), href.alias("href"), post.alias("post")
    )

    def keep(t: Column) -> Column:
        h = t["href"]
        # post.replaceAll("[\\s\"]", "").trim() — reference strips ws+quotes
        attr_noise = (F.trim(t["pre"]) != "") | (
            F.regexp_replace(t["post"], r'[\s"]', "") != ""
        )
        return ~_denied(h) & ~(h.contains("github.com") & attr_noise)

    return F.array_distinct(F.transform(F.filter(zipped, keep), lambda t: t["href"]))


def attachment_links(hrefs: Column) -> Column:
    """`/files/\\d+` links — the reference's attachment downloads."""
    return F.filter(hrefs, lambda h: h.rlike(FILES_RE))


def external_links(hrefs: Column) -> Column:
    """Absolute http(s) links that are not attachments."""
    return F.filter(
        hrefs,
        lambda h: (h.startswith("http:") | h.startswith("https:"))
        & ~h.rlike(FILES_RE),
    )
