"""Link harvesting (X3): href harvest, deny-lists and classification."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_link_harvest_deny_and_classify(spark):
    from tika_addons_spark.functions import links

    html = (
        '<p><a href="/files/123">att</a>'
        '<a class="z" href="/files/123">dup att</a>'
        '<a href="https://example.com/x">ext</a>'
        '<a href="https://travis-ci.org/b/1">denied host</a>'
        '<a href="https://github.com/o/r/pull/9">denied pull</a>'
        '<a href="https://github.com/o/r/tree/main">denied tree</a>'
        '<a href="https://github.com/o/r/issues/4">kept gh</a>'
        '<a href="/relative/page">kept rel</a></p>'
    )
    df = spark.createDataFrame([(html,)], "t string")
    hrefs = links.harvest_hrefs(F.col("t"))
    kept = links.harvest_kept_hrefs(F.col("t"))
    row = df.select(
        hrefs.alias("raw"),
        kept.alias("kept"),
        links.attachment_links(kept).alias("att"),
        links.external_links(kept).alias("ext"),
    ).collect()[0]
    assert row.raw[0] == "/files/123" and len(row.raw) == 7  # dedup
    assert set(row.kept) == {
        "/files/123",
        "https://example.com/x",
        "https://github.com/o/r/issues/4",
        "/relative/page",
    }
    assert row.att == ["/files/123"]
    assert set(row.ext) == {"https://example.com/x", "https://github.com/o/r/issues/4"}


def test_link_harvest_github_attr_rule(spark):
    """GithubScraper.java:188-198 — github.com hrefs whose <a> tag carries
    non-blank attrs before or after the href are navigation, not content;
    non-github hrefs keep their attrs."""
    from tika_addons_spark.functions import links

    html = (
        '<a class="nav" href="https://github.com/o/r/issues/5">pre attr</a>'
        '<a href="https://github.com/o/r/issues/6" rel="x">post attr</a>'
        '<a href="https://github.com/o/r/issues/7">bare kept</a>'
        '<a class="z" href="https://example.com/x">non-gh attr kept</a>'
        '<a href="https://github.com/o/r/tree/main">tree denied</a>'
    )
    df = spark.createDataFrame([(html,)], "t string")
    row = df.select(links.harvest_kept_hrefs(F.col("t")).alias("kept")).collect()[0]
    assert set(row.kept) == {
        "https://github.com/o/r/issues/7",
        "https://example.com/x",
    }
