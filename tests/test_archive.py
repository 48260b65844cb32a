"""X10 container unpack + embedded-doc flatten (Step3Unpacker semantics).

Reference parity points (bugtracker-crawler/.../Step3Unpacker.java:50-229):
sequential numbering per container, extension re-detected from member
CONTENT, single-child decompress for compressed wrappers, nested containers
expand on re-processing, malformed containers never throw.
"""

from __future__ import annotations

from tika_addons_spark.operators import archive


def make_gzwrap(name: str, payload: str) -> str:
    """Single-file compressed wrapper (gz/xz archetype) in the text format."""
    return f"%GZWRAP-1.0 name={name} len={len(payload)}\n{payload}\n"


def test_roundtrip_and_numbering():
    members = [
        ("a", "plain words here"),
        ("b", "%PDF-1.4\n%%Page 1\nhello\n%%EOF"),
        ("c", "<html><body>x</body></html>"),
        ("d", '<?xml version="1.0"?><r/>'),
    ]
    arc = archive.make_archive("pack1", members)
    rows = archive.explode_one("pack1", arc)
    assert [r["member_idx"] for r in rows] == [0, 1, 2, 3]
    assert [r["member_text"] for r in rows] == [m[1] for m in members]
    # extension re-detected from content, not from the member's own name
    assert [r["member_name"] for r in rows] == [
        "pack1-0.txt",
        "pack1-1.pdf",
        "pack1-2.html",
        "pack1-3.xml",
    ]
    assert [r["detected_type"] for r in rows] == [
        "text/plain",
        "application/pdf",
        "text/html",
        "application/xml",
    ]
    assert all(r["depth"] == 1 for r in rows)


def test_payload_containing_header_lines_roundtrips():
    # length-prefixed members: payloads that LOOK like member headers or
    # whole nested archives survive byte-for-byte
    tricky = "%%Member name=fake len=999\nnot a member\n%%ArchiveEnd\n"
    nested_text = archive.make_archive("inner", [("x", "deep")])
    arc = archive.make_archive("p", [("t", tricky)])
    rows = archive.explode_one("p", arc)
    assert rows[0]["member_text"] == tricky
    arc2 = archive.make_archive("p2", [("n", nested_text), ("t", "tail")])
    rows2 = archive.explode_one("p2", arc2, max_depth=1)
    # at max_depth=1 the nested archive is emitted as an unexpanded leaf
    assert rows2[0]["member_text"] == nested_text
    assert rows2[0]["is_container"] is True
    assert rows2[1]["member_text"] == "tail"


def test_nested_expansion_and_gzwrap():
    inner = archive.make_archive("inner", [("x", "leaf one"), ("y", "leaf two")])
    gz = make_gzwrap("single", "%PDF-1.4\ncompressed pdf\n%%EOF")
    outer = archive.make_archive("outer", [("i", inner), ("g", gz), ("p", "plain")])
    rows = archive.explode_one("outer", outer, max_depth=3)
    texts = {r["member_text"] for r in rows}
    assert {"leaf one", "leaf two", "plain"} <= texts
    # gzwrap decompresses to exactly one numbered child, re-detected as pdf
    pdfs = [r for r in rows if r["detected_type"] == "application/pdf"]
    assert len(pdfs) == 1 and pdfs[0]["member_name"].endswith("-0.pdf")
    assert pdfs[0]["member_idx"] == 0
    # nested leaves carry depth 2
    assert {r["depth"] for r in rows if r["member_text"].startswith("leaf")} == {2}
    # non-container roots explode to nothing (reference: skip non-package)
    assert archive.explode_one("x", "just some text") == []
    assert archive.explode_one("x", None) == []


def test_malformed_never_throws():
    good = archive.make_archive("g", [("a", "one"), ("b", "two")])
    truncated = good[: good.index("%%Member name=b")]  # cut mid-archive
    rows = archive.explode_one("t", truncated)
    assert [r["member_text"] for r in rows] == ["one"]
    # header lies about length → member dropped, no exception
    liar = "%ARCHIVE-1.0 name=l n=1\n%%Member name=a len=99999\nshort\n%%ArchiveEnd\n"
    assert archive.explode_one("l", liar) == []


def test_spark_explode_and_features(spark):
    inner = archive.make_archive("inner", [("x", "leaf")])
    rows = [
        ("c1", archive.make_archive("c1", [("a", "hello"), ("n", inner)])),
        ("c2", make_gzwrap("c2", "wrapped text")),
        ("c3", "not a container"),
    ]
    df = spark.createDataFrame(rows, "container_id string, payload string")
    out = archive.explode_members(df, ["container_id"], "payload").toPandas()
    assert set(out[out.container_id == "c1"].member_text) == {"hello", "leaf"}
    assert list(out[out.container_id == "c2"].member_text) == ["wrapped text"]
    assert (out.container_id != "c3").all()


def test_pack_explode_roundtrip_spark(spark):
    rows = [(i, f"grp{i % 3}", f"text number {i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    packed = archive.pack_members(df, "grp", "doc_id", "text")
    assert packed.count() == 3
    members = archive.explode_members(packed, ["container_id"], "payload").toPandas()
    assert len(members) == 30
    assert set(members.member_text) == {f"text number {i}" for i in range(30)}
    # deterministic ordering: members sorted by doc_id within container
    g0 = members[members.container_id == "arc-grp0"].sort_values("member_idx")
    assert list(g0.member_text) == [f"text number {i}" for i in range(0, 30, 3)]
