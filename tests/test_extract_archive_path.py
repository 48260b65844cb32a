"""X10 on the extraction path: base64 zip/gzip data-URI turns unpack real
bytes inside the extraction kernel, and extract_embedded_turns flattens
members into child rows (container → List<Metadata> shape,
TikaEvalDocMapper.java:86-127 / Step3Unpacker.java:102-180)."""

from __future__ import annotations

import base64

from tika_addons_spark.functions import sniff
from tika_addons_spark.operators import binarchive as ba
from tika_addons_spark.operators.extract import extract_embedded_turns, extract_turns
from tika_addons_spark.oracle import extract_one


def _zip_uri(members):
    return "data:application/zip;base64," + base64.b64encode(
        ba.make_zip(members)
    ).decode()


def _gz_uri(data: bytes):
    return "data:application/gzip;base64," + base64.b64encode(
        ba.make_gzip(data)
    ).decode()


def test_oracle_archive_turn_members_joined():
    uri = _zip_uri(
        [("a", b"alpha text"), ("b", b"%PDF-1.4\n%%Page 1\nbeta page\n%%EOF")]
    )
    out = extract_one(uri)
    assert out["detected_content_type"] == sniff.MIME_ZIP
    assert out["parse_status"] == "valid"
    assert out["extracted_text"] == "alpha text\nbeta page"
    assert out["meta"]["n_members"] == "2"
    # member spans are OUTPUT char ranges
    member_spans = [s for s in out["spans"] if s["kind"] == "member"]
    assert member_spans == [
        {"kind": "member", "start": 0, "end": 10},
        {"kind": "member", "start": 11, "end": 20},
    ]


def test_oracle_gzip_turn():
    out = extract_one(_gz_uri(b"wrapped body text"))
    assert out["detected_content_type"] == sniff.MIME_GZIP
    assert out["extracted_text"] == "wrapped body text"
    assert out["parse_status"] == "valid"


def _7z_uri(members):
    from tika_addons_spark.operators import sevenz as sz

    return "data:application/x-7z-compressed;base64," + base64.b64encode(
        sz.make_7z(members)
    ).decode()


def test_oracle_7z_turn_members_joined():
    """Round-4: 7z data-URI attachments extract like zip/gzip ones —
    through the from-scratch sevenz reader inside the same kernel."""
    uri = _7z_uri([("a.txt", b"seven alpha"), ("b.txt", b"seven beta")])
    out = extract_one(uri)
    assert out["detected_content_type"] == sniff.MIME_7Z
    assert out["parse_status"] == "valid"
    assert out["extracted_text"] == "seven alpha\nseven beta"
    assert out["meta"]["container"] == sniff.MIME_7Z
    # corrupt 7z URI: rejected with the archive taxonomy, never a raise
    bad = "data:application/x-7z-compressed;base64," + base64.b64encode(
        b"7z\xbc\xaf\x27\x1c" + b"\x00" * 24
    ).decode()
    out2 = extract_one(bad)
    assert out2["parse_status"] == "rejected"
    assert "archive-corrupt" in out2["warnings"]


def test_engine_7z_turn_arrow_oracle_parity(assert_arrow_equals_oracle):
    """The arrow router must send a 7z turn to the oracle kernel, next to
    plain and null siblings in the same batch."""
    uri = _7z_uri([("x", b"content one"), ("y", b"<html><body><p>two para words</p>")])
    got = assert_arrow_equals_oracle([uri, "plain sibling", None])
    assert got[0]["detected_content_type"] == sniff.MIME_7Z


def test_embedded_turns_include_7z(spark):
    uri = _7z_uri([("m0", b"leaf one"), ("m1", b"leaf two")])
    df = spark.createDataFrame(
        [("c1", 0, uri)], "conv_id string, turn_idx int, text string"
    )
    rows = extract_embedded_turns(df).orderBy("member_idx").collect()
    assert [r.extracted_text for r in rows] == ["leaf one", "leaf two"]
    assert all(r.status == "ok" for r in rows)


def test_oracle_corrupt_archive_rejected_not_raised():
    bad = "data:application/zip;base64," + base64.b64encode(
        b"PK\x03\x04" + b"\x00" * 20
    ).decode()
    out = extract_one(bad)
    assert out["parse_status"] == "rejected"
    assert "archive-corrupt" in out["warnings"]
    # invalid base64
    out2 = extract_one("data:application/zip;base64,@@not-base64@@")
    assert out2["parse_status"] == "rejected"
    assert "archive-b64-error" in out2["warnings"]


def test_engine_archive_turn_equals_oracle(spark):
    uri = _zip_uri([("a", b"alpha"), ("b", b"<html><body><p>beta para</p></body></html>")])
    rows = [
        ("c1", 0, "user", uri, None, None),
        ("c1", 1, "user", "plain turn", None, None),
        ("c1", 2, "user", _gz_uri(b"gz body"), None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = {r.turn_idx: r for r in extract_turns(df).collect()}
    for idx, text in ((0, uri), (1, "plain turn"), (2, _gz_uri(b"gz body"))):
        exp = extract_one(text)
        assert got[idx].extracted_text == exp["extracted_text"]
        assert got[idx].parse_status == exp["parse_status"]
        assert got[idx].detected_content_type == exp["detected_content_type"]
    assert got[0].detected_content_type == sniff.MIME_ZIP


def test_extract_embedded_turns_udtf(spark):
    uri = _zip_uri(
        [("a", b"alpha member"), ("b", b"%PDF-1.4\n%%Page 1\npage text\n%%EOF")]
    )
    corrupt = "data:application/zip;base64," + base64.b64encode(
        b"PK\x03\x04" + b"\xff" * 10
    ).decode()
    rows = [
        ("c1", 0, "user", uri, None, None),
        ("c1", 1, "user", "not an archive", None, None),
        ("c2", 0, "user", corrupt, None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = extract_embedded_turns(df).orderBy("conv_id", "turn_idx", "member_idx").collect()
    c1 = [r for r in got if r.conv_id == "c1"]
    assert [r.member_idx for r in c1] == [0, 1]  # parent key + position
    assert c1[0].extracted_text == "alpha member"
    assert c1[0].detected_type == sniff.MIME_PLAIN
    assert c1[1].detected_type == sniff.MIME_PDF
    assert c1[1].extracted_text == "page text"
    c2 = [r for r in got if r.conv_id == "c2"]
    assert len(c2) == 1 and c2[0].status.startswith("corrupt:")
    # non-archive turns emit nothing
    assert not [r for r in got if r.conv_id == "c1" and r.turn_idx == 1]


def test_fixture_corpus_contains_archive_turns(spark, transcripts_df):
    """The generator now emits archive turns; the full pipeline extracts
    them (engine≡oracle over the corpus is asserted elsewhere)."""
    from pyspark.sql import functions as F

    out = extract_turns(transcripts_df)
    counts = dict(
        out.groupBy("detected_content_type").count().collect()
    )
    counts = {r: c for r, c in counts.items()}
    assert any(k in counts for k in (sniff.MIME_ZIP, sniff.MIME_GZIP))
    # archive turns with healthy payloads extract non-empty text
    ok = out.filter(
        F.col("detected_content_type").isin(sniff.MIME_ZIP, sniff.MIME_GZIP)
        & (F.col("parse_status") != "rejected")
    )
    assert ok.filter(F.length("extracted_text") > 0).count() == ok.count()


def test_z_compress_data_uri_turn(assert_arrow_equals_oracle):
    """A base64 .Z data-URI turn must sniff as application/x-compress and
    unpack through the from-scratch LZW codec inside the extraction
    kernel — and the arrow engine must equal the oracle on it."""
    import base64

    from tika_addons_spark.operators import binarchive as ba
    from tika_addons_spark.operators import lzc
    from tika_addons_spark.oracle import extract_one

    inner = ba.make_zip([("m.txt", b"member text here"),
                         ("x.xml", b'<?xml version="1.0"?>ok')])
    uri = ("data:application/x-compress;base64,"
           + base64.b64encode(lzc.compress(inner)).decode())
    r = extract_one(uri)
    assert r["detected_content_type"] == sniff.MIME_COMPRESS
    assert r["parse_status"] == "valid"
    assert r["extracted_text"] == 'member text here\n<?xml version="1.0"?>ok'
    assert r["meta"]["n_members"] == "2"

    assert_arrow_equals_oracle([uri, "plain text"])


def test_lz4_data_uri_turn(assert_arrow_equals_oracle):
    """A base64 lz4 data-URI turn must sniff as application/x-lz4 and
    unpack through the from-scratch LZ4 frame codec inside the extraction
    kernel — and the arrow engine must equal the oracle on it."""
    import base64

    from tika_addons_spark.operators import binarchive as ba
    from tika_addons_spark.operators import lz4f
    from tika_addons_spark.oracle import extract_one

    inner = ba.make_zip([("m.txt", b"member text here"),
                         ("x.xml", b'<?xml version="1.0"?>ok')])
    uri = ("data:application/x-lz4;base64,"
           + base64.b64encode(lz4f.compress(inner)).decode())
    r = extract_one(uri)
    assert r["detected_content_type"] == sniff.MIME_LZ4
    assert r["parse_status"] == "valid"
    assert r["extracted_text"] == 'member text here\n<?xml version="1.0"?>ok'
    assert r["meta"]["n_members"] == "2"

    assert_arrow_equals_oracle([uri, "plain text"])


def test_snappy_data_uri_turn(assert_arrow_equals_oracle):
    """A base64 framed-snappy data-URI turn must sniff as
    application/x-snappy-framed and unpack through the from-scratch
    snappy codec inside the extraction kernel — arrow==oracle parity."""
    import base64

    from tika_addons_spark.operators import binarchive as ba
    from tika_addons_spark.operators import snappyf
    from tika_addons_spark.oracle import extract_one

    inner = ba.make_zip([("m.txt", b"member text here"),
                         ("x.xml", b'<?xml version="1.0"?>ok')])
    uri = ("data:application/x-snappy-framed;base64,"
           + base64.b64encode(snappyf.compress(inner)).decode())
    r = extract_one(uri)
    assert r["detected_content_type"] == sniff.MIME_SNAPPY
    assert r["parse_status"] == "valid"
    assert r["extracted_text"] == 'member text here\n<?xml version="1.0"?>ok'

    assert_arrow_equals_oracle([uri, "plain text"])
