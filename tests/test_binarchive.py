"""Real binary archive unpack (X10 bytes path) — kernel + operator tests.

Mirrors the reference's test strategy (SURVEY.md §5): round-trip goldens,
hostile/corrupt inputs asserting a status taxonomy instead of job failure
(UnpackerTest.java:23-29 expects an exception on zip64-sample.zip — here the
equivalent is a status='corrupt' row), and detection equivalence.
"""

from __future__ import annotations

import bz2
import lzma

import pytest

from tika_addons_spark.functions import sniff
from tika_addons_spark.operators import binarchive as ba


def test_detect_bytes_magics():
    assert ba.detect_bytes(ba.make_zip([("a", b"x")])) == ba.MIME_ZIP
    assert ba.detect_bytes(ba.make_tar([("a", b"x")])) == ba.MIME_TAR
    assert ba.detect_bytes(ba.make_gzip(b"x")) == ba.MIME_GZIP
    assert ba.detect_bytes(bz2.compress(b"x")) == ba.MIME_BZIP2
    assert ba.detect_bytes(lzma.compress(b"x")) == ba.MIME_XZ
    assert ba.detect_bytes(b"7z\xbc\xaf\x27\x1c rest") == ba.MIME_7Z
    assert ba.detect_bytes(b"Rar!\x1a\x07\x00 rest") == ba.MIME_RAR
    assert ba.detect_bytes(None) == sniff.MIME_EMPTY
    assert ba.detect_bytes(b"") == sniff.MIME_EMPTY
    assert ba.detect_bytes(b"\xff\xfe\x00\x01") == ba.MIME_BINARY  # undecodable
    # utf-8 payloads fall through to the text sniffer
    assert ba.detect_bytes("%PDF-1.4\nhello".encode()) == sniff.MIME_PDF
    assert ba.detect_bytes(b"<html><body>x") == sniff.MIME_HTML
    assert ba.detect_bytes("plain text".encode()) == sniff.MIME_PLAIN


def test_pack_determinism():
    members = [("a.txt", b"alpha"), ("b.txt", b"beta")]
    assert ba.make_zip(members) == ba.make_zip(members)
    assert ba.make_tar(members) == ba.make_tar(members)
    assert ba.make_gzip(b"abc") == ba.make_gzip(b"abc")


def test_unpack_zip_roundtrip_and_numbering():
    texts = ["first doc", "%PDF-1.4\nsecond", "<html><body>third"]
    z = ba.make_zip([(f"m{i}", t.encode()) for i, t in enumerate(texts)])
    rows = ba.unpack_one("arc", z, max_depth=3)
    assert [r["member_idx"] for r in rows] == [0, 1, 2]
    assert [r["member_text"] for r in rows] == texts
    assert [r["detected_type"] for r in rows] == [
        sniff.MIME_PLAIN, sniff.MIME_PDF, sniff.MIME_HTML,
    ]
    # numbered children with content-re-detected ext (not the entry name)
    assert [r["member_name"] for r in rows] == ["arc-0.txt", "arc-1.pdf", "arc-2.html"]
    assert all(r["status"] == "ok" and r["depth"] == 1 for r in rows)
    assert all(r["n_bytes"] == len(t.encode()) for r, t in zip(rows, texts))


def test_unpack_nested_gz_tar_zip():
    inner_zip = ba.make_zip([("d0", b"leaf zero"), ("d1", b"leaf one")])
    tar = ba.make_tar([("in.zip", inner_zip), ("note", b"tar-level note")])
    gz = ba.make_gzip(tar)
    rows = ba.unpack_one("root", gz, max_depth=4)
    leaves = [r for r in rows if not r["is_container"]]
    assert sorted(r["member_text"] for r in leaves) == [
        "leaf one", "leaf zero", "tar-level note",
    ]
    # gz(0) -> tar(1) -> zip member depth 2 -> zip leaves depth 3
    by_text = {r["member_text"]: r for r in leaves}
    assert by_text["tar-level note"]["depth"] == 2
    assert by_text["leaf zero"]["depth"] == 3
    assert by_text["leaf zero"]["member_name"].startswith("root-0.tar-0.zip-")


def test_unpack_compressed_wrappers_single_child():
    for pack, _mime in ((ba.make_gzip, ba.MIME_GZIP), (bz2.compress, ba.MIME_BZIP2),
                        (lzma.compress, ba.MIME_XZ)):
        rows = ba.unpack_one("w", pack("wrapped text".encode()), max_depth=2)
        assert len(rows) == 1
        assert rows[0]["member_idx"] == 0
        assert rows[0]["member_text"] == "wrapped text"
        assert rows[0]["member_name"] == "w-0.txt"


def test_depth_cap_emits_container_leaf():
    inner = ba.make_zip([("x", b"deep")])
    outer = ba.make_zip([("in.zip", inner)])
    rows = ba.unpack_one("arc", outer, max_depth=1)
    # child zip is NOT expanded (depth cap) — emitted as a container leaf
    assert len(rows) == 1
    assert rows[0]["is_container"] is True
    assert rows[0]["detected_type"] == ba.MIME_ZIP
    assert rows[0]["member_text"] is None


def test_corrupt_archives_never_raise():
    # zip magic + garbage (the zip64/corrupt analogue of UnpackerTest)
    bad_zip = b"PK\x03\x04" + b"\x00" * 40
    rows = ba.unpack_one("bad", bad_zip, max_depth=3)
    assert len(rows) == 1 and rows[0]["status"].startswith("corrupt:")
    # truncated gzip
    good = ba.make_gzip(b"hello world" * 10)
    rows = ba.unpack_one("trunc", good[: len(good) // 2], max_depth=3)
    assert len(rows) == 1 and rows[0]["status"].startswith("corrupt:")
    # corrupt member inside a healthy container: siblings still extracted
    z = ba.make_zip([("ok", b"fine"), ("bad.zip", bad_zip)])
    rows = ba.unpack_one("mix", z, max_depth=3)
    statuses = sorted(r["status"] for r in rows)
    assert statuses[0].startswith("corrupt:") and statuses[1] == "ok"
    texts = [r["member_text"] for r in rows if r["status"] == "ok"]
    assert texts == ["fine"]


def test_unsupported_formats_detected_not_unpacked():
    rar = b"Rar!\x1a\x07\x00" + b"\x00" * 32
    z = ba.make_zip([("a.rar", rar), ("b", b"text")])
    rows = ba.unpack_one("arc", z, max_depth=3)
    by_type = {r["detected_type"]: r for r in rows}
    assert by_type[ba.MIME_RAR]["status"] == "unsupported"
    assert by_type[sniff.MIME_PLAIN]["status"] == "ok"
    # a CORRUPT 7z nested in a healthy zip is corrupt (7z is unpackable now)
    fake7z = b"7z\xbc\xaf\x27\x1c" + b"\x00" * 32
    rows = ba.unpack_one("arc", ba.make_zip([("x.7z", fake7z)]), max_depth=3)
    assert len(rows) == 1 and rows[0]["status"].startswith("corrupt:")


def test_zip_bomb_guard_truncates():
    z = ba.make_zip([(f"m{i}", str(i).encode()) for i in range(50)])
    rows = ba.unpack_one("bomb", z, max_members=10)
    assert len(rows) == 11
    assert rows[-1]["status"] == "truncated"
    assert all(r["status"] == "ok" for r in rows[:-1])


def test_root_detect_only_emits_unsupported_row():
    """A root payload in a detected-but-unopenable format (rar) must
    surface as one status row, not vanish (taxonomy parity with the nested
    case). Genuinely non-container roots still return no rows."""
    rar = b"Rar!\x1a\x07\x00" + b"\x00" * 16
    rows = ba.unpack_one("r", rar, max_depth=3)
    assert len(rows) == 1
    assert rows[0]["status"] == "unsupported"
    assert rows[0]["detected_type"] == ba.MIME_RAR
    assert rows[0]["n_bytes"] == len(rar)
    assert ba.unpack_one("t", b"plain text payload", max_depth=3) == []


def test_member_bytes_cap_gzip_bomb():
    """50 KB gzip expanding to 50 MB: the bounded decompressor must stop at
    the cap, never materializing the payload (the real OOM vector)."""
    bomb = ba.make_gzip(b"\x00" * (50 * 1024 * 1024))
    assert len(bomb) < 100 * 1024  # it really is a bomb
    rows = ba.unpack_one("bomb", bomb, max_member_bytes=1024 * 1024)
    assert len(rows) == 1
    assert rows[0]["status"] == "too-large"
    assert rows[0]["member_bytes"] is None and rows[0]["member_text"] is None
    # under the cap the same payload round-trips fine
    small = ba.make_gzip(b"ok " * 10)
    assert ba.unpack_one("s", small, max_member_bytes=1024)[0]["status"] == "ok"


def test_member_bytes_cap_zip_declared_size():
    """Zip members over the cap are skipped by DECLARED size — only a sniff
    head is read — and the too-large row still carries size + sniffed type;
    siblings under the cap extract normally."""
    big = b"A" * (2 * 1024 * 1024)
    z = ba.make_zip([("big.txt", big), ("small.txt", b"tiny")])
    rows = ba.unpack_one("arc", z, max_member_bytes=1024 * 1024)
    by_status = {r["status"]: r for r in rows}
    assert set(by_status) == {"too-large", "ok"}
    tl = by_status["too-large"]
    assert tl["member_bytes"] is None
    assert tl["n_bytes"] == len(big)  # declared size reported
    assert tl["detected_type"] == sniff.MIME_PLAIN  # sniffed from the head
    assert by_status["ok"]["member_text"] == "tiny"


def test_member_bytes_cap_tar():
    big = b"B" * (512 * 1024)
    t = ba.make_tar([("big", big), ("ok", b"fine")])
    rows = ba.unpack_one("t", t, max_member_bytes=64 * 1024)
    statuses = sorted(r["status"] for r in rows)
    assert statuses == ["ok", "too-large"]


def test_total_bytes_cap_across_members():
    """Cumulative cap: many under-the-member-cap entries still can't exceed
    max_total_bytes in aggregate — overflowing members become too-large rows."""
    members = [(f"m{i}", bytes([65 + i]) * 100_000) for i in range(10)]
    z = ba.make_zip(members)
    rows = ba.unpack_one("arc", z, max_total_bytes=350_000)
    ok = [r for r in rows if r["status"] == "ok"]
    too = [r for r in rows if r["status"] == "too-large"]
    assert len(ok) == 3 and len(too) == 7  # 3 × 100 KB fit under 350 KB
    assert all(r["member_bytes"] is None for r in too)


def test_bounded_decompress_multistream_parity():
    """Concatenated gzip streams decode like gzip.decompress (the pre-cap
    semantics) when under the cap."""
    import gzip as _gz

    data = ba.make_gzip(b"first|") + ba.make_gzip(b"second")
    out, overflowed = ba._bounded_decompress(ba.MIME_GZIP, data, 1 << 20)
    assert not overflowed and out == _gz.decompress(data) == b"first|second"


def test_explode_binary_members_spark(spark):
    import pandas as pd

    inner = ba.make_zip([("d0", "alpha doc".encode()), ("d1", "%PDF-1.4\nx".encode())])
    gz = ba.make_gzip(ba.make_tar([("in.zip", inner)]))
    corrupt = b"PK\x03\x04" + b"\xde\xad" * 8
    df = spark.createDataFrame(
        pd.DataFrame({"container_id": ["c1", "c2"], "payload": [gz, corrupt]})
    )
    out = ba.explode_binary_members(df, ["container_id"], "payload", max_depth=4)
    rows = out.orderBy("container_id", "member_name").collect()
    c1 = [r for r in rows if r.container_id == "c1" and not r.is_container]
    assert sorted(r.member_text for r in c1) == ["%PDF-1.4\nx", "alpha doc"]
    assert {r.detected_type for r in c1} == {sniff.MIME_PLAIN, sniff.MIME_PDF}
    c2 = [r for r in rows if r.container_id == "c2"]
    assert len(c2) == 1 and c2[0].status.startswith("corrupt:")
    # X7 features present: byte length + digest over raw bytes
    import hashlib

    alpha = next(r for r in c1 if r.member_text == "alpha doc")
    assert alpha.n_bytes == len(b"alpha doc")
    assert alpha.sha256 == hashlib.sha256(b"alpha doc").hexdigest()


def test_explode_binary_members_plan_is_narrow(spark):
    """One MapInArrow, no shuffle — the X10 scale contract."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"container_id": ["c"], "payload": [ba.make_gzip(b"x")]})
    )
    plan = ba.explode_binary_members(df, ["container_id"], "payload")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "Exchange" not in plan
