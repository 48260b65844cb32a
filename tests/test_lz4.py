"""LZ4 frame/block codec: round trips, REAL external validation against
the JVM ``lz4-java`` library bundled inside pyspark's jars (the same
implementation Spark uses for shuffle/IO compression), bounded-output
bomb posture, malformed-input taxonomy, and the binarchive wiring."""

from __future__ import annotations

import os
import random
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tika_addons_spark.operators import binarchive as ba
from tika_addons_spark.operators import lz4f


def _corpus(rng: random.Random) -> list[bytes]:
    return [
        b"",
        b"a",
        b"abcd",  # below any match window
        b"hello lz4 world",
        b"abcabcabc" * 50,  # short-offset overlapping matches
        b"the quick brown fox jumps over the lazy dog. " * 300,
        bytes(rng.randrange(256) for _ in range(5000)),  # incompressible
        bytes(rng.randrange(4) for _ in range(100000)),  # long matches
        b"\x00" * 70000,  # offset-1 overlap run crossing block sizes
        (b"A" * 300 + b"B") * 500,  # >255 literal/match extension bytes
    ]


def test_xxh32_public_vectors():
    # spec vectors: empty input and the classic python-docs sentence
    assert lz4f.xxh32(b"") == 0x02CC5D05
    assert lz4f.xxh32(b"Nobody inspects the spammish repetition") == 0xE2293B2F
    assert lz4f.xxh32(b"Nobody inspects the spammish repetition", 0) != lz4f.xxh32(
        b"Nobody inspects the spammish repetition", 1
    )


def test_frame_roundtrip():
    rng = random.Random(1)
    for data in _corpus(rng):
        for block_max in (65536, 1 << 20):
            fr = lz4f.compress(data, block_max=block_max)
            assert fr[:4] == lz4f.MAGIC
            back, overflowed = lz4f.decompress(fr, 10_000_000)
            assert not overflowed and back == data, (len(data), block_max)


def test_block_roundtrip():
    rng = random.Random(2)
    for data in _corpus(rng):
        blk = lz4f.compress_block(data)
        out = bytearray()
        over = lz4f.decompress_block(blk, out, 10_000_000)
        assert not over and bytes(out) == data


def test_bounded_output_overflow_contract():
    """Same (payload, overflowed) contract as lzc.py: a cap smaller than
    the content yields exactly the prefix plus the overflow flag, without
    materializing the rest — including when the declared content size
    already proves overflow."""
    data = b"sixteen byte rep" * 4096  # 64 KiB
    fr = lz4f.compress(data)
    for cap in (0, 1, 100, 65535):
        out, over = lz4f.decompress(fr, cap)
        assert over and out == data[:cap], cap
    out, over = lz4f.decompress(fr, len(data))
    assert not over and out == data


def test_declared_bomb_bails_early():
    """A frame declaring a huge content size must not decode past the
    cap: 256 bytes of zeros expanding from a ~40-byte frame stops at the
    limit (prefix returned), regardless of how big the declaration is."""
    data = b"\x00" * 1_000_000
    fr = lz4f.compress(data)
    out, over = lz4f.decompress(fr, 1000)
    assert over and out == data[:1000]


def test_skippable_and_concatenated_frames():
    a, b = b"first frame ", b"and the second"
    skip = struct.pack("<II", 0x184D2A50, 4) + b"user"
    stream = lz4f.compress(a) + skip + lz4f.compress(b)
    out, over = lz4f.decompress(stream, 10_000)
    assert not over and out == a + b


def test_malformed_inputs_raise_badlz4():
    data = b"abcabcabc" * 50
    good = lz4f.compress(data)
    with pytest.raises(lz4f.BadLz4):
        lz4f.decompress(b"\x00\x11\x22\x33" + good[4:], 10_000)  # bad magic
    with pytest.raises(lz4f.BadLz4):
        lz4f.decompress(good[:-6], 10_000)  # truncated EndMark/checksum
    bad_hc = bytearray(good)
    bad_hc[14] ^= 0xFF  # header-checksum byte for FLG with C.Size
    with pytest.raises(lz4f.BadLz4):
        lz4f.decompress(bytes(bad_hc), 10_000)
    # oversized block-size field (bomb guard: checked before any read)
    blk = bytearray(good)
    struct.unpack_from("<I", blk, 15)  # layout sanity: block size at 15
    struct.pack_into("<I", blk, 15, (64 << 20))
    with pytest.raises(lz4f.BadLz4):
        lz4f.decompress(bytes(blk), 10**9)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=400), st.integers(0, 2**32 - 1))
def test_fuzzed_bytes_never_crash(blob, seed):
    """Arbitrary bytes with a forced magic either decode, raise BadLz4, or
    raise UnsupportedCoder (a fuzzed FLG can set the dictID bit) — never an
    unbounded allocation or a foreign exception."""
    from tika_addons_spark.operators import sevenz

    try:
        out, _ = lz4f.decompress(lz4f.MAGIC + blob, 100_000)
        assert len(out) <= 100_000
    except (lz4f.BadLz4, sevenz.UnsupportedCoder):
        pass


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=2000))
def test_property_roundtrip(data):
    back, over = lz4f.decompress(lz4f.compress(data), 10_000_000)
    assert not over and back == data


def _read_all_java(in_stream) -> bytes:
    # Java 17 InputStream.readAllBytes: py4j can't round-trip a
    # read(byte[]) fill buffer, but a byte[] RETURN converts cleanly
    out = bytes(in_stream.readAllBytes())
    in_stream.close()
    return out


def test_jvm_lz4java_cross_validation(spark):
    """REAL external compatibility, both directions and both layers,
    against net.jpountz.lz4 (lz4-java-1.8.0.jar, shipped with Spark):

    - lz4-java's LZ4FrameOutputStream bytes decode with OUR frame reader;
    - OUR frames decode with lz4-java's LZ4FrameInputStream;
    - lz4-java's raw block compressor output decodes with OUR block
      decoder, and vice versa.
    """
    jvm = spark._jvm
    rng = random.Random(3)
    cases = [c for c in _corpus(rng) if c]  # the streams dislike empty writes

    factory = jvm.net.jpountz.lz4.LZ4Factory.fastestInstance()
    for data in cases:
        # frame: JVM writer -> our reader
        baos = jvm.java.io.ByteArrayOutputStream()
        fos = jvm.net.jpountz.lz4.LZ4FrameOutputStream(baos)
        fos.write(bytearray(data))
        fos.close()
        theirs = bytes(baos.toByteArray())
        ours, over = lz4f.decompress(theirs, 10_000_000)
        assert not over and ours == data, len(data)

        # frame: our writer -> JVM reader
        bais = jvm.java.io.ByteArrayInputStream(bytearray(lz4f.compress(data)))
        fis = jvm.net.jpountz.lz4.LZ4FrameInputStream(bais)
        assert _read_all_java(fis) == data, len(data)

        # block: JVM compressor -> our decoder
        jblk = bytes(factory.fastCompressor().compress(bytearray(data)))
        out = bytearray()
        assert not lz4f.decompress_block(jblk, out, 10_000_000)
        assert bytes(out) == data, len(data)

        # block: our encoder -> JVM safe decompressor
        mine = lz4f.compress_block(data)
        back = bytes(
            factory.safeDecompressor().decompress(bytearray(mine), len(data))
        )
        assert back == data, len(data)


def test_binarchive_detect_and_unpack_lz4():
    """binarchive wiring: an lz4-framed tar is detected and walked like
    the gz/.Z wrappers — one child, re-detected content, recursion."""
    inner = ba.make_tar(
        [("a.txt", b"hello lz4 member"), ("b.xml", b"<?xml version='1.0'?><r/>")]
    )
    payload = lz4f.compress(inner)
    assert ba.detect_bytes(payload) == ba.MIME_LZ4
    rows = ba.unpack_one("root.lz4", payload, max_depth=3)
    assert {r["status"] for r in rows} == {"ok"}
    assert "hello lz4 member" in {r["member_text"] for r in rows}
    # the single decompressed child re-detected as tar and recursed:
    # leaf depths are 2 (tar members under the lz4 wrapper)
    assert {r["depth"] for r in rows} == {2}


def test_binarchive_corrupt_lz4_taxonomy():
    # FLG's dictionary bit cleared: a dictionary frame is 'unsupported', not
    # corrupt (test_dictionary_frame_is_unsupported_not_garbage); left set,
    # it made one random blob in 16 fail this test
    tail = bytearray(os.urandom(64))
    tail[0] &= 0xFE
    blob = lz4f.MAGIC + bytes(tail)
    rows = ba.unpack_one("bad.lz4", blob, max_depth=2)
    assert any(r["status"].startswith("corrupt") for r in rows)


def test_binarchive_lz4_bomb_cap():
    """A 1 MB zero-run framed as ~4 KB of lz4 must degrade to a
    too-large status row under a small member cap, not materialize."""
    payload = lz4f.compress(b"\x00" * 1_000_000)
    rows = ba.unpack_one("bomb.lz4", payload, max_member_bytes=10_000)
    assert [r["status"] for r in rows] == ["too-large"]
    assert rows[0]["member_bytes"] is None


# ---- round-6 ADVICE items: dictionary frames, cross-frame match floor -----


def test_dictionary_frame_is_unsupported_not_garbage():
    """FLG bit 0 (dictID) means the frame needs an external dictionary we
    do not have; decoding without it yields garbage or a spurious corrupt.
    It must surface as the unsupported taxonomy instead."""
    from tika_addons_spark.operators import sevenz

    flg = (1 << 6) | (1 << 5) | 0x01      # v01, B.Indep, dictID
    desc = bytes([flg, 4 << 4]) + (1234).to_bytes(4, "little")
    hc = (lz4f.xxh32(desc) >> 8) & 0xFF
    frame = lz4f.MAGIC + desc + bytes([hc]) + b"\x00\x00\x00\x00"
    with pytest.raises(sevenz.UnsupportedCoder):
        lz4f.decompress(frame, 10_000)
    # binarchive maps it to one unsupported row, never corrupt
    from tika_addons_spark.operators import binarchive as ba
    rows = ba.unpack_one("d", frame, max_depth=2)
    assert [r["status"] for r in rows] == ["unsupported"]


def test_concatenated_frame_matches_cannot_reach_previous_frame():
    """A match offset in frame 2 that reaches back into frame 1's output is
    spec-invalid (frames are independent); it used to decode leniently to
    garbage when no content checksum was present."""
    a = lz4f.compress(b"A" * 100)          # frame 1: 100 bytes of output
    flg = (1 << 6) | (1 << 5)              # v01, B.Indep, no checksums/size
    desc = bytes([flg, 4 << 4])
    hc = (lz4f.xxh32(desc) >> 8) & 0xFF
    # one block: 4 literals then a match at offset 20 (reaches into frame 1)
    blk = bytes([0x40]) + b"WXYZ" + (20).to_bytes(2, "little")
    frame2 = (
        lz4f.MAGIC + desc + bytes([hc])
        + len(blk).to_bytes(4, "little") + blk
        + b"\x00\x00\x00\x00"
    )
    with pytest.raises(lz4f.BadLz4):
        lz4f.decompress(a + frame2, 10_000)
    # the same offset WITHIN one frame's history stays legal
    blk_ok = bytes([0x40]) + b"WXYZ" + (4).to_bytes(2, "little")
    frame_ok = (
        lz4f.MAGIC + desc + bytes([hc])
        + len(blk_ok).to_bytes(4, "little") + blk_ok
        + b"\x00\x00\x00\x00"
    )
    out, over = lz4f.decompress(a + frame_ok, 10_000)
    assert not over and out == b"A" * 100 + b"WXYZ" + b"WXYZ"


def test_every_bitflip_bounded_or_caught():
    """400 single-bit flips of a VALID frame (the rar5-style gate): the
    frame's header/content checksums catch most flips as BadLz4; any flip
    that still decodes must stay within the output bound. Flips that set
    the dictID FLG bit legally surface as UnsupportedCoder."""
    import random

    from tika_addons_spark.operators import sevenz

    data = (b"the quick brown fox jumps over the lazy dog " * 300)[:12_000]
    blob = lz4f.compress(data)
    cap = len(data) * 4
    for t in range(400):
        rng = random.Random(t)
        b = bytearray(blob)
        b[rng.randrange(0, len(b))] ^= 1 << rng.randrange(8)
        try:
            out, over = lz4f.decompress(bytes(b), cap)
        except (lz4f.BadLz4, sevenz.UnsupportedCoder):
            continue
        assert len(out) <= cap + 1
