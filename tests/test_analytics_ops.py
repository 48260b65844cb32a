"""Dedup family, similarity search, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tika_addons_spark.operators import dedup, multimodal, similarity


def make_jpeg_progressive(width: int, height: int) -> bytes:
    """Genuine PROGRESSIVE JFIF (SOF2, T.81 Annex G) of the
    ``synth_pixels`` gradient, built from the encoder pieces of
    ``multimodal.make_jpeg_420(progressive=True)``: grayscale, six scans
    exercising every progressive coding mode (DC first at Al=1, DC
    refinement, spectral-selection AC first scans for bands 1-5 and 6-63
    at Al=2, then two AC refinement scans at Al=1 and Al=0 with EOB runs
    and buffered correction bits). Coefficients are identical to
    ``make_jpeg``'s for the same content, so decode equality against the
    baseline file is the round-trip test."""
    import struct

    import numpy as np

    from tika_addons_spark.operators.multimodal import (
        _JPEG_ACP_BITS, _JPEG_ACP_VALS, _JPEG_DC_BITS, _JPEG_DC_VALS, _JPEG_Q,
        _emit_ac_first, _emit_ac_refine, _flush_eobrun, _huff_codes,
        _JpegBitWriter, _plane_to_zz, _ProgState, synth_pixels,
    )

    gray = synth_pixels(width, height)[:, :, 0].astype(np.float64)
    ph, pw = (-height) % 8, (-width) % 8
    g = np.pad(gray, ((0, ph), (0, pw)), mode="edge") - 128.0
    zz = _plane_to_zz(g)
    nby, nbx = zz.shape[0], zz.shape[1]
    blocks = zz.reshape(nby * nbx, 64)

    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_ACP_BITS, _JPEG_ACP_VALS)

    scans = []
    for ss, se, ah, al in (
        (0, 0, 0, 1), (0, 0, 1, 0),
        (1, 5, 0, 2), (6, 63, 0, 2),
        (1, 63, 2, 1), (1, 63, 1, 0),
    ):
        w = _JpegBitWriter()
        st = _ProgState()
        dc_prev = 0
        for blk in blocks:
            if ss == 0 and ah == 0:  # DC first: arithmetic shift by Al
                v = int(blk[0]) >> al
                diff = v - dc_prev
                dc_prev = v
                size = abs(diff).bit_length()
                code, length = dc_codes[size]
                w.write(code, length)
                if size:
                    w.write(
                        diff if diff >= 0 else diff + (1 << size) - 1, size
                    )
            elif ss == 0:  # DC refinement: one raw bit per block
                w.write((int(blk[0]) >> al) & 1, 1)
            elif ah == 0:
                _emit_ac_first(w, ac_codes, st, blk, ss, se, al)
            else:
                _emit_ac_refine(w, ac_codes, st, blk, ss, se, al)
        if ss != 0:
            _flush_eobrun(w, ac_codes, st)
        sos = (
            b"\xff\xda" + struct.pack(">H", 8) + b"\x01" + b"\x01\x00"
            + bytes([ss, se, (ah << 4) | al])
        )
        scans.append(sos + w.finish())

    app0 = (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x02\x00" + b"\x00\x01\x00\x01\x00\x00"
    )
    dqt = b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + bytes(
        int(x) for x in _JPEG_Q
    )
    sof2 = (
        b"\xff\xc2" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", height, width) + b"\x01" + b"\x01\x11\x00"
    )
    dht = (
        b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_JPEG_DC_VALS))
        + b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_JPEG_ACP_VALS))
        + b"\x10" + bytes(_JPEG_ACP_BITS) + bytes(_JPEG_ACP_VALS)
    )
    return (
        b"\xff\xd8" + app0 + dqt + sof2 + dht
        + b"".join(scans) + b"\xff\xd9"
    )


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (2, "the quick brown fox jumped over the lazy dog", "en"),  # near dup
        (3, "completely different content about spark engines", "en"),
        (4, "el rapido zorro marron salta sobre el perro", "es"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs, "doc_id", "text").collect()
    dup = [g for g in groups if g.n_copies == 2]
    assert len(dup) == 1 and dup[0].keep_id == 0 and dup[0].ids == [0, 1]


def test_minhash_lsh_finds_near_dups(docs):
    sigs = dedup.minhash_signatures(docs, "doc_id", "text")
    assert sigs.count() == 5
    pairs = dedup.minhash_lsh_pairs(sigs)
    est = dedup.minhash_jaccard_estimate(sigs, pairs)
    got = {(r.id_a, r.id_b): r.est_jaccard for r in est.collect()}
    assert got.get((0, 1)) == 1.0           # exact dup → identical signature
    assert got.get((0, 2), 0) > 0.5         # near dup found with high estimate
    assert (0, 3) not in got and (1, 3) not in got  # unrelated not candidates


def test_minhash_determinism(docs):
    a = dedup.minhash_signatures(docs, "doc_id", "text").orderBy("id").collect()
    b = dedup.minhash_signatures(docs, "doc_id", "text").orderBy("id").collect()
    assert [r.signature for r in a] == [r.signature for r in b]


def test_simhash_near_pairs(spark, docs):
    # block-bucket candidate generation guarantees recall for hamming ≤ 3
    # (pigeonhole over 4×16-bit blocks); long docs with a 1-word edit land
    # well inside that ball.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 20
    edited = base.replace("zeta", "zzz", 1)
    long_docs = spark.createDataFrame(
        [(10, base), (11, edited), (12, "unrelated short text")],
        "doc_id long, text string",
    )
    sigs = dedup.simhash_signatures(long_docs, "doc_id", "text")
    pairs = dedup.simhash_near_pairs(sigs, max_hamming=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert (10, 11) in got and got[(10, 11)] <= 3
    assert (10, 12) not in got

    # identical texts → hamming 0
    sigs2 = dedup.simhash_signatures(docs, "doc_id", "text")
    got2 = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_pairs(sigs2, max_hamming=3).collect()
    }
    assert got2.get((0, 1)) == 0


def test_simhash_near_pairs_hamming_zero(spark, docs):
    # max_hamming=0 → a single 64-bit block; candidates are exact simhash
    # equality (regression: the 64-bit mask used to overflow Spark's long
    # literal at plan build)
    sigs = dedup.simhash_signatures(docs, "doc_id", "text")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_near_pairs(sigs, max_hamming=0).collect()
    }
    assert got.get((0, 1)) == 0  # identical texts
    assert all(h == 0 for h in got.values())


def test_ngram_jaccard_blocked(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert got.get((0, 1)) == 1.0
    assert 0.5 < got.get((0, 2), 0) < 1.0
    # blocked: cross-language pairs never considered
    assert all(a != 4 and b != 4 for a, b in got)


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.normal(size=(20, 8))
    base[1] = base[0] + 0.01 * rng.normal(size=8)  # vec 1 ≈ vec 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_bruteforce_topk(vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    top = similarity.cosine_topk_bruteforce(vectors, q, k=3, vec_col="embedding")
    rows = top.orderBy("rank").collect()
    assert len(rows) == 3
    assert rows[0].neighbor_id == 1  # the planted near-neighbor
    assert rows[0].cos_sim > 0.99
    sims = [r.cos_sim for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_lsh_ann_recall_at_1(vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    top = similarity.cosine_topk_lsh(
        vectors, q, k=3, n_bits=8, dim=8
    ).orderBy("rank").collect()
    # multi-probe 1-bit-flip buckets must recover the planted neighbor
    assert top and top[0].neighbor_id == 1


def test_media_header_parsers():
    h = multimodal.parse_media_header(multimodal.make_png(640, 480))
    assert (h["media_type"], h["width"], h["height"]) == ("image/png", 640, 480)
    h = multimodal.parse_media_header(multimodal.make_gif(320, 200))
    assert (h["media_type"], h["width"], h["height"]) == ("image/gif", 320, 200)
    h = multimodal.parse_media_header(multimodal.make_jpeg(1024, 768))
    assert (h["media_type"], h["width"], h["height"]) == ("image/jpeg", 1024, 768)
    h = multimodal.parse_media_header(multimodal.make_wav(1500))
    assert (h["media_type"], h["duration_ms"]) == ("audio/wav", 1500)
    # malformed: truncated PNG keeps type, null dims; never throws
    h = multimodal.parse_media_header(b"\x89PNG\r\n\x1a\nIH")
    assert h["media_type"] == "image/png" and h["width"] is None
    assert multimodal.parse_media_header(None)["media_type"] == "application/octet-stream"


def test_png_decode_roundtrip_all_filters():
    """decode_png must invert all five scanline filters (the synthesizer
    cycles filter types 0..4 per row) and reproduce the exact pixels."""
    import numpy as np

    for w, h in ((8, 7), (1, 1), (17, 5)):
        png = multimodal.make_png(w, h)
        px = multimodal.decode_png(png)
        assert px is not None and px.shape == (h, w, 3)
        assert np.array_equal(px, multimodal.synth_pixels(w, h)), (w, h)
    # malformed → None, never raises
    assert multimodal.decode_png(b"\x89PNG\r\n\x1a\njunk") is None
    assert multimodal.decode_png(b"not a png") is None


def test_gif_decode_roundtrip():
    """decode_gif must run a real LZW decode (the synthesizer compresses the
    index stream), including the 12-bit-width region on larger images."""
    import numpy as np

    for w, h in ((10, 5), (1, 1), (100, 80)):
        px = multimodal.decode_gif(multimodal.make_gif(w, h))
        assert px is not None and px.shape == (h, w, 3)
        assert np.array_equal(px[:, :, 0], multimodal.synth_pixels(w, h)[:, :, 0])
    assert multimodal.decode_gif(b"GIF89a\x00\x00") is None
    assert multimodal.decode_gif(b"not a gif") is None
    # raw LZW round trip incl. dictionary reset pressure
    data = bytes(range(256)) * 40
    assert multimodal._lzw_decode(multimodal._lzw_encode(data, 8), 8) == data


def _gif_with_codes(min_code: int, codes: list[int]) -> bytes:
    """A 4x4 GIF whose LZW stream is CLEAR, ``codes``, END at the initial
    code width, behind the declared ``min_code`` byte."""
    import struct

    clear, width = 1 << min_code, min_code + 1
    bw = multimodal._BitWriter()
    for code in [clear, *codes, clear + 1]:
        bw.write(code, width)
    lzw = bw.finish()
    return (
        b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0xF7, 0, 0)
        + multimodal._GIF_GRAY_PALETTE
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 4, 0)
        + bytes([min_code, len(lzw)]) + lzw + b"\x00;"
    )


def test_gif_rejects_min_code_size_over_8():
    """A min code size above 8 would put the CLEAR/END slots past the 256
    byte roots; such a stream is malformed and must be rejected, not
    decoded to pixels."""
    codes = list(range(16))
    px = multimodal.decode_gif(_gif_with_codes(8, codes))  # control: legal
    assert px is not None and px.shape == (4, 4, 3)
    assert px[:, :, 0].reshape(-1).tolist() == codes
    assert multimodal.decode_gif(_gif_with_codes(9, codes)) is None
    assert multimodal.decode_gif(_gif_with_codes(11, codes)) is None


def test_jpeg_decode_roundtrip():
    """decode_jpeg must run the real baseline pipeline — Huffman tables read
    from DHT, entropy decode, dequant through the zigzag, IDCT — and land
    within quantization error of the encoder's input pixels."""
    import numpy as np

    for w, h in ((8, 8), (1, 1), (17, 5), (96, 48)):
        px = multimodal.decode_jpeg(multimodal.make_jpeg(w, h))
        assert px is not None and px.shape == (h, w, 1), (w, h)
        ref = multimodal.synth_pixels(w, h)[:, :, 0].astype(np.float64)
        err = np.abs(px[:, :, 0].astype(np.float64) - ref)
        # flat-8 quant table: bounded lossy error, structurally faithful
        assert err.max() <= 12 and err.mean() <= 2.0, (w, h, err.max())
    # header-only/truncated/garbage → None, never raises
    assert multimodal.decode_jpeg(b"\xff\xd8\xff\xe0 fake jpeg") is None
    assert multimodal.decode_jpeg(b"not a jpeg") is None
    good = multimodal.make_jpeg(32, 32)
    assert multimodal.decode_jpeg(good[: len(good) // 2]) is None


def test_png_adam7_decode_exact():
    """Adam7-interlaced PNG (the progressive-rendering layout of real web
    PNGs): seven independently-filtered reduced images must scatter back
    to exactly the source pixels, including degenerate sizes where some
    passes are empty."""
    import numpy as np

    for w, h in ((1, 1), (3, 2), (8, 8), (31, 17), (5, 1), (1, 9)):
        px = multimodal.decode_png(multimodal.make_png(w, h, interlace=True))
        assert px is not None and px.shape == (h, w, 3), (w, h)
        assert (px == multimodal.synth_pixels(w, h)).all(), (w, h)
    # truncated interlaced stream → None, never raises
    good = multimodal.make_png(16, 16, interlace=True)
    assert multimodal.decode_png(good[: len(good) // 2]) is None


def _png(width: int, height: int, color: int, interlace: int, idat: bytes) -> bytes:
    import struct

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n" + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", idat) + multimodal._png_chunk(b"IEND", b"")
    )


def test_png_decompression_bomb_is_bounded():
    """decode_png bounds its work by the size IHDR implies, never by what
    the IDAT inflates to or what the header claims: a 1x1 image carrying
    200 MB of zeros and a 60000x60000 Adam7 canvas behind a few bytes must
    both return None with a small traced peak."""
    import tracemalloc
    import zlib

    z = zlib.compressobj(9)
    zeros = bytes(1 << 20)
    idat = b"".join(z.compress(zeros) for _ in range(200)) + z.flush()
    inflate_bomb = _png(1, 1, 2, 0, idat)
    canvas_bomb = _png(60000, 60000, 0, 1, zlib.compress(b""))
    assert len(inflate_bomb) < 256 * 1024 and len(canvas_bomb) < 128
    for png in (inflate_bomb, canvas_bomb):
        tracemalloc.start()
        try:
            assert multimodal.decode_png(png) is None
            _cur, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak <= 16 * 1024 * 1024, (len(png), peak)


def test_jpeg_header_size_claim_is_bounded():
    """decode_jpeg bounds its allocations by the decoded size SOF implies
    (h x w x components), never by what the header claims: a 16x16 JPEG
    whose SOF is patched to claim 16384x16384 or 65535x65535 must return
    None with a small traced peak, before any coefficient plane exists."""
    import tracemalloc

    good = multimodal.make_jpeg(16, 16)
    sof = good.index(b"\xff\xc0")
    for side in (16384, 65535):
        dims = side.to_bytes(2, "big") * 2  # height, width
        crafted = good[: sof + 5] + dims + good[sof + 9 :]
        assert len(crafted) == len(good)
        tracemalloc.start()
        try:
            assert multimodal.decode_jpeg(crafted) is None
            _cur, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak <= 16 * 1024 * 1024, (side, peak)


def test_gif_interlaced_decode_exact():
    """GIF89a 4-pass interlacing: rows stored in pass order must scatter
    back to exactly the source pixels."""
    import numpy as np

    for w, h in ((1, 1), (5, 3), (16, 9), (31, 17), (2, 13)):
        px = multimodal.decode_gif(multimodal.make_gif(w, h, interlace=True))
        assert px is not None and px.shape == (h, w, 3), (w, h)
        assert (px[:, :, 0] == multimodal.synth_pixels(w, h)[:, :, 0]).all()


def test_jpeg_420_decode_exact():
    """4:2:0 chroma-subsampled color JPEG — the dominant real-world shape:
    interleaved 16x16 MCUs (4 luma + Cb + Cr blocks in raster order),
    chroma upsampled 2x2, optional restart intervals with DC-predictor
    reset. Constant-per-MCU content survives the flat-q DCT round trip
    EXACTLY, so the decode is checked for equality, not bounded error."""
    import numpy as np

    for w, h, base, ri in ((32, 32, 40, 0), (48, 16, 60, 0),
                           (40, 24, 55, 3), (16, 16, 0, 1)):
        px = multimodal.decode_jpeg(
            multimodal.make_jpeg_420(w, h, base=base, restart_interval=ri)
        )
        assert px is not None and px.shape == (h, w, 3), (w, h, ri)
        exp = multimodal.tile_luma(w, h, base)
        for c in range(3):  # flat 128 chroma -> R = G = B = Y exactly
            assert (px[:, :, c].astype(np.int64) == exp).all(), (w, h, ri, c)

    # non-neutral constant chroma: exact against the T.81 YCbCr->RGB form
    y = multimodal.tile_luma(32, 32, 80).astype(np.float64)
    cb, cr = 90.0, 160.0
    px = multimodal.decode_jpeg(
        multimodal.make_jpeg_420(32, 32, base=80, chroma=(int(cb), int(cr)))
    )
    exp = np.stack([
        np.rint(np.clip(y + 1.402 * (cr - 128), 0, 255)),
        np.rint(np.clip(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128),
                        0, 255)),
        np.rint(np.clip(y + 1.772 * (cb - 128), 0, 255)),
    ], axis=-1)
    assert (px.astype(np.float64) == exp).all()

    # truncated subsampled stream → None, never raises
    good = multimodal.make_jpeg_420(32, 32)
    assert multimodal.decode_jpeg(good[: len(good) // 2]) is None


def test_jpeg_progressive_decode():
    """SOF2 progressive (T.81 Annex G): spectral selection + successive
    approximation with DC/AC refinement scans and EOB runs. The encoder
    produces the same quantized coefficients as the baseline writer, so
    the decoded pixels must be IDENTICAL to the baseline decode — for
    grayscale six-scan streams and for the color 4:2:0 layout
    (interleaved DC scans + per-component AC scans over each component's
    own subsampled grid, incl. odd sizes with MCU padding)."""
    import numpy as np

    for w, h in ((8, 8), (17, 5), (96, 48), (1, 1), (33, 31)):
        prog = multimodal.decode_jpeg(make_jpeg_progressive(w, h))
        base = multimodal.decode_jpeg(multimodal.make_jpeg(w, h))
        assert prog is not None and (prog == base).all(), (w, h)
    for w, h in ((16, 16), (40, 24), (17, 9), (33, 31)):
        prog = multimodal.decode_jpeg(
            multimodal.make_jpeg_420(w, h, gradient=True, progressive=True)
        )
        base = multimodal.decode_jpeg(multimodal.make_jpeg_420(w, h, gradient=True))
        assert prog is not None and (prog == base).all(), (w, h)
    # tile-constant content: progressive decode is closed-form EXACT
    for w, h, b in ((32, 32, 40), (48, 32, 60)):
        px = multimodal.decode_jpeg(
            multimodal.make_jpeg_420(w, h, base=b, progressive=True)
        )
        exp = multimodal.tile_luma(w, h, b)
        assert px is not None
        for c in range(3):
            assert (px[:, :, c].astype(np.int64) == exp).all(), (w, h, c)
    # truncated progressive stream → None, never raises
    good = make_jpeg_progressive(32, 32)
    assert multimodal.decode_jpeg(good[: len(good) // 2]) is None


def test_wav_decode_roundtrip():
    import numpy as np

    wav = multimodal.make_wav(250, sample_rate=8000)
    dec = multimodal.decode_wav(wav)
    assert dec is not None
    s, rate = dec
    assert rate == 8000 and len(s) == 2000  # 250 ms at 8 kHz
    expect = (multimodal.synth_samples(2000).astype(np.float64) - 128) / 128
    assert np.allclose(s, expect)
    assert multimodal.decode_wav(b"RIFFxxxx") is None


def test_wav_16bit_stereo_roundtrip():
    """PCM envelope breadth: 16-bit signed samples and interleaved stereo
    must decode losslessly (16-bit values are exact multiples of 1/128 of
    the 8-bit waveform; stereo de-interleaves to (n, 2))."""
    import numpy as np

    s8, _ = multimodal.decode_wav(multimodal.make_wav(250, bits=8))
    s16, _ = multimodal.decode_wav(multimodal.make_wav(250, bits=16))
    assert np.allclose(s8, s16, atol=1 / 32768)
    st, rate = multimodal.decode_wav(
        multimodal.make_wav(250, bits=16, channels=2)
    )
    assert st.shape == (2000, 2) and rate == 8000
    # channel 1 is the base waveform phase-shifted by 64 samples
    assert np.allclose(st[: 2000 - 64, 1], st[64:, 0])
    h = multimodal.parse_media_header(
        multimodal.make_wav(1500, bits=16, channels=2)
    )
    assert h["duration_ms"] == 1500


def test_mp4_header_roundtrip():
    """Video typed-metadata path: make_mp4 emits a genuine ISO-BMFF box
    tree (ftyp + moov(mvhd, trak(tkhd)) + mdat); parse_media_header walks
    the boxes for duration (mvhd timescale-normalized) and 16.16
    fixed-point dimensions. Truncated/garbage keeps the type with null
    fields and never raises."""
    h = multimodal.parse_media_header(multimodal.make_mp4(1234, 640, 480))
    assert h == {"media_type": "video/mp4", "width": 640, "height": 480,
                 "duration_ms": 1234}
    h = multimodal.parse_media_header(multimodal.make_mp4(500))
    assert h["duration_ms"] == 500 and h["width"] is None
    good = multimodal.make_mp4(1000, 64, 48)
    for bad in (good[:20], b"\x00\x00\x00 ftypgarbage"):
        h = multimodal.parse_media_header(bad)
        assert h["media_type"] == "video/mp4"
        assert h["width"] is None and h["duration_ms"] is None
    # too short for the positional ftyp check → not classified as video
    h = multimodal.parse_media_header(good[:9])
    assert h["media_type"] == "application/octet-stream"
    # NUL-led non-BMFF binaries are no longer misclassified as video
    assert multimodal.sniff_media(b"\x00\x00\x00\x01raw nal unit") == (
        "application/octet-stream"
    )


def test_wav_mulaw_roundtrip():
    """G.711 mu-law WAV (format tag 7): companding round trip bounded by
    one quantization step per segment (<7% relative), and the decoded
    telephony waveform tracks the 16-bit PCM of the same content."""
    import numpy as np

    x = np.arange(-32768, 32768, 7, dtype=np.int64)
    dec = multimodal._mulaw_decode(multimodal._mulaw_encode(x))
    rel = np.abs(dec - np.clip(x, -32635, 32635)) / np.maximum(np.abs(x), 64)
    assert rel.max() < 0.07
    s16, _ = multimodal.decode_wav(multimodal.make_wav(250, bits=16))
    smu, rate = multimodal.decode_wav(multimodal.make_wav(250, codec="mulaw"))
    assert rate == 8000 and smu.shape == s16.shape
    assert np.abs(smu - s16).max() < 0.02
    h = multimodal.parse_media_header(multimodal.make_wav(1500, codec="mulaw"))
    assert h["duration_ms"] == 1500


def test_bmp_roundtrip():
    """24-bit uncompressed BMP: bottom-up BGR rows with 4-byte padding
    must decode to exactly the source pixels; header parser reads dims."""
    for w, h in ((1, 1), (3, 2), (16, 9), (31, 17), (4, 1)):
        px = multimodal.decode_bmp(multimodal.make_bmp(w, h))
        assert px is not None and (px == multimodal.synth_pixels(w, h)).all()
    h = multimodal.parse_media_header(multimodal.make_bmp(640, 480))
    assert (h["media_type"], h["width"], h["height"]) == ("image/bmp", 640, 480)
    assert multimodal.decode_bmp(multimodal.make_bmp(16, 16)[:30]) is None


def test_tiff_roundtrip():
    """Baseline TIFF 6.0 (the scanned-document format): uncompressed
    8-bit RGB must round-trip exactly across II/MM byte orders and
    single-/multi-strip layouts; the IFD walk reads dims."""
    for w, h in ((1, 1), (5, 3), (16, 9), (31, 17)):
        for be in (False, True):
            for rps in (None, 4):
                px = multimodal.decode_tiff(
                    multimodal.make_tiff(w, h, big_endian=be, rows_per_strip=rps)
                )
                assert px is not None
                assert (px == multimodal.synth_pixels(w, h)).all(), (w, h, be, rps)
    h = multimodal.parse_media_header(multimodal.make_tiff(640, 480))
    assert (h["media_type"], h["width"], h["height"]) == ("image/tiff", 640, 480)
    h = multimodal.parse_media_header(multimodal.make_tiff(320, 200, big_endian=True))
    assert (h["width"], h["height"]) == (320, 200)
    assert multimodal.decode_tiff(multimodal.make_tiff(16, 16)[:40]) is None
