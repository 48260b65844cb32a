"""Multimodal column plumbing: binary payloads + typed metadata.

The reference handles opaque byte payloads as first-class data (XMP packet
scans over byte streams ``xmp-scraper/.../XMPScraper.java:115-143``, base64
bugzilla attachments ``BugzillaWorker.java:441``, zip-entry feature dumps
``ZipFeatureDumper.java:142-207``). Generalized here for training pipelines:
image/audio/video as ``binary`` columns, with an Arrow-batched header parse
(``parse_media_headers``, q34) and pixel decoders that q56 runs.

Decode status (round 5): ALL synthesized formats decode for REAL —
PNG pixels (zlib inflate + all five RFC-2083 scanline filters,
non-interlaced or Adam7), GIF pixels (from-scratch GIF-variant LZW +
palette), JPEG pixels (from-scratch T.81: baseline sequential incl.
4:2:0/4:2:2 subsampling and restart intervals, AND SOF2 progressive with
spectral selection + successive approximation), BMP, TIFF and WAV PCM
(RIFF chunk walk, 8/16-bit, mu-law) — pure stdlib/numpy, round-trip-tested
against synthesizers that emit genuine compressed content. Every decoder is
a total function: malformed payloads and out-of-envelope formats
(arithmetic-coded or 12-bit JPEG) return None, never raise (X5).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# magic-prefix detection table (longest prefixes first so e.g. \xff\xd8\xff
# wins over any shorter overlap).
_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"BM", "image/bmp"),
    (b"II\x2a\x00", "image/tiff"),
    (b"MM\x00\x2a", "image/tiff"),
    (b"RIFF", "audio/wav"),
    (b"ID3", "audio/mpeg"),
]


def sniff_media(payload: bytes | None) -> str:
    if not payload:
        return "application/octet-stream"
    for magic, mt in _MAGIC:
        if payload.startswith(magic):
            return mt
    # ISO-BMFF is positional, not a prefix: bytes 4-8 are the ftyp 4cc
    # (bytes 0-4 are the first box's size). The old '\\x00\\x00\\x00'
    # prefix rule misclassified any NUL-led binary as video.
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return "video/mp4"
    return "application/octet-stream"


# ---------------------------------------------------------------------------
# REAL header kernels — pure-Python parsers of public container formats
# (PNG/GIF/JPEG headers, RIFF/WAVE chunks). No decoder libs needed: these
# read dimensions/duration straight from the byte layout; the full
# pixel/sample decoders live further down next to their synthesizers.
# ---------------------------------------------------------------------------
def parse_media_header(payload: bytes | None) -> dict:
    """(media_type, width, height, duration_ms) from container headers.
    Total function: malformed/unknown bytes → type + null fields."""
    out = {
        "media_type": sniff_media(payload),
        "width": None,
        "height": None,
        "duration_ms": None,
    }
    if not payload:
        return out
    b = payload
    try:
        if b.startswith(b"\x89PNG\r\n\x1a\n") and len(b) >= 24 and b[12:16] == b"IHDR":
            out["width"] = int.from_bytes(b[16:20], "big")
            out["height"] = int.from_bytes(b[20:24], "big")
        elif b.startswith((b"GIF87a", b"GIF89a")) and len(b) >= 10:
            out["width"] = int.from_bytes(b[6:8], "little")
            out["height"] = int.from_bytes(b[8:10], "little")
        elif b.startswith(b"\xff\xd8\xff"):
            # scan JPEG segments for a start-of-frame marker
            pos = 2
            sof = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
            while pos + 3 < len(b):
                if b[pos] != 0xFF:
                    pos += 1
                    continue
                marker = b[pos + 1]
                if marker in sof and pos + 9 <= len(b):
                    out["height"] = int.from_bytes(b[pos + 5 : pos + 7], "big")
                    out["width"] = int.from_bytes(b[pos + 7 : pos + 9], "big")
                    break
                if 0xD0 <= marker <= 0xD9 or marker in (0x01, 0xFF):
                    pos += 2
                    continue
                pos += 2 + int.from_bytes(b[pos + 2 : pos + 4], "big")
        elif b[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
            endian = "little" if b[:2] == b"II" else "big"

            def _u(lo: int, n: int) -> int:
                return int.from_bytes(b[lo : lo + n], endian)

            ifd = _u(4, 4)
            for i in range(_u(ifd, 2)):
                p = ifd + 2 + i * 12
                tag, typ = _u(p, 2), _u(p + 2, 2)
                val = _u(p + 8, 2 if typ == 3 else 4)
                if tag == 256:
                    out["width"] = val
                elif tag == 257:
                    out["height"] = val
        elif b.startswith(b"BM") and len(b) >= 26:
            out["width"] = int.from_bytes(b[18:22], "little", signed=True)
            out["height"] = abs(
                int.from_bytes(b[22:26], "little", signed=True)
            )
        elif len(b) >= 12 and b[4:8] == b"ftyp":
            # ISO-BMFF box walk: moov → mvhd (timescale/duration, v0+v1)
            # and moov → trak → tkhd (16.16 fixed-point dimensions)
            def walk(lo: int, hi: int):
                p = lo
                while p + 8 <= hi:
                    size = int.from_bytes(b[p : p + 4], "big")
                    if size < 8 or p + size > hi:
                        break
                    yield b[p + 4 : p + 8], p + 8, p + size
                    p += size

            for t, lo, hi in walk(0, len(b)):
                if t != b"moov":
                    continue
                for t2, lo2, hi2 in walk(lo, hi):
                    if t2 == b"mvhd" and hi2 - lo2 >= 20:
                        ver = b[lo2]
                        if ver == 0:
                            ts = int.from_bytes(b[lo2 + 12 : lo2 + 16], "big")
                            dur = int.from_bytes(b[lo2 + 16 : lo2 + 20], "big")
                        else:
                            ts = int.from_bytes(b[lo2 + 20 : lo2 + 24], "big")
                            dur = int.from_bytes(b[lo2 + 24 : lo2 + 32], "big")
                        if ts:
                            out["duration_ms"] = int(round(dur * 1000 / ts))
                    elif t2 == b"trak":
                        for t3, lo3, hi3 in walk(lo2, hi2):
                            if t3 == b"tkhd" and hi3 - lo3 >= 84:
                                off = lo3 + (76 if b[lo3] == 0 else 88)
                                w16 = int.from_bytes(b[off : off + 4], "big")
                                h16 = int.from_bytes(b[off + 4 : off + 8], "big")
                                if w16 and h16:
                                    out["width"] = w16 >> 16
                                    out["height"] = h16 >> 16
        elif b.startswith(b"RIFF") and b[8:12] == b"WAVE":
            # walk chunks: fmt_ gives byte rate, data gives payload size
            pos, byte_rate, data_size = 12, None, None
            while pos + 8 <= len(b):
                cid = b[pos : pos + 4]
                csz = int.from_bytes(b[pos + 4 : pos + 8], "little")
                if cid == b"fmt " and pos + 36 <= len(b):
                    byte_rate = int.from_bytes(b[pos + 16 : pos + 20], "little")
                elif cid == b"data":
                    data_size = csz
                pos += 8 + csz + (csz & 1)
            if byte_rate and data_size is not None:
                out["duration_ms"] = int(round(data_size * 1000 / byte_rate))
    except Exception:  # malformed header: keep whatever parsed, never throw
        pass
    return out


def parse_media_headers(
    df: DataFrame, bin_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Arrow-batched header parse: (id, media_type, width, height,
    duration_ms) — the real kernel behind the decode seam."""

    def batch(it):
        for rb in it:
            rows = [
                {"id": i} | parse_media_header(p)
                for i, p in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist())
            ]
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType, False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("duration_ms", T.LongType(), True),
        ]
    )
    arrow_schema = to_arrow_schema(schema)
    return df.select(id_col, bin_col).mapInArrow(batch, schema=schema)


# --- deterministic synthesizers (fixtures/tests; real public byte layouts) --
def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per RFC 2083 §8.2
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _adam7_passes(width: int, height: int):
    """(x0, y0, dx, dy, w_p, h_p) of each non-empty Adam7 reduced image."""
    for x0, y0, dx, dy in _ADAM7:
        w_p = (width - x0 + dx - 1) // dx
        h_p = (height - y0 + dy - 1) // dy
        if w_p and h_p:
            yield x0, y0, dx, dy, w_p, h_p


def _filter_image(px: "np.ndarray", bpp: int) -> bytearray:
    """Filter a (h, w*bpp-flattened) pixel array into PNG scanline bytes,
    cycling filter types 0..4 so decoders must implement real unfiltering."""
    raw = bytearray()
    prev = np.zeros(px.shape[1], dtype=np.uint8)
    for y in range(px.shape[0]):
        line = px[y].astype(np.uint8)
        ftype = y % 5
        raw.append(ftype)
        raw.extend(_png_filter(line, prev, ftype, bpp).tobytes())
        prev = line
    return raw


def make_png(
    width: int, height: int, with_pixels: bool = True, interlace: bool = False
) -> bytes:
    """Genuine PNG: 8-bit RGB. With ``with_pixels`` the file carries a real
    zlib-compressed IDAT of deterministic pixels, scanlines cycling through
    filter types 0..4 (None/Sub/Up/Average/Paeth). With ``interlace`` the
    image is Adam7-interlaced: seven independently-filtered reduced images
    in pass order (RFC 2083 §8.2) — the progressive-rendering layout real
    web PNGs use."""
    import struct
    import zlib

    import numpy as np

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, int(interlace))
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if with_pixels:
        px = synth_pixels(width, height)
        bpp = 3
        if interlace:
            raw = bytearray()
            for x0, y0, dx, dy, *_ in _adam7_passes(width, height):
                sub = px[y0::dy, x0::dx]
                raw += _filter_image(
                    sub.reshape(sub.shape[0], -1), bpp
                )
        else:
            raw = _filter_image(px.reshape(height, -1), bpp)
        out += _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
    out += _png_chunk(b"IEND", b"")
    return out


def make_bmp(width: int, height: int) -> bytes:
    """Genuine 24-bit uncompressed BMP (BITMAPINFOHEADER): bottom-up BGR
    rows padded to 4 bytes, deterministic ``synth_pixels`` content."""
    import struct

    px = synth_pixels(width, height)
    row_bytes = width * 3
    pad = (-row_bytes) % 4
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        body += px[y, :, ::-1].tobytes()  # RGB → BGR
        body += b"\x00" * pad
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body),
        2835, 2835, 0, 0,
    )
    head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54)
    return head + info + bytes(body)


def decode_bmp(payload: bytes) -> "np.ndarray | None":
    """(height, width, 3) uint8 RGB from a 24-bit uncompressed BMP
    (bottom-up or top-down), or None. Never raises."""
    try:
        b = payload
        if not b.startswith(b"BM") or len(b) < 54:
            return None
        offset = int.from_bytes(b[10:14], "little")
        hdr_size = int.from_bytes(b[14:18], "little")
        if hdr_size < 40:
            return None
        w = int.from_bytes(b[18:22], "little", signed=True)
        h = int.from_bytes(b[22:26], "little", signed=True)
        bpp = int.from_bytes(b[28:30], "little")
        comp = int.from_bytes(b[30:34], "little")
        if bpp != 24 or comp != 0 or w <= 0 or h == 0:
            return None
        top_down = h < 0
        h = abs(h)
        row_bytes = w * 3
        stride = row_bytes + ((-row_bytes) % 4)
        if offset + stride * h > len(b):
            return None
        out = np.empty((h, w, 3), dtype=np.uint8)
        for i in range(h):
            row = np.frombuffer(
                b[offset + i * stride : offset + i * stride + row_bytes],
                dtype=np.uint8,
            ).reshape(w, 3)
            y = i if top_down else h - 1 - i
            out[y] = row[:, ::-1]  # BGR → RGB
        return out
    except Exception:
        return None


def make_tiff(
    width: int,
    height: int,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
) -> bytes:
    """Genuine baseline TIFF 6.0: uncompressed 8-bit RGB, chunky planar,
    one or more strips, II (little) or MM (big) byte order — the classic
    scanned-document format. Deterministic ``synth_pixels`` content."""
    import struct

    e = ">" if big_endian else "<"
    px = synth_pixels(width, height)
    rps = rows_per_strip or height
    strips = [
        px[y : y + rps].tobytes() for y in range(0, height, rps)
    ]
    n_strips = len(strips)

    def entry(tag, typ, count, value):
        if typ == 3 and count == 1:  # SHORT inline, left-justified
            return struct.pack(f"{e}HHI", tag, typ, count) + struct.pack(
                f"{e}HH", value, 0
            )
        return struct.pack(f"{e}HHII", tag, typ, count, value)

    # layout: header(8) + IFD + external arrays + strip data
    n_entries = 10
    ifd_size = 2 + n_entries * 12 + 4
    bits_off = 8 + ifd_size
    ext = struct.pack(f"{e}HHH", 8, 8, 8)
    pos = bits_off + len(ext)
    if n_strips > 1:
        offsets_off = pos
        pos += 4 * n_strips
        counts_off = pos
        pos += 4 * n_strips
    data_off = pos
    strip_offs = []
    o = data_off
    for s in strips:
        strip_offs.append(o)
        o += len(s)

    entries = b"".join(
        [
            entry(256, 4, 1, width),            # ImageWidth
            entry(257, 4, 1, height),           # ImageLength
            entry(258, 3, 3, bits_off),         # BitsPerSample -> ext
            entry(259, 3, 1, 1),                # Compression: none
            entry(262, 3, 1, 2),                # Photometric: RGB
            entry(273, 4, n_strips,
                  strip_offs[0] if n_strips == 1 else offsets_off),
            entry(277, 3, 1, 3),                # SamplesPerPixel
            entry(278, 4, 1, rps),              # RowsPerStrip
            entry(279, 4, n_strips,
                  len(strips[0]) if n_strips == 1 else counts_off),
            entry(284, 3, 1, 1),                # PlanarConfig: chunky
        ]
    )
    out = bytearray()
    out += (b"MM" if big_endian else b"II") + struct.pack(f"{e}HI", 42, 8)
    out += struct.pack(f"{e}H", n_entries) + entries + struct.pack(f"{e}I", 0)
    out += ext
    if n_strips > 1:
        out += b"".join(struct.pack(f"{e}I", x) for x in strip_offs)
        out += b"".join(struct.pack(f"{e}I", len(s)) for s in strips)
    for s in strips:
        out += s
    return bytes(out)


def decode_tiff(payload: bytes) -> "np.ndarray | None":
    """(height, width, 3) uint8 from a baseline uncompressed 8-bit RGB
    TIFF (chunky planar, single- or multi-strip, II or MM), or None.
    Never raises."""
    try:
        b = payload
        if b[:4] == b"II\x2a\x00":
            e = "little"
        elif b[:4] == b"MM\x00\x2a":
            e = "big"
        else:
            return None

        def u(lo, n):
            return int.from_bytes(b[lo : lo + n], e)

        ifd = u(4, 4)
        n_entries = u(ifd, 2)
        tags = {}
        for i in range(n_entries):
            p = ifd + 2 + i * 12
            tag, typ, count = u(p, 2), u(p + 2, 2), u(p + 4, 4)
            tags[tag] = (typ, count, p + 8)

        def values(tag):
            typ, count, vp = tags[tag]
            size = 2 if typ == 3 else 4
            if size * count <= 4:
                base = vp
            else:
                base = u(vp, 4)
            return [u(base + i * size, size) for i in range(count)]

        w, h = values(256)[0], values(257)[0]
        if values(259)[0] != 1 or values(262)[0] != 2:
            return None  # compressed / non-RGB
        if 258 in tags and values(258) != [8, 8, 8]:
            return None
        if tags.get(277) and values(277)[0] != 3:
            return None
        if 284 in tags and values(284)[0] != 1:
            return None  # planar configuration 2 unsupported
        offs = values(273)
        counts = values(279)
        data = b"".join(b[o : o + c] for o, c in zip(offs, counts))
        if len(data) != w * h * 3 or w == 0 or h == 0:
            return None
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
    except Exception:
        return None


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + btype + payload


_MP4_MATRIX = (
    b"\x00\x01\x00\x00" + b"\x00" * 8
    + b"\x00" * 4 + b"\x00\x01\x00\x00" + b"\x00" * 4
    + b"\x00" * 8 + b"\x40\x00\x00\x00"
)


def make_mp4(duration_ms: int, width: int = 0, height: int = 0) -> bytes:
    """Genuine minimal ISO-BMFF (MP4) box tree: ftyp + moov(mvhd v0 with
    timescale 1000 so duration units ARE milliseconds, trak(tkhd v0 with
    16.16 fixed-point dimensions)) + empty mdat. The video analogue of
    the other synthesizers — real public byte layout, no codec payload
    (sample tables are not needed for the metadata kernel)."""
    import struct

    ftyp = _mp4_box(
        b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41"
    )
    mvhd = _mp4_box(
        b"mvhd",
        b"\x00\x00\x00\x00"                  # version 0 + flags
        + struct.pack(">II", 0, 0)           # ctime, mtime
        + struct.pack(">II", 1000, duration_ms)  # timescale, duration
        + struct.pack(">I", 0x00010000)      # rate 1.0
        + struct.pack(">H", 0x0100)          # volume 1.0
        + b"\x00" * 10 + _MP4_MATRIX + b"\x00" * 24
        + struct.pack(">I", 2),              # next track id
    )
    tkhd = _mp4_box(
        b"tkhd",
        b"\x00\x00\x00\x07"                  # version 0 + enabled flags
        + struct.pack(">II", 0, 0)           # ctime, mtime
        + struct.pack(">I", 1) + b"\x00" * 4  # track id, reserved
        + struct.pack(">I", duration_ms) + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)   # layer, group, volume, rsvd
        + _MP4_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    moov = _mp4_box(b"moov", mvhd + _mp4_box(b"trak", tkhd))
    return ftyp + moov + _mp4_box(b"mdat", b"")


def synth_pixels(width: int, height: int) -> "np.ndarray":
    """Deterministic (height, width, 3) uint8 gradient-ish pixels."""
    y = np.arange(height, dtype=np.uint16)[:, None]
    x = np.arange(width, dtype=np.uint16)[None, :]
    r = ((x * 7 + y * 3) % 256).astype(np.uint8)
    g = ((x * 2 + y * 11) % 256).astype(np.uint8)
    b = ((x * 5 ^ y * 13) % 256).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


def _png_filter(line, prev, ftype: int, bpp: int):
    """Apply a PNG scanline filter (encode side; RFC 2083 §6)."""
    line = line.astype(np.int16)
    prev = prev.astype(np.int16)
    left = np.zeros_like(line)
    left[bpp:] = line[:-bpp]
    upleft = np.zeros_like(prev)
    upleft[bpp:] = prev[:-bpp]
    if ftype == 0:
        out = line
    elif ftype == 1:
        out = line - left
    elif ftype == 2:
        out = line - prev
    elif ftype == 3:
        out = line - ((left + prev) // 2)
    else:
        out = line - _paeth(left, prev, upleft)
    return (out % 256).astype(np.uint8)


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


# GIF interlace row order: 4 passes with (start, step) per the GIF89a spec
_GIF_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]

# hoisted per-call constants (identical bytes/objects every call):
# the 256-entry grayscale palette and the 256 single-byte LZW roots
_GIF_GRAY_PALETTE = bytes(v for i in range(256) for v in (i, i, i))
_LZW_ROOTS = [bytes([i]) for i in range(256)]


def _gif_interlace_rows(height: int) -> list[int]:
    return [y for s, d in _GIF_PASSES for y in range(s, height, d)]


def make_gif(
    width: int, height: int, with_pixels: bool = True, interlace: bool = False
) -> bytes:
    """Genuine GIF89a: 256-entry grayscale palette, one image, real LZW-
    compressed index data (so reading pixels back requires a real LZW
    decoder). With ``interlace`` the rows are stored in the spec's 4-pass
    order and the image descriptor's interlace flag is set."""
    import struct

    head = b"GIF89a" + struct.pack("<HH", width, height)
    if not with_pixels:
        return head + b"\x00\x00\x00;"
    palette = _GIF_GRAY_PALETTE
    out = head + struct.pack("<BBB", 0xF7, 0, 0) + palette  # global table, 256
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
    out += b"\x40" if interlace else b"\x00"
    px = synth_pixels(width, height)[:, :, 0]
    if interlace:
        px = px[_gif_interlace_rows(height)]
    indexes = px.reshape(-1).tobytes()
    min_code = 8
    lzw = _lzw_encode(indexes, min_code)
    out += bytes([min_code])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    return out + b"\x00;"


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.cur |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.cur & 0xFF)
            self.cur >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.cur & 0xFF)
        return bytes(self.out)


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW (LSB-first bit packing, CLEAR/END codes, 12-bit cap
    with dictionary reset)."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    bw = _BitWriter()

    # sequences keyed (code << 12) | next_byte (codes fit 12 bits, bytes 8)
    # — no per-byte bytes allocation in the hot loop; literal codes are
    # implicit, emitted codes identical to the bytes-keyed version
    table: dict[int, int] = {}
    next_code, width = end + 1, min_code_size + 1
    bw.write(clear, width)
    cur = -1
    get = table.get
    for ch in data:
        if cur < 0:
            cur = ch
            continue
        key = (cur << 12) | ch
        nc = get(key)
        if nc is not None:
            cur = nc
            continue
        bw.write(cur, width)
        table[key] = next_code
        next_code += 1
        if next_code == (1 << width) + 1:
            if width < 12:
                width += 1
            else:
                bw.write(clear, width)
                table = {}
                get = table.get
                next_code, width = end + 1, min_code_size + 1
        cur = ch
    if cur >= 0:
        bw.write(cur, width)
    bw.write(end, width)
    return bw.finish()


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """Inverse of :func:`_lzw_encode` (and of any standard GIF encoder)."""
    if min_code_size > 8:
        # roots are byte values: a wider root table cannot come from 8-bit
        # palette indexes (and _LZW_ROOTS has only 256 entries)
        raise ValueError("bad LZW min code size")
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    pos, nbits = 0, len(data) * 8

    def fresh():
        return _LZW_ROOTS[:clear] + [b"", b""]

    table, width, prev = fresh(), min_code_size + 1, None
    while pos + width <= nbits:
        # read the code in one 3-byte little-endian load (width <= 12 and
        # bit offset <= 7 fit in 24 bits) instead of bit-by-bit
        byte_i = pos >> 3
        chunk = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (chunk >> (pos & 7)) & ((1 << width) - 1)
        pos += width
        if code == clear:
            table, width, prev = fresh(), min_code_size + 1, None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream")
        if prev is not None and len(table) == (1 << width) and width < 12:
            width += 1
        out += entry
        prev = entry
    return bytes(out)


def decode_gif(payload: bytes) -> "np.ndarray | None":
    """(height, width, 3) uint8 of the FIRST image, or None. Real LZW
    decode + palette lookup; extensions skipped; never raises."""
    try:
        b = payload
        if not b.startswith((b"GIF87a", b"GIF89a")):
            return None
        width = int.from_bytes(b[6:8], "little")
        height = int.from_bytes(b[8:10], "little")
        packed = b[10]
        pos = 13
        palette = None
        if packed & 0x80:
            size = 2 << (packed & 0x07)
            palette = np.frombuffer(
                b[pos : pos + size * 3], dtype=np.uint8
            ).reshape(size, 3)
            pos += size * 3
        while pos < len(b):
            block = b[pos]
            if block == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < len(b) and b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            elif block == 0x2C:  # image descriptor
                iw = int.from_bytes(b[pos + 5 : pos + 7], "little")
                ih = int.from_bytes(b[pos + 7 : pos + 9], "little")
                ipacked = b[pos + 9]
                pos += 10
                if ipacked & 0x80:  # local palette
                    size = 2 << (ipacked & 0x07)
                    palette = np.frombuffer(
                        b[pos : pos + size * 3], dtype=np.uint8
                    ).reshape(size, 3)
                    pos += size * 3
                if palette is None:
                    return None
                min_code = b[pos]
                pos += 1
                lzw = bytearray()
                while pos < len(b) and b[pos] != 0:
                    n = b[pos]
                    lzw += b[pos + 1 : pos + 1 + n]
                    pos += 1 + n
                idx = np.frombuffer(
                    _lzw_decode(bytes(lzw), min_code)[: iw * ih], dtype=np.uint8
                )
                if len(idx) != iw * ih:
                    return None
                rows = idx.reshape(ih, iw)
                if ipacked & 0x40:  # interlaced: stored in 4-pass order
                    out = np.empty_like(rows)
                    out[_gif_interlace_rows(ih)] = rows
                    rows = out
                return palette[rows % len(palette)].astype(np.uint8)
            elif block == 0x3B:
                return None
            else:
                return None
        return None
    except Exception:
        return None


# --- JPEG: from-scratch baseline sequential codec (grayscale) ---------------
# Public byte layout per ITU-T T.81: SOI/APP0/DQT/SOF0/DHT×2/SOS/scan/EOI.
# The Huffman tables are written INTO the file (DHT), so they need not be the
# Annex-K defaults: we use spec-valid fixed-width canonical tables (12 DC
# symbols at 4 bits, the full 162-symbol AC alphabet at 8 bits — in both
# cases the all-ones code stays unused, as T.81 Annex C requires). Quant is a
# flat mild table, so the synthetic gradient round-trips within a small
# error bound (asserted in tests). The decoder reads whatever tables the
# file declares — it is a real baseline decoder, not an inverse of private
# conventions (4:2:0/4:2:2 subsampling and restart intervals included;
# progressive → None).

def _jpeg_zigzag() -> "np.ndarray":
    """The T.81 zigzag scan order as 64 flat indices into a row-major 8×8."""
    order = []
    for s in range(15):
        if s % 2 == 0:  # even diagonals walk bottom-left → top-right
            for i in range(min(s, 7), max(0, s - 7) - 1, -1):
                order.append(i * 8 + (s - i))
        else:
            for i in range(max(0, s - 7), min(s, 7) + 1):
                order.append(i * 8 + (s - i))
    return np.array(order, dtype=np.int64)


_ZIGZAG = _jpeg_zigzag()


def _dct_mat() -> "np.ndarray":
    """Orthonormal 8-point DCT-II matrix: coeffs = M @ block @ M.T."""
    x = np.arange(8, dtype=np.float64)
    m = 0.5 * np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    m[0] *= 1 / np.sqrt(2)
    return m


_DCT_M = _dct_mat()

#: flat mild luminance quant table (stored in the file; small steps keep the
#: synthetic-gradient round-trip error bounded for the tests)
_JPEG_Q = np.full(64, 8, dtype=np.int32)

# canonical fixed-width Huffman alphabets (see module comment above)
_JPEG_DC_BITS = [0, 0, 0, 12] + [0] * 12        # 12 symbols, all 4 bits
_JPEG_DC_VALS = list(range(12))                  # DC size categories 0..11
_JPEG_AC_VALS = (
    [0x00]                                       # EOB
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    + [0xF0]                                     # ZRL
)
_JPEG_AC_BITS = [0] * 16
_JPEG_AC_BITS[7] = len(_JPEG_AC_VALS)            # 162 symbols, all 8 bits


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) by T.81 Annex C canonical generation."""
    out, code = {}, 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


class _JpegBitWriter:
    __slots__ = ("buf", "acc", "n")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
        # keep acc a small int — without the mask it accumulates every bit
        # ever written and the shifts above go quadratic in stream length
        self.acc &= (1 << self.n) - 1

    def finish(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _plane_to_zz(plane: "np.ndarray") -> "np.ndarray":
    """Level-shifted float plane (dims multiples of 8) → per-block
    quantized zigzag coefficients, shape (nby, nbx, 64)."""
    nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = plane.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
    # batched BLAS matmul: M @ blk @ M.T per block — same contraction the
    # einsum spelled, several times faster on many small blocks
    coeffs = _DCT_M @ blocks @ _DCT_M.T
    return np.rint(
        coeffs.reshape(nby, nbx, 64)[:, :, _ZIGZAG] / _JPEG_Q[None, None, :]
    ).astype(np.int64)


def _encode_block(w: "_JpegBitWriter", blk: "np.ndarray", dc_prev: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    """Huffman-encode one zigzag block; returns the new DC predictor."""
    diff = int(blk[0]) - dc_prev
    size = abs(diff).bit_length()
    code, length = dc_codes[size]
    w.write(code, length)
    if size:
        w.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    nz = np.nonzero(blk[1:])[0]
    last_nz = (nz[-1] + 1) if len(nz) else 0
    for k in range(1, last_nz + 1):
        c = int(blk[k])
        if c == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_codes[0xF0]
            w.write(code, length)
            run -= 16
        size = abs(c).bit_length()
        code, length = ac_codes[(run << 4) | size]
        w.write(code, length)
        w.write(c if c >= 0 else c + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        w.write(code, length)
    return int(blk[0])


def make_jpeg(width: int, height: int) -> bytes:
    """Genuine baseline sequential grayscale JFIF with REAL entropy-coded
    scan data: the deterministic gradient (``synth_pixels`` red channel) is
    level-shifted, 8×8 DCT-transformed, quantized and Huffman-coded from
    scratch. ``decode_jpeg`` reads it back from the declared tables."""
    import struct

    gray = synth_pixels(width, height)[:, :, 0].astype(np.float64)
    ph = (-height) % 8
    pw = (-width) % 8
    g = np.pad(gray, ((0, ph), (0, pw)), mode="edge") - 128.0
    zz = _plane_to_zz(g)
    nby, nbx = zz.shape[0], zz.shape[1]

    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _JpegBitWriter()
    dc_prev = 0
    for blk in zz.reshape(nby * nbx, 64):
        dc_prev = _encode_block(w, blk, dc_prev, dc_codes, ac_codes)
    scan = w.finish()

    app0 = (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x02\x00" + b"\x00\x01\x00\x01\x00\x00"
    )
    dqt = b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + bytes(
        int(x) for x in _JPEG_Q
    )
    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", height, width) + b"\x01" + b"\x01\x11\x00"
    )
    dht = (
        b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_JPEG_DC_VALS))
        + b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_JPEG_AC_VALS))
        + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01" + b"\x01\x00" + b"\x00\x3f\x00"
    return b"\xff\xd8" + app0 + dqt + sof0 + dht + sos + scan + b"\xff\xd9"


def tile_luma(width: int, height: int, base: int) -> "np.ndarray":
    """The deterministic 16×16-tile-constant luma plane ``make_jpeg_420``
    encodes: pixel (x, y) has Y = base + 7*(x//16) + 3*(y//16). Values must
    stay in [0, 255] — callers bound base accordingly. Constant-per-MCU
    content survives the flat-q DCT round trip EXACTLY (only an integer DC
    coefficient is produced), which is what makes the q56 oracle's
    closed-form red sum possible for a lossy format."""
    tx = np.arange(width, dtype=np.int64) // 16
    ty = np.arange(height, dtype=np.int64) // 16
    return base + 7 * tx[None, :] + 3 * ty[:, None]


def make_jpeg_420(
    width: int,
    height: int,
    base: int = 40,
    chroma: tuple[int, int] = (128, 128),
    restart_interval: int = 0,
    gradient: bool = False,
    progressive: bool = False,
) -> bytes:
    """Genuine JFIF with 4:2:0 chroma subsampling — the dominant
    real-world JPEG shape (Y sampling 2×2, Cb/Cr 1×1, interleaved
    16×16-pixel MCUs), optionally with restart intervals (DRI + RSTn
    markers every ``restart_interval`` MCUs, DC predictors reset), and
    optionally PROGRESSIVE (SOF2: interleaved DC first + refinement
    scans, then per-component spectral-selection/successive-approximation
    AC scans over each component's own subsampled block grid — the
    libjpeg color-progressive layout).

    Content: ``tile_luma`` Y plane (constant per MCU) and constant chroma,
    so the decode round trip is exact; with ``chroma == (128, 128)`` the
    decoded RGB equals the Y plane on all three channels. With
    ``gradient`` the planes carry the rich ``synth_pixels`` gradients
    instead (AC-heavy; lossy, used for progressive≡baseline decode
    equality tests)."""
    import struct

    ph, pw = (-height) % 16, (-width) % 16
    if gradient:
        y_plane = np.pad(
            synth_pixels(width, height)[:, :, 0].astype(np.float64),
            ((0, ph), (0, pw)), mode="edge",
        ) - 128.0
        ch, cw = y_plane.shape[0] // 2, y_plane.shape[1] // 2
        cpx = synth_pixels(cw, ch)
        cb_plane = cpx[:, :, 1].astype(np.float64) - 128.0
        cr_plane = cpx[:, :, 2].astype(np.float64) - 128.0
    else:
        y_plane = np.pad(
            tile_luma(width, height, base).astype(np.float64),
            ((0, ph), (0, pw)), mode="edge",
        ) - 128.0
        ch, cw = y_plane.shape[0] // 2, y_plane.shape[1] // 2
        cb_plane = np.full((ch, cw), float(chroma[0]) - 128.0)
        cr_plane = np.full((ch, cw), float(chroma[1]) - 128.0)

    zz_y = _plane_to_zz(y_plane)          # (2*mcuy, 2*mcux, 64)
    zz_cb = _plane_to_zz(cb_plane)        # (mcuy, mcux, 64)
    zz_cr = _plane_to_zz(cr_plane)
    mcuy, mcux = zz_cb.shape[0], zz_cb.shape[1]
    if progressive:
        return _color_progressive_scans(
            width, height, zz_y, zz_cb, zz_cr, mcuy, mcux
        )

    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _JpegBitWriter()
    dc_prev = [0, 0, 0]
    scan = bytearray()
    mcu_n = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                scan += w.finish()         # byte-align the segment
                scan += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                w = _JpegBitWriter()
                dc_prev = [0, 0, 0]
            for dy in range(2):            # 4 luma blocks, raster order
                for dx in range(2):
                    dc_prev[0] = _encode_block(
                        w, zz_y[2 * my + dy, 2 * mx + dx], dc_prev[0],
                        dc_codes, ac_codes,
                    )
            dc_prev[1] = _encode_block(
                w, zz_cb[my, mx], dc_prev[1], dc_codes, ac_codes
            )
            dc_prev[2] = _encode_block(
                w, zz_cr[my, mx], dc_prev[2], dc_codes, ac_codes
            )
            mcu_n += 1
    scan += w.finish()

    app0 = (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x02\x00" + b"\x00\x01\x00\x01\x00\x00"
    )
    dqt = b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + bytes(
        int(x) for x in _JPEG_Q
    )
    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 8 + 3 * 3) + b"\x08"
        + struct.pack(">HH", height, width) + b"\x03"
        + b"\x01\x22\x00"                  # Y: 2x2 sampling, qtable 0
        + b"\x02\x11\x00"                  # Cb: 1x1
        + b"\x03\x11\x00"                  # Cr: 1x1
    )
    dht = (
        b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_JPEG_DC_VALS))
        + b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_JPEG_AC_VALS))
        + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    dri = (
        b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
        if restart_interval else b""
    )
    sos = (
        b"\xff\xda" + struct.pack(">H", 6 + 2 * 3) + b"\x03"
        + b"\x01\x00\x02\x00\x03\x00" + b"\x00\x3f\x00"
    )
    return (
        b"\xff\xd8" + app0 + dqt + sof0 + dht + dri + sos
        + bytes(scan) + b"\xff\xd9"
    )


# progressive AC alphabet: EOBn (r<15, s=0), ZRL (15,0) and (r, s=1..10)
# — 176 symbols, all 8 bits (fits canonical generation with the all-ones
# code unused, as T.81 Annex C requires)
_JPEG_ACP_VALS = [(r << 4) | s for r in range(16) for s in range(11)]
_JPEG_ACP_BITS = [0] * 16
_JPEG_ACP_BITS[7] = len(_JPEG_ACP_VALS)


class _ProgState:
    """Per-scan encoder state for progressive AC scans: the pending EOB
    run and the correction bits buffered inside it (G.1.2.2/G.1.2.3)."""

    __slots__ = ("eobrun", "bebits")

    def __init__(self):
        self.eobrun = 0
        self.bebits: list[int] = []


def _flush_eobrun(w: "_JpegBitWriter", ac: dict, st: "_ProgState") -> None:
    if st.eobrun > 0:
        r = st.eobrun.bit_length() - 1
        code, length = ac[r << 4]
        w.write(code, length)
        if r:
            w.write(st.eobrun - (1 << r), r)
        st.eobrun = 0
    for bit in st.bebits:
        w.write(bit, 1)
    st.bebits = []


def _emit_ac_first(w, ac, st, blk, ss, se, al) -> None:
    """AC first scan for one block (G.1.2.2): sign-magnitude shift by Al,
    zero runs + ZRL, end-of-band folded into the scan-level EOB run.
    (One ``tolist()`` up front — per-element numpy scalar reads were most
    of progressive-encode time.)"""
    bs = blk.tolist() if hasattr(blk, "tolist") else list(blk)
    if not any(bs[ss : se + 1]):
        # all-raw-zero band ⇒ all shifted magnitudes zero ⇒ pure EOB run
        # (the dominant case for sparse/flat blocks; general path unchanged)
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _flush_eobrun(w, ac, st)
        return
    t = [0] * (se + 1)
    last = 0
    for k in range(ss, se + 1):
        v = abs(bs[k]) >> al
        t[k] = v
        if v:
            last = k
    if last == 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _flush_eobrun(w, ac, st)
        return
    _flush_eobrun(w, ac, st)
    r = 0
    for k in range(ss, last + 1):
        if t[k] == 0:
            r += 1
            continue
        while r > 15:
            code, length = ac[0xF0]
            w.write(code, length)
            r -= 16
        size = t[k].bit_length()
        code, length = ac[(r << 4) | size]
        w.write(code, length)
        v = t[k] if bs[k] >= 0 else -t[k]
        w.write(v if v >= 0 else v + (1 << size) - 1, size)
        r = 0
    if last < se:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _flush_eobrun(w, ac, st)


def _emit_ac_refine(w, ac, st, blk, ss, se, al) -> None:
    """AC refinement scan for one block (G.1.2.3): newly-significant
    coefficients as (run, 1) symbols over zero-HISTORY positions, with
    correction bits for already-significant coefficients appended after
    each symbol (or after the EOB run they fall into)."""
    bs = blk.tolist() if hasattr(blk, "tolist") else list(blk)
    if not any(bs[ss : se + 1]):
        # all-raw-zero band: no newly-significant or correction positions —
        # the scan loop would only count zeros into an EOB run
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _flush_eobrun(w, ac, st)
        return
    t = [abs(v) >> al for v in bs[: se + 1]]
    eob = 0
    for k in range(ss, se + 1):
        if t[k] == 1:  # newly significant (history would make it >= 2)
            eob = k
    r = 0
    br: list[int] = []
    for k in range(ss, se + 1):
        if t[k] == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            _flush_eobrun(w, ac, st)
            code, length = ac[0xF0]
            w.write(code, length)
            r -= 16
            for bit in br:
                w.write(bit, 1)
            br = []
        if t[k] > 1:  # already significant: buffer the correction bit
            br.append(t[k] & 1)
            continue
        _flush_eobrun(w, ac, st)
        code, length = ac[(r << 4) | 1]
        w.write(code, length)
        w.write(1 if bs[k] >= 0 else 0, 1)
        for bit in br:
            w.write(bit, 1)
        br = []
        r = 0
    if r > 0 or br:
        st.eobrun += 1
        st.bebits.extend(br)
        if st.eobrun == 0x7FFF:
            _flush_eobrun(w, ac, st)


def _color_progressive_scans(
    w_img, h_img, zz_y, zz_cb, zz_cr, mcuy, mcux
) -> bytes:
    """Assemble the SOF2 color-progressive stream for make_jpeg_420:
    two interleaved DC scans (first at Al=1, then refinement), then
    per-component AC scans — first scans at Al=2 followed by two
    refinement rounds — each over the COMPONENT'S OWN block grid
    (T.81 A.2.2: non-interleaved scans ignore MCU padding), the shape
    where subsampled-grid bugs live in real decoders."""
    import struct

    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_ACP_BITS, _JPEG_ACP_VALS)
    comps = [(zz_y, 2, 2), (zz_cb, 1, 1), (zz_cr, 1, 1)]
    cch, ccw = (h_img + 1) // 2, (w_img + 1) // 2
    grids = [
        ((h_img + 7) // 8, (w_img + 7) // 8),
        ((cch + 7) // 8, (ccw + 7) // 8),
        ((cch + 7) // 8, (ccw + 7) // 8),
    ]

    def emit_dc(ah: int, al: int) -> bytes:
        w = _JpegBitWriter()
        dc_prev = [0, 0, 0]
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (zz, hi, vi) in enumerate(comps):
                    for dy in range(vi):
                        for dx in range(hi):
                            blk = zz[my * vi + dy, mx * hi + dx]
                            if ah == 0:
                                v = int(blk[0]) >> al
                                diff = v - dc_prev[ci]
                                dc_prev[ci] = v
                                size = abs(diff).bit_length()
                                code, length = dc_codes[size]
                                w.write(code, length)
                                if size:
                                    w.write(
                                        diff if diff >= 0
                                        else diff + (1 << size) - 1,
                                        size,
                                    )
                            else:
                                w.write((int(blk[0]) >> al) & 1, 1)
        sos = (
            b"\xff\xda" + struct.pack(">H", 6 + 2 * 3) + b"\x03"
            + b"\x01\x00\x02\x00\x03\x00"
            + bytes([0, 0, (ah << 4) | al])
        )
        return sos + w.finish()

    def emit_ac(ci: int, ss: int, se: int, ah: int, al: int) -> bytes:
        zz, _, _ = comps[ci]
        cby, cbx = grids[ci]
        w = _JpegBitWriter()
        st = _ProgState()
        for by in range(cby):
            for bx in range(cbx):
                if ah == 0:
                    _emit_ac_first(w, ac_codes, st, zz[by, bx], ss, se, al)
                else:
                    _emit_ac_refine(w, ac_codes, st, zz[by, bx], ss, se, al)
        _flush_eobrun(w, ac_codes, st)
        sos = (
            b"\xff\xda" + struct.pack(">H", 8) + b"\x01"
            + bytes([ci + 1, 0x00, ss, se, (ah << 4) | al])
        )
        return sos + w.finish()

    scans = [emit_dc(0, 1), emit_dc(1, 0)]
    for ci in range(3):
        scans.append(emit_ac(ci, 1, 63, 0, 2))
    for ci in range(3):
        scans.append(emit_ac(ci, 1, 63, 2, 1))
        scans.append(emit_ac(ci, 1, 63, 1, 0))

    app0 = (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x02\x00" + b"\x00\x01\x00\x01\x00\x00"
    )
    dqt = b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + bytes(
        int(x) for x in _JPEG_Q
    )
    sof2 = (
        b"\xff\xc2" + struct.pack(">H", 8 + 3 * 3) + b"\x08"
        + struct.pack(">HH", h_img, w_img) + b"\x03"
        + b"\x01\x22\x00" + b"\x02\x11\x00" + b"\x03\x11\x00"
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


def _mulaw_encode(pcm16: "np.ndarray") -> "np.ndarray":
    """G.711 mu-law companding of int16 samples → uint8 (ITU-T G.711)."""
    x = pcm16.astype(np.int64)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 132  # bias
    exp = (np.floor(np.log2(mag)) - 7).astype(np.int64)
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant)) & 0xFF


def _mulaw_decode(u8: "np.ndarray") -> "np.ndarray":
    """Inverse G.711 mu-law: uint8 → int16."""
    u = (~u8.astype(np.int64)) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(sign, -mag, mag)


def make_wav(
    duration_ms: int,
    sample_rate: int = 8000,
    bits: int = 8,
    channels: int = 1,
    codec: str = "pcm",
) -> bytes:
    """Genuine RIFF/WAVE, deterministic sine-ish samples. PCM 8-bit
    (unsigned) or 16-bit (signed LE), mono or interleaved multi-channel
    (channel c is the base waveform phase-shifted by 64·c samples); or
    ``codec='mulaw'`` for G.711 mu-law telephony bytes (format tag 7,
    8 bits per sample)."""
    import struct

    if codec == "mulaw":
        bits = 8
    fmt_tag = 7 if codec == "mulaw" else 1
    bytes_per = bits // 8
    block_align = channels * bytes_per
    byte_rate = sample_rate * block_align
    n = int(round(duration_ms * sample_rate / 1000))
    fmt = struct.pack(
        "<HHIIHH", fmt_tag, channels, sample_rate, byte_rate, block_align,
        bits,
    )
    chans = [
        synth_samples(n + 64 * c)[64 * c :].astype(np.int64)
        for c in range(channels)
    ]
    inter = np.stack(chans, axis=-1).reshape(-1)  # interleave
    if codec == "mulaw":
        data = _mulaw_encode(((inter - 128) * 256)).astype(np.uint8).tobytes()
    elif bits == 8:
        data = inter.astype(np.uint8).tobytes()
    else:
        data = (((inter - 128) * 256).astype("<i2")).tobytes()
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_samples(n: int) -> "np.ndarray":
    """Deterministic n uint8 PCM samples (440 Hz-ish triangle at 8 kHz)."""
    t = np.arange(n, dtype=np.int64)
    tri = np.abs((t * 440 * 2 % 16000) - 8000) // 32  # 0..250
    return (tri + 2).astype(np.uint8)


# ---------------------------------------------------------------------------
# REAL decoders — pure Python/stdlib/numpy, no decoder libs.
# PNG: full pixel decode (zlib inflate + the five RFC-2083 scanline filters)
# for 8-bit RGB/RGBA/grayscale, non-interlaced or Adam7-interlaced. GIF: from-scratch GIF-variant
# LZW (LSB-first, CLEAR/END, 12-bit cap) + palette lookup (decode_gif below,
# next to the codec). WAV: PCM sample decode (8/16 bit). JPEG: baseline
# sequential Huffman+IDCT decode (decode_jpeg below, next to the encoder);
# sampling factors up to 2x2 (4:2:0/4:2:2) and restart intervals are
# decoded; progressive streams return None.
# ---------------------------------------------------------------------------
def decode_jpeg(payload: bytes) -> "np.ndarray | None":
    """(height, width, channels) uint8 from a JFIF stream, or None if not
    decodable. Real T.81 machinery: DQT/DHT tables are read from the file
    (any spec-valid tables, not just ours), entropy data is un-stuffed and
    Huffman-decoded scan by scan into per-component coefficient arrays,
    dequantized through the zigzag, reconstructed with the orthonormal
    IDCT, and chroma planes are upsampled to full resolution.

    Supported: 8-bit SOF0/SOF1 baseline/extended sequential AND SOF2
    progressive (Annex G: spectral selection, successive approximation
    with DC/AC refinement scans and EOB runs), 1 or 3 components with
    sampling factors in {1, 2} (4:4:4, 4:2:2, 4:4:0 and the dominant
    real-world 4:2:0), interleaved and per-component scans, restart
    intervals (DRI + RSTn, predictors and EOB runs reset per segment).
    Arithmetic / hierarchical / 12-bit → None, never raises."""
    from .binarchive import DEFAULT_MAX_MEMBER_BYTES

    try:
        b = payload
        if not b.startswith(b"\xff\xd8"):
            return None
        pos = 2
        qtables: dict[int, np.ndarray] = {}
        htables: dict[tuple[int, int], dict] = {}
        frame = None          # (h, w, comps, progressive)
        restart_interval = 0
        coeffs: list[np.ndarray] = []
        grids: list[tuple[int, int, int, int]] = []  # nby, nbx, cby, cbx
        dims: tuple[int, int, int, int] | None = None  # hmax vmax mcux mcuy
        any_scan = False

        def extend(v: int, size: int) -> int:
            return v if v >= (1 << (size - 1)) else v - (1 << size) + 1

        def decode_scan(scan_comps, ss, se, ah, al, data):
            """Huffman-decode one entropy segment into ``coeffs``.
            ``scan_comps`` = [(ci, dc_table, ac_table)]."""
            nonlocal any_scan
            any_scan = True
            h, w, comps, progressive = frame
            hmax, vmax, mcux, mcuy = dims
            bitpos = 0
            # unpack the whole entropy segment to a bit list once (MSB-first,
            # same order as the shift/mask read) — per-bit shifts dominated
            # decoder time
            bits = np.unpackbits(
                np.frombuffer(bytes(data), dtype=np.uint8)
            ).tolist()
            nbits = len(bits)

            def read_bit() -> int:
                nonlocal bitpos
                if bitpos >= nbits:
                    raise EOFError
                bit = bits[bitpos]
                bitpos += 1
                return bit

            def read_bits(n: int) -> int:
                v = 0
                for _ in range(n):
                    v = (v << 1) | read_bit()
                return v

            # Round-6 note: an 8-bit peek + per-table LUT for huff (and an
            # inline read_bits) was measured NO FASTER here — the oracle's
            # tables are 4-bit DC / 8-bit AC codes, so the peek's 8 list
            # indexings + LUT probe cost as much as the short bit loop it
            # replaces, and a vectorized 16-bit lookahead array cost more
            # to build per scan than it saved (progressive files decode
            # many small scans). Kept the simple loop deliberately.
            def huff(table: dict) -> int:
                code, length = 0, 0
                while length < 16:
                    code = (code << 1) | read_bit()
                    length += 1
                    sym = table.get((length, code))
                    if sym is not None:
                        return sym
                raise ValueError("bad huffman code")

            dc_pred = {ci: 0 for ci, _, _ in scan_comps}
            eobrun = 0
            p1, m1 = 1 << al, (-1) << al

            def seq_block(ci, dct, act, blk):
                size = huff(dct)
                diff = extend(read_bits(size), size) if size else 0
                dc_pred[ci] += diff
                blk[0] = dc_pred[ci]
                k = 1
                while k < 64:
                    sym = huff(act)
                    if sym == 0x00:
                        break
                    if sym == 0xF0:
                        k += 16
                        continue
                    run, size = sym >> 4, sym & 0xF
                    k += run
                    if k > 63 or size == 0:
                        raise ValueError("bad AC run")
                    blk[k] = extend(read_bits(size), size)
                    k += 1

            def dc_first(ci, dct, blk):
                size = huff(dct)
                diff = extend(read_bits(size), size) if size else 0
                dc_pred[ci] += diff
                blk[0] = dc_pred[ci] << al

            def dc_refine(blk):
                if read_bit():
                    blk[0] = int(blk[0]) | p1

            def ac_first(act, blk):
                nonlocal eobrun
                if eobrun > 0:
                    eobrun -= 1
                    return
                k = ss
                while k <= se:
                    sym = huff(act)
                    r, s = sym >> 4, sym & 0xF
                    if s == 0:
                        if r < 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += read_bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("bad AC run")
                    blk[k] = extend(read_bits(s), s) << al
                    k += 1

            def ac_refine(act, blk):
                nonlocal eobrun
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = huff(act)
                        r, s = sym >> 4, sym & 0xF
                        if s == 0:
                            if r < 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += read_bits(r)
                                break
                            val = 0  # ZRL: skip 16 zero-history coeffs
                        else:
                            if s != 1:
                                raise ValueError("bad refine size")
                            val = p1 if read_bit() else m1
                        while k <= se:
                            c = int(blk[k])
                            if c != 0:
                                if read_bit() and (c & p1) == 0:
                                    blk[k] = c + (p1 if c >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val != 0 and k <= se:
                            blk[k] = val
                        k += 1
                if eobrun > 0:
                    # correction bits are only consumed at nonzero-history
                    # positions; an all-zero tail consumes nothing
                    if any(blk[k : se + 1]):
                        while k <= se:
                            c = blk[k]
                            if c != 0:
                                if read_bit() and (c & p1) == 0:
                                    blk[k] = c + (p1 if c >= 0 else m1)
                            k += 1
                    eobrun -= 1

            def decode_block(ci, dct, act, by, bx):
                # mutate a plain list and write back once: numpy scalar
                # reads/writes per coefficient were the decoder's hot spot
                arr = coeffs[ci][by, bx]
                blk = arr.tolist()
                if not progressive:
                    seq_block(ci, dct, act, blk)
                elif ss == 0 and ah == 0:
                    dc_first(ci, dct, blk)
                elif ss == 0:
                    dc_refine(blk)
                elif ah == 0:
                    ac_first(act, blk)
                else:
                    ac_refine(act, blk)
                arr[:] = blk

            def restart():
                nonlocal bitpos, eobrun
                bitpos = (bitpos + 7) & ~7  # byte-align past RSTn
                for ci in dc_pred:
                    dc_pred[ci] = 0
                eobrun = 0

            if len(scan_comps) == 1:
                # non-interleaved: the component's own block grid
                ci, dct, act = scan_comps[0]
                cby, cbx = grids[ci][2], grids[ci][3]
                n = 0
                for by in range(cby):
                    for bx in range(cbx):
                        if restart_interval and n and n % restart_interval == 0:
                            restart()
                        decode_block(ci, dct, act, by, bx)
                        n += 1
            else:
                if progressive and ss != 0:
                    raise ValueError("interleaved AC scan")
                n = 0
                for my in range(mcuy):
                    for mx in range(mcux):
                        if restart_interval and n and n % restart_interval == 0:
                            restart()
                        for ci, dct, act in scan_comps:
                            _, hi, vi, _ = comps[ci]
                            for dy in range(vi):
                                for dx in range(hi):
                                    decode_block(
                                        ci, dct, act,
                                        my * vi + dy, mx * hi + dx,
                                    )
                        n += 1

        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            seg_len = int.from_bytes(b[pos + 2 : pos + 4], "big")
            body = b[pos + 4 : pos + 2 + seg_len]
            if marker == 0xDB:  # DQT (may hold several tables)
                i = 0
                while i < len(body):
                    pq, tq = body[i] >> 4, body[i] & 0xF
                    if pq != 0:
                        return None  # 16-bit tables: not baseline
                    qtables[tq] = np.frombuffer(
                        body[i + 1 : i + 65], dtype=np.uint8
                    ).astype(np.int64)
                    i += 65
            elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive
                prec = body[0]
                h = int.from_bytes(body[1:3], "big")
                w = int.from_bytes(body[3:5], "big")
                if prec != 8 or frame is not None:
                    return None
                ncomp = body[5]
                comps = []
                for c in range(ncomp):
                    cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                    hi, vi = samp >> 4, samp & 0xF
                    if hi not in (1, 2) or vi not in (1, 2):
                        return None  # sampling beyond 2x2 unsupported
                    comps.append((cid, hi, vi, tq))
                if ncomp == 1:
                    # a single-component image always uses its own 8x8
                    # grid (T.81 A.2.2)
                    comps = [(comps[0][0], 1, 1, comps[0][3])]
                if h == 0 or w == 0 or len(comps) not in (1, 3):
                    return None
                # the decoded size SOF implies bounds every allocation
                # below; a few header bytes can claim a 65535x65535 frame
                if h * w * len(comps) > DEFAULT_MAX_MEMBER_BYTES:
                    return None
                frame = (h, w, comps, marker == 0xC2)
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcux = (w + 8 * hmax - 1) // (8 * hmax)
                mcuy = (h + 8 * vmax - 1) // (8 * vmax)
                dims = (hmax, vmax, mcux, mcuy)
                for _, hi, vi, _ in comps:
                    nby, nbx = mcuy * vi, mcux * hi
                    cw = (w * hi + hmax - 1) // hmax
                    ch = (h * vi + vmax - 1) // vmax
                    grids.append(
                        (nby, nbx, (ch + 7) // 8, (cw + 7) // 8)
                    )
                    coeffs.append(np.zeros((nby, nbx, 64), dtype=np.int64))
            elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return None  # lossless / arithmetic / hierarchical
            elif marker == 0xC4:  # DHT (may hold several tables)
                i = 0
                while i + 17 <= len(body):
                    tc, th = body[i] >> 4, body[i] & 0xF
                    bits = list(body[i + 1 : i + 17])
                    n = sum(bits)
                    vals = list(body[i + 17 : i + 17 + n])
                    dec = {}
                    code, k = 0, 0
                    for length in range(1, 17):
                        for _ in range(bits[length - 1]):
                            dec[(length, code)] = vals[k]
                            code += 1
                            k += 1
                        code <<= 1
                    htables[(tc, th)] = dec
                    i += 17 + n
            elif marker == 0xDD:  # DRI
                restart_interval = int.from_bytes(body[:2], "big")
            elif marker == 0xDA:  # SOS
                if frame is None:
                    return None
                ns = body[0]
                h, w, comps, progressive = frame
                by_id = {c[0]: i for i, c in enumerate(comps)}
                scan_comps = []
                for c in range(ns):
                    sid = body[1 + 2 * c]
                    td = body[2 + 2 * c] >> 4
                    ta = body[2 + 2 * c] & 0xF
                    if sid not in by_id:
                        return None
                    ci = by_id[sid]
                    need_dc = (not progressive) or body[1 + 2 * ns] == 0
                    need_ac = (not progressive) or body[1 + 2 * ns] != 0 \
                        or body[2 + 2 * ns] != 0
                    dct = htables.get((0, td)) if need_dc else None
                    act = htables.get((1, ta)) if need_ac else None
                    if (need_dc and dct is None) or (need_ac and act is None):
                        return None
                    scan_comps.append((ci, dct, act))
                ss = body[1 + 2 * ns]
                se = body[2 + 2 * ns]
                a = body[3 + 2 * ns]
                ah, al = a >> 4, a & 0xF
                if not progressive and (ss != 0 or se != 63 or a != 0):
                    return None
                if progressive and not (
                    0 <= ss <= se <= 63 and (ss == 0) == (se == 0)
                ):
                    return None
                # un-stuff the entropy stream up to the next marker; RSTn
                # markers are dropped in place (the decoder re-aligns to
                # the byte boundary at each restart, which lands exactly
                # where the next segment resumes)
                data = bytearray()
                i = pos + 2 + seg_len
                while i < len(b):
                    c = b[i]
                    if c == 0xFF:
                        if i + 1 < len(b) and b[i + 1] == 0x00:
                            data.append(0xFF)
                            i += 2
                            continue
                        if i + 1 < len(b) and 0xD0 <= b[i + 1] <= 0xD7:
                            i += 2
                            continue
                        break  # real marker terminates the scan
                    data.append(c)
                    i += 1
                decode_scan(scan_comps, ss, se, ah, al, data)
                pos = i
                continue
            pos += 2 + seg_len

        if frame is None or not any_scan:
            return None
        h, w, comps, progressive = frame
        hmax, vmax, _, _ = dims
        m = _DCT_M
        out = []
        for (cid, hi, vi, tq), zz in zip(comps, coeffs):
            if tq not in qtables:
                return None
            deq = zz * qtables[tq][None, None, :]
            c2d = np.zeros(zz.shape[:2] + (64,), dtype=np.float64)
            c2d[:, :, _ZIGZAG] = deq
            c2d = c2d.reshape(zz.shape[0], zz.shape[1], 8, 8)
            blocks = m.T @ c2d @ m  # batched IDCT, same contraction as before
            p = blocks.transpose(0, 2, 1, 3).reshape(
                zz.shape[0] * 8, zz.shape[1] * 8
            )
            if hi != hmax or vi != vmax:  # chroma upsample to full res
                p = np.repeat(np.repeat(p, vmax // vi, axis=0),
                              hmax // hi, axis=1)
            out.append(np.clip(p[:h, :w] + 128.0, 0, 255))
        if len(out) == 1:
            return np.rint(out[0]).astype(np.uint8)[:, :, None]
        y, cb, cr = out
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        bl = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r, g, bl], axis=-1)
        return np.rint(np.clip(rgb, 0, 255)).astype(np.uint8)
    except Exception:
        return None



def decode_png(payload: bytes) -> "np.ndarray | None":
    """(height, width, channels) uint8, or None if not a decodable PNG.
    Never raises."""
    import struct
    import zlib

    from .binarchive import DEFAULT_MAX_MEMBER_BYTES

    try:
        b = payload
        if not b.startswith(b"\x89PNG\r\n\x1a\n"):
            return None
        pos, idat, ihdr = 8, [], None
        while pos + 8 <= len(b):
            ln = int.from_bytes(b[pos : pos + 4], "big")
            ctype = b[pos + 4 : pos + 8]
            body = b[pos + 8 : pos + 8 + ln]
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", body)
            elif ctype == b"IDAT":
                idat.append(body)
            elif ctype == b"IEND":
                break
            pos += 12 + ln
        if ihdr is None or not idat:
            return None
        width, height, depth, color, _comp, _filt, interlace = ihdr
        if depth != 8 or interlace not in (0, 1):
            return None
        channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
        if channels is None:
            return None
        # Bound the inflate by the filtered size IHDR implies before any
        # allocation: a small IDAT can inflate to gigabytes, and a tiny
        # file can claim a huge canvas. The Adam7 pass sizes sum to at
        # least w*h*channels, so this also caps the canvas below.
        if interlace == 0:
            expected = (width * channels + 1) * height
        else:
            expected = sum(
                (w_p * channels + 1) * h_p
                for *_, w_p, h_p in _adam7_passes(width, height)
            )
        if expected > DEFAULT_MAX_MEMBER_BYTES:
            return None
        inflate = zlib.decompressobj()
        raw = inflate.decompress(b"".join(idat), expected + 1)
        if len(raw) != expected or not inflate.eof:
            return None

        def unfilter_image(data: bytes, w: int, h: int) -> "np.ndarray":
            stride = w * channels
            if len(data) != (stride + 1) * h:
                raise ValueError("bad filtered-image length")
            img = np.zeros((h, stride), dtype=np.uint8)
            prev = np.zeros(stride, dtype=np.int16)
            for y in range(h):
                row = data[y * (stride + 1) : (y + 1) * (stride + 1)]
                ftype, line = row[0], np.frombuffer(row[1:], dtype=np.uint8)
                cur = _png_unfilter(line, prev, ftype, channels)
                img[y] = cur
                prev = cur.astype(np.int16)
            return img.reshape(h, w, channels)

        if interlace == 0:
            return unfilter_image(raw, width, height)
        # Adam7: seven independently-filtered reduced images, scattered
        # back onto the full-resolution grid (RFC 2083 §8.2)
        out = np.zeros((height, width, channels), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy, w_p, h_p in _adam7_passes(width, height):
            n = (w_p * channels + 1) * h_p
            out[y0::dy, x0::dx] = unfilter_image(raw[pos : pos + n], w_p, h_p)
            pos += n
        return out
    except Exception:
        return None


def _png_unfilter(line, prev, ftype: int, bpp: int):
    """Invert a PNG scanline filter. None/Up are vectorized; Sub is a
    per-channel modular prefix sum; Average/Paeth are sequential in the
    left neighbor, so those loop per byte — over plain Python ints (numpy
    scalar indexing was ~6x slower in this loop)."""
    if ftype == 0:
        return line.astype(np.uint8)
    if ftype == 2:
        return ((line.astype(np.int16) + prev) % 256).astype(np.uint8)
    if ftype == 1:
        # out[i] = (line[i] + out[i-bpp]) % 256 — a running sum per channel
        # stride; uint8 accumulate wraps mod 256 exactly like the loop did
        out = np.empty(len(line), dtype=np.uint8)
        u8 = line.astype(np.uint8)
        for c in range(bpp):
            out[c::bpp] = np.add.accumulate(u8[c::bpp], dtype=np.uint8)
        return out
    ln = line.astype(np.int16).tolist()
    pv = prev.tolist()
    n = len(ln)
    out = [0] * n
    if ftype == 3:
        for i in range(n):
            left = out[i - bpp] if i >= bpp else 0
            out[i] = (ln[i] + ((left + pv[i]) >> 1)) & 0xFF
    elif ftype == 4:
        for i in range(n):
            left = out[i - bpp] if i >= bpp else 0
            up = pv[i]
            upleft = pv[i - bpp] if i >= bpp else 0
            p = left + up - upleft
            pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
            pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else upleft)
            out[i] = (ln[i] + pred) & 0xFF
    else:
        raise ValueError(f"bad filter {ftype}")
    return np.array(out, dtype=np.uint8)


def decode_wav(payload: bytes) -> "tuple[np.ndarray, int] | None":
    """(samples float64 in [-1, 1], sample_rate) for PCM 8/16-bit WAVE,
    else None; mono returns shape (n,), multi-channel de-interleaves to
    (n, channels). Never raises."""
    try:
        b = payload
        if not (b.startswith(b"RIFF") and b[8:12] == b"WAVE"):
            return None
        pos, rate, bits, nch, tag, data = 12, None, None, 1, 1, None
        while pos + 8 <= len(b):
            cid = b[pos : pos + 4]
            csz = int.from_bytes(b[pos + 4 : pos + 8], "little")
            if cid == b"fmt ":
                tag = int.from_bytes(b[pos + 8 : pos + 10], "little")
                nch = int.from_bytes(b[pos + 10 : pos + 12], "little")
                rate = int.from_bytes(b[pos + 12 : pos + 16], "little")
                bits = int.from_bytes(b[pos + 22 : pos + 24], "little")
            elif cid == b"data":
                data = b[pos + 8 : pos + 8 + csz]
            pos += 8 + csz + (csz & 1)
        if rate is None or data is None or nch < 1:
            return None
        if tag == 7 and bits == 8:  # G.711 mu-law
            samples = _mulaw_decode(
                np.frombuffer(data, dtype=np.uint8)
            ).astype(np.float64) / 32768
        elif tag != 1:
            return None
        elif bits == 8:
            samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128) / 128
        elif bits == 16:
            samples = np.frombuffer(
                data[: len(data) // 2 * 2], dtype="<i2"
            ).astype(np.float64) / 32768
        else:
            return None
        if nch > 1:
            samples = samples[: len(samples) // nch * nch].reshape(-1, nch)
        return samples, rate
    except Exception:
        return None
