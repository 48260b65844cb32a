"""Property-based tests (hypothesis): the extraction kernel is a total
function with bounded, well-formed output on ARBITRARY input — the
generalization of the reference's hostile-input tests
(tika-cli-client test-documents, testPDF_corrupt; SURVEY.md §5.6)."""

from __future__ import annotations

import bz2
import lzma

from hypothesis import given, settings
from hypothesis import strategies as st

from tika_addons_spark.functions.cleaners import clean_mtext
from tika_addons_spark.functions.normalize import collapse_newlines
from tika_addons_spark.oracle import MAX_EXTRACTED_CHARS, extract_one
from tika_addons_spark.operators.payload import scan_xpackets

text_strategy = st.one_of(
    st.none(),
    st.text(max_size=2000),
    # markup-ish soup
    st.text(
        alphabet=st.sampled_from(list("<>&;/\\{}^#%PDFhtml aA1\n\t\r\x00°déjà𝐀")),
        max_size=500,
    ),
)


@settings(max_examples=300, deadline=None)
@given(text_strategy)
def test_extract_one_total_and_bounded(text):
    r = extract_one(text)
    assert r["parse_status"] in {"valid", "valid-warnings", "rejected"}
    assert r["chars_out"] == len(r["extracted_text"]) <= MAX_EXTRACTED_CHARS
    assert r["chars_in"] == (len(text) if isinstance(text, str) else 0)
    n = r["chars_in"]
    last = -1
    for s in r["spans"]:
        assert 0 <= s["start"] <= s["end"] <= n
        assert s["start"] >= last or s["kind"] == "title"
        if s["kind"] == "main":
            last = s["start"]
    # sink hygiene: no NUL/tab/CR survives
    assert all(c not in r["extracted_text"] for c in "\x00\t\r")


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=1000))
def test_normalizers_idempotent(t):
    assert collapse_newlines(collapse_newlines(t)) == collapse_newlines(t)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.sampled_from(list("\\AHfSPLlOoKk{};^#|0123456789.,ab ")), max_size=300))
def test_mtext_cleaner_strips_all_codes(t):
    out = clean_mtext(t)
    assert "\\" not in out


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=500), st.integers(0, 3))
def test_xpacket_scan_finds_planted_packets(body, k):
    packet = '<?xpacket begin="x"?>payload<?xpacket end="w"?>'
    clean = body.replace("<?xpacket", "")
    t = (clean + packet) * k
    spans = scan_xpackets(t)
    assert len(spans) == k
    for s, e in spans:
        assert t[s : s + len('<?xpacket begin=')] == "<?xpacket begin="


# --- round-3 codecs / containers ------------------------------------------
@given(st.binary(max_size=4000))
@settings(max_examples=60, deadline=None)
def test_lzw_roundtrip_arbitrary_bytes(data):
    from tika_addons_spark.operators.multimodal import _lzw_decode, _lzw_encode

    assert _lzw_decode(_lzw_encode(data, 8), 8) == data


@given(
    st.lists(
        st.tuples(
            st.text(alphabet=st.characters(categories=("Ll", "Nd")), min_size=1, max_size=12),
            st.binary(max_size=500),
        ),
        max_size=8,
    )
)
@settings(max_examples=40, deadline=None)
def test_zip_tar_unpack_roundtrip(members):
    """Any member payloads survive zip AND tar pack→unpack byte-exactly
    (names deduped — archives allow duplicates but the test keys on them)."""
    from tika_addons_spark.operators import binarchive as ba

    members = [(f"m{i}-{n}", b) for i, (n, b) in enumerate(members)]
    for pack in (ba.make_zip, ba.make_tar):
        if not members and pack is ba.make_tar:
            continue  # empty tar detects as octet-stream (no ustar magic)
        rows = ba.unpack_one("r", pack(members), max_depth=2)
        got = [bytes(r["member_bytes"]) for r in rows if r["status"] == "ok"]
        assert got == [b for _n, b in members]


@given(st.binary(max_size=300))
@settings(max_examples=60, deadline=None)
def test_compressed_wrappers_roundtrip(data):
    from tika_addons_spark.operators import binarchive as ba

    for pack in (ba.make_gzip, bz2.compress, lzma.compress):
        rows = ba.unpack_one("w", pack(data), max_depth=2)
        if not data:
            # empty payload decompresses to an empty (octet-stream) member
            assert len(rows) == 1 and rows[0]["n_bytes"] == 0
        else:
            assert len(rows) == 1 and bytes(rows[0]["member_bytes"]) == data


@given(st.binary(min_size=1, max_size=400))
@settings(max_examples=60, deadline=None)
def test_unpack_never_raises_on_garbage(data):
    """Total-function property: arbitrary bytes (incl. ones that happen to
    start with container magics) never raise; corrupt containers surface as
    status rows."""
    from tika_addons_spark.operators import binarchive as ba

    for prefix in (b"", b"PK\x03\x04", b"\x1f\x8b", b"BZh", b"\xfd7zXZ\x00"):
        rows = ba.unpack_one("g", prefix + data, max_depth=3)
        assert all("status" in r for r in rows)


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(
                alphabet=st.sampled_from(
                    list(
                        "<html><p>%PDF- \n\t\r\x00\x1c\x1d\x1f\x85\xa0 　"
                        "abc &amp; \\P{};déjà𝐀?xml"
                    )
                ),
                max_size=200,
            ),
            # whole markup fragments, so html <meta> fields and PDF-ish
            # page counts (the meta and n_pages columns) show up too
            st.lists(
                st.sampled_from(
                    [
                        "%PDF-1.4\n", "%%Page 1\n", "%%Page 2\n", "%%EOF",
                        "<html>", "<p>", "</p>", "<title>t</title>",
                        '<meta name="author" content="a b">',
                        '<meta name="producer" content="\x85">',
                        "some words here ", "\n\n", " \x1c", "\t",
                    ]
                ),
                max_size=20,
            ).map("".join),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=50, deadline=None)
def test_arrow_kernel_equals_oracle(assert_arrow_equals_oracle, texts):
    """The mapInArrow kernel must equal oracle.extract_one on every column
    on adversarial inputs — especially the Python-strip boundary set
    (\\x1c-\\x1f, \\x85, unicode spaces) where RE2 and Python whitespace
    semantics differ."""
    assert_arrow_equals_oracle(texts)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    min_codepoint=0x20, max_codepoint=0x2FA0, exclude_characters="\x00"
                ),
                min_size=1,
                max_size=12,
            ),
            st.binary(max_size=400),
        ),
        max_size=6,
    )
)
def test_sevenz_roundtrip_property(members):
    """7z writer→reader round trip on arbitrary member names/bytes,
    including empty payloads and non-ASCII names (UTF-16LE name table)."""
    from tika_addons_spark.operators import sevenz as sz

    data = sz.make_7z(members)
    got = sz.list_members(data, 1 << 20)
    assert [(n, d, len(d)) for n, d in members] == [
        (n, d, s) for n, d, s, _ in got
    ]


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=600))
def test_sevenz_reader_total_on_garbage(data):
    """Arbitrary bytes behind the 7z magic must raise ONLY the typed
    errors (Bad7z/UnsupportedCoder), which binarchive maps to status rows
    — and unpack_one itself must stay total."""
    from tika_addons_spark.operators import binarchive as ba
    from tika_addons_spark.operators import sevenz as sz

    payload = sz.SIGNATURE + data
    try:
        sz.list_members(payload, 1 << 20)
    except (sz.Bad7z, sz.UnsupportedCoder):
        pass
    except Exception as e:  # any other escape is a totality bug
        raise AssertionError(f"untyped error: {type(e).__name__}: {e}") from e
    rows = ba.unpack_one("g", payload, max_depth=2)
    assert all(isinstance(r["status"], str) for r in rows)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=600))
def test_jpeg_decoder_total_on_garbage(data):
    """decode_jpeg never raises, on raw garbage or garbage behind a JFIF
    magic."""
    from tika_addons_spark.operators import multimodal as mm

    assert mm.decode_jpeg(data) is None or data[:2] == b"\xff\xd8"
    out = mm.decode_jpeg(b"\xff\xd8\xff" + data)
    assert out is None or out.ndim == 3


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=10_000),
    st.integers(min_value=0, max_value=255),
)
def test_jpeg_progressive_decoder_total_on_mutation(pos, byte):
    """Mutation fuzz over a VALID progressive stream: flipping any single
    byte must yield a decoded array or None — never an exception. This
    walks the multi-scan decoder through near-valid headers, scan tables
    and entropy segments that pure-garbage fuzz rarely reaches."""
    from tika_addons_spark.operators import multimodal as mm

    base = bytearray(mm.make_jpeg_420(32, 32, gradient=True, progressive=True))
    base[pos % len(base)] = byte
    out = mm.decode_jpeg(bytes(base))
    assert out is None or (out.ndim == 3 and out.dtype.name == "uint8")
