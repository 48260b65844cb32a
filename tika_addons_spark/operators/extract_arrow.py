"""Arrow-native extraction hot path (mapInArrow, zero pandas in the loop).

Motivation (round-2 measurement): at local[32] a mapInPandas extractor
realized ~66% of the pure-Python process-pool ceiling; a large share of the
gap was Arrow→pandas materialization — every turn's text becomes a Python
object even when its processing is then fully vectorized. This module keeps
the majority path (plain/xml turns) entirely inside pyarrow compute kernels
(C++, no Python objects), and materializes Python strings ONLY for the rows
that need the pure-Python kernels (html/pdf/mtext/archive/xpacket), which
run ``oracle.extract_one`` itself, so engine ≡ oracle holds by construction.

Semantics contract: byte-identical to ``oracle.extract_one`` for every
input (asserted over the full fixture corpus by
tests/test_extract_engine.py and on adversarial inputs by
tests/test_properties.py::test_arrow_kernel_equals_oracle).
The subtle bits:

- codepoint semantics: ``pc.utf8_length`` / ``pc.utf8_slice_codeunits``
  count codepoints, matching Python ``len()``/slicing;
- Python ``str.strip()`` strips the White_Space set PLUS U+001C–U+001F;
  RE2's ``\\s`` is ASCII-only — so trimming/emptiness use an explicit
  character class equal to Python's set.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..functions import sniff
from ..oracle import MAX_EXTRACTED_CHARS, extract_one
from ..schema import (
    EXTRACTED_SCHEMA,
    STATUS_REJECTED,
    STATUS_VALID,
    STATUS_VALID_WARNINGS,
)

PASSTHROUGH = ["conv_id", "turn_idx", "role", "ts"]
OUT_COLS = [f.name for f in EXTRACTED_SCHEMA.fields]

# Python str.strip() character set: Unicode White_Space ∪ U+001C..U+001F
# (RE2's \\s is ASCII-only, so the class is written out explicitly).
_PY_WS = "".join(
    chr(c)
    for c in (
        [0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F, 0x20,
         0x85, 0xA0, 0x1680]
        + list(range(0x2000, 0x200B))
        + [0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
    )
)
_ONLY_WS_RE = f"^[{_PY_WS}]*$"

# sniff regexes in RE2 dialect ((?i) replaces re.IGNORECASE). The \s here
# must be the PYTHON \s set, not RE2's ASCII-only one: sniff.py routes
# '<p ' etc. to the html kernel, so the arrow router must too
# (hypothesis-found divergence, round 5).
_RE2_HTML_PREFIX = rf"(?i)^(?:<!doctype[{_PY_WS}]+html|<html[{_PY_WS}>])"
_RE2_HTMLISH = rf"(?i)<(?:title|head|body|div|p|table|nav|h[1-6])[{_PY_WS}>]"
_RE2_MTEXT = (
    r"\\[AHf][^;\\\n]{0,100};"
    r"|\\S[^;^#]{1,20}[/^#][^;]{1,20};"
    r"|\\[PLlOoKk]"
    r"|\\[{}]"
)

_SPAN_PA = pa.struct(
    [("kind", pa.string()), ("start", pa.int32()), ("end", pa.int32())]
)
_META_PA = pa.map_(pa.string(), pa.string())
_WARN_PA = pa.list_(pa.string())
_SPANS_PA = pa.list_(_SPAN_PA)


def _b(mask) -> np.ndarray:
    """Arrow boolean → numpy bool with nulls as False."""
    return pc.fill_null(mask, False).to_numpy(zero_copy_only=False)


def _sniff_masks(text: pa.Array) -> dict[str, np.ndarray]:
    """Vectorized sniff (same priority as sniff.sniff_one) as numpy masks."""
    head = pc.utf8_slice_codeunits(pc.fill_null(text, ""), 0, 4096)
    # set-based ltrim == the ^[ws]+ regex removal (same character set),
    # measured 2.6x faster on the bench corpus
    stripped = pc.utf8_ltrim(head, characters=_PY_WS)
    # note: plain pc.or_ propagates nulls (null|true=null), which _b would
    # then fill to False — combine the numpy masks instead
    empty = _b(pc.is_null(text)) | _b(pc.equal(pc.utf8_length(text), 0))
    zipuri = _b(pc.starts_with(stripped, sniff.DATA_URI_ZIP))
    gzuri = _b(pc.starts_with(stripped, sniff.DATA_URI_GZIP))
    szuri = _b(pc.starts_with(stripped, sniff.DATA_URI_7Z))
    zuri = _b(pc.starts_with(stripped, sniff.DATA_URI_COMPRESS))
    lz4uri = _b(pc.starts_with(stripped, sniff.DATA_URI_LZ4))
    szuri2 = _b(pc.starts_with(stripped, sniff.DATA_URI_SNAPPY))
    pdf = _b(pc.starts_with(stripped, "%PDF-"))
    xml = _b(pc.starts_with(stripped, "<?xml"))
    html = _b(pc.match_substring_regex(stripped, _RE2_HTML_PREFIX)) | _b(
        pc.match_substring_regex(head, _RE2_HTMLISH)
    )
    mtext = _b(pc.match_substring_regex(head, _RE2_MTEXT))
    # priority: empty > zip > gz > 7z > pdf > xml > html > mtext > plain
    taken = empty.copy()

    def claim(m):
        out = m & ~taken
        taken[:] = taken | m
        return out

    return {
        "empty": empty,
        "zip": claim(zipuri),
        "gz": claim(gzuri),
        "sevenz": claim(szuri),
        "lzc": claim(zuri),
        "lz4": claim(lz4uri),
        "snappy": claim(szuri2),
        "pdf": claim(pdf),
        "xml": claim(xml),
        "html": claim(html),
        "mtext": claim(mtext),
        "plain": ~taken,
    }


def _ctype_values(masks: dict[str, np.ndarray], n: int) -> np.ndarray:
    out = np.full(n, sniff.MIME_PLAIN, dtype=object)
    for key, mime in (
        ("mtext", sniff.MIME_MTEXT),
        ("html", sniff.MIME_HTML),
        ("xml", sniff.MIME_XML),
        ("pdf", sniff.MIME_PDF),
        ("sevenz", sniff.MIME_7Z),
        ("lzc", sniff.MIME_COMPRESS),
        ("lz4", sniff.MIME_LZ4),
        ("snappy", sniff.MIME_SNAPPY),
        ("gz", sniff.MIME_GZIP),
        ("zip", sniff.MIME_ZIP),
        ("empty", sniff.MIME_EMPTY),
    ):
        out[masks[key]] = mime
    return out


def _empty_meta(n: int) -> pa.Array:
    offsets = pa.array(np.zeros(n + 1, dtype=np.int32))
    keys = pa.array([], type=pa.string())
    items = pa.array([], type=pa.string())
    return pa.MapArray.from_arrays(offsets, keys, items)


def _list_from_flags(n: int, flagged: np.ndarray, values: pa.Array) -> pa.Array:
    """list array with one element where flagged else []; ``values`` holds
    the element for each flagged row, in row order."""
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(flagged.astype(np.int32), out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values)


_BIG_ROW_CODEPOINTS = 65536  # rows above this take the per-row Python lane


def _clean_plain_one(s: str) -> tuple[str, bool]:
    """Per-row Python twin of the small-lane kernel chain: returns
    (output text, truncated). Byte-identical to the pc chain (the
    equivalence of each step is pinned by tests/test_extract_engine.py's
    arrow==oracle corpus assertions plus the adversarial cases in
    test_plain_lanes.py).

    Fast path for long mostly-clean rows (the common whale shape): strip
    first — a leading/trailing strip commutes with the clean chain because
    cleaning maps ws to ws, never creates leading/trailing ws from non-ws
    (the only removal that could expose a new edge is \\x00, which the
    fast path excludes), and the final strip of the chain absorbs any
    edge ws either way. If the stripped row still exceeds the truncation
    bound, only the first MAX+1 chars can reach the output, so when that
    prefix contains no [\\t\\r] and no double newline (and the whole row
    no \\x00), the cleaned text IS the stripped row and the output is its
    first MAX chars; specials beyond the prefix only affect chars past
    the window and cannot un-truncate it (drops there still leave >= MAX+1
    chars, and with no \\x00 the last char stays non-ws so the trailing
    trim removes nothing)."""
    s1 = s.strip(_PY_WS)
    if len(s1) > MAX_EXTRACTED_CHARS and "\x00" not in s1:
        p = s1[: MAX_EXTRACTED_CHARS + 1]
        if "\t" not in p and "\r" not in p and "\n\n" not in p:
            return p[:MAX_EXTRACTED_CHARS], True
    c = s1.replace("\x00", "").replace("\t", " ").replace("\r", " ")
    if "\n\n" in c:
        c = _NL_RUN_RE.sub("\n", c)
    c = c.strip(_PY_WS)
    if len(c) > MAX_EXTRACTED_CHARS:
        return c[:MAX_EXTRACTED_CHARS], True
    return c, False


_NL_RUN_RE = re.compile(r"\n+")


def _clean_plain_small(body: pa.Array) -> pa.Array:
    """The vectorized clean chain for rows of <= _BIG_ROW_CODEPOINTS
    codepoints. lstrip+rstrip regexes are fused into one set-based
    utf8_trim (same character set, proven byte-identical); no truncation
    slice — cleaning never lengthens a string, so these rows cannot
    exceed MAX_EXTRACTED_CHARS."""
    body = pc.replace_substring(body, pattern="\x00", replacement="")
    body = pc.replace_substring(body, pattern="\t", replacement=" ")
    body = pc.replace_substring(body, pattern="\r", replacement=" ")
    body = pc.replace_substring_regex(body, pattern="\n+", replacement="\n")
    return pc.utf8_trim(body, characters=_PY_WS)


def _extract_plain_arrow(text: pa.Array) -> dict[str, pa.Array]:
    """The vectorized plain/xml path — matches oracle.extract_one on every
    row the router sends here.

    Round-6 lane split: the fixture corpus is bimodal — a large majority
    of sub-KB rows plus ~2% whale rows of >100k codepoints that carry
    ~95% of the bytes and are truncated to MAX_EXTRACTED_CHARS anyway.
    The pc kernel chain copies the full batch once per pass (8 passes ≈
    4 GB of traffic per 500 MB batch), so whales go through a per-row
    Python lane that strips, probes a MAX+1-char prefix and slices —
    touching ~100 KB instead of 8x the row — while small rows keep the
    vectorized chain with two fewer passes (lstrip+rstrip fused into one
    set-based utf8_trim; the truncation slice dropped entirely because a
    row of <= MAX codepoints can never lengthen under cleaning).
    Measured: 53 -> ~8 us/plain-row on the bench corpus."""
    n = len(text)
    filled = pc.fill_null(text, "")
    chars_in = pc.cast(pc.utf8_length(filled), pa.int32())
    lens = chars_in.to_numpy(zero_copy_only=False)
    big = lens > _BIG_ROW_CODEPOINTS

    if big.any():
        big_idx = np.flatnonzero(big)
        small_idx = np.flatnonzero(~big)
        small = filled.take(pa.array(small_idx))
        body_small = _clean_plain_small(small)
        # index scalars directly: a take() of the whale rows would copy
        # their entire buffer range once more before the unavoidable
        # per-row decode
        cleaned = [
            _clean_plain_one(filled[int(i)].as_py()) for i in big_idx
        ]
        body_big = pa.array([c[0] for c in cleaned], pa.string())
        trunc_big = np.fromiter(
            (c[1] for c in cleaned), dtype=bool, count=len(cleaned)
        )
        order = np.concatenate([small_idx, big_idx])
        inv = np.empty(n, dtype=np.int64)
        inv[order] = np.arange(n, dtype=np.int64)
        body = pc.take(
            pa.concat_arrays([body_small, body_big]), pa.array(inv)
        )
        truncated = np.zeros(n, dtype=bool)
        truncated[big_idx] = trunc_big
    else:
        body = _clean_plain_small(filled)
        truncated = np.zeros(n, dtype=bool)

    empty = _b(pc.is_null(text)) | _b(
        pc.match_substring_regex(filled, _ONLY_WS_RE)
    )
    # empty rows (null / only-whitespace) already clean to "" — the trim
    # character set equals the _ONLY_WS_RE class — so no masking pass is
    # needed over the body
    out_text = body
    chars_out = pc.cast(pc.utf8_length(out_text), pa.int32())

    status = np.full(n, STATUS_VALID, dtype=object)
    status[truncated & ~empty] = STATUS_VALID_WARNINGS
    status[empty] = STATUS_REJECTED

    # spans: [] if empty else [{main, 0, chars_in}]
    has_span = ~empty
    ci_np = chars_in.to_numpy(zero_copy_only=False)
    n_span = int(has_span.sum())
    span_vals = pa.StructArray.from_arrays(
        [
            # explicit types: empty object arrays would otherwise infer null
            pa.array(np.full(n_span, "main", dtype=object), pa.string()),
            pa.array(np.zeros(n_span, dtype=np.int32), pa.int32()),
            pa.array(ci_np[has_span].astype(np.int32), pa.int32()),
        ],
        fields=list(_SPAN_PA),
    )
    spans = _list_from_flags(n, has_span, span_vals)

    # warnings: empty-content | truncated | []
    has_warn = empty | truncated
    warn_vals_np = np.where(empty, "empty-content", "truncated")[has_warn]
    warnings = _list_from_flags(n, has_warn, pa.array(warn_vals_np, pa.string()))

    return {
        "extracted_text": out_text,
        "title": pa.nulls(n, pa.string()),
        "meta": _empty_meta(n),
        "spans": spans,
        "detected_content_type": None,  # filled by caller from the sniff
        "parse_status": pa.array(status, pa.string()),
        "warnings": warnings,
        "chars_in": chars_in,
        "chars_out": chars_out,
        "n_pages": pa.nulls(n, pa.int32()),
    }


def _extract_kernel_rows(texts: list) -> dict[str, pa.Array]:
    """html/pdf/mtext/archive/xpacket rows through the canonical pure-Python
    kernel (oracle.extract_one)."""
    rows = [extract_one(t if isinstance(t, str) else None) for t in texts]
    return {
        "extracted_text": pa.array([r["extracted_text"] for r in rows], pa.string()),
        "title": pa.array([r["title"] for r in rows], pa.string()),
        "meta": pa.array([r["meta"] for r in rows], _META_PA),
        "spans": pa.array([r["spans"] for r in rows], _SPANS_PA),
        "detected_content_type": pa.array(
            [r["detected_content_type"] for r in rows], pa.string()
        ),
        "parse_status": pa.array([r["parse_status"] for r in rows], pa.string()),
        "warnings": pa.array([r["warnings"] for r in rows], _WARN_PA),
        "chars_in": pa.array([r["chars_in"] for r in rows], pa.int32()),
        "chars_out": pa.array([r["chars_out"] for r in rows], pa.int32()),
        "n_pages": pa.array([r["n_pages"] for r in rows], pa.int32()),
    }


def extract_batch_arrow(rb: pa.RecordBatch) -> pa.RecordBatch:
    text = rb.column(rb.schema.get_field_index("text"))
    if isinstance(text, pa.ChunkedArray):  # defensive; RecordBatch gives Array
        text = text.combine_chunks()
    n = len(text)
    masks = _sniff_masks(text)
    ctype = _ctype_values(masks, n)
    needs_kernel = (
        masks["html"] | masks["pdf"] | masks["mtext"]
        | masks["zip"] | masks["gz"] | masks["sevenz"] | masks["lzc"]
        | masks["lz4"] | masks["snappy"]
    )
    needs_kernel |= _b(
        pc.match_substring(pc.fill_null(text, ""), "<?xpacket begin=")
    )

    plain_idx = np.flatnonzero(~needs_kernel)
    kernel_idx = np.flatnonzero(needs_kernel)

    if len(kernel_idx) == 0:
        cols = _extract_plain_arrow(text)
        cols["detected_content_type"] = pa.array(ctype, pa.string())
        merged = cols
    elif len(plain_idx) == 0:
        merged = _extract_kernel_rows(text.to_pylist())
    else:
        plain_cols = _extract_plain_arrow(text.take(pa.array(plain_idx)))
        plain_cols["detected_content_type"] = pa.array(
            ctype[plain_idx], pa.string()
        )
        kernel_cols = _extract_kernel_rows(
            text.take(pa.array(kernel_idx)).to_pylist()
        )
        # restore original row order with one take per column
        order = np.concatenate([plain_idx, kernel_idx])
        inv = np.empty(n, dtype=np.int64)
        inv[order] = np.arange(n, dtype=np.int64)
        inv_arr = pa.array(inv)
        merged = {
            k: pc.take(
                pa.concat_arrays(
                    [plain_cols[k].cast(kernel_cols[k].type), kernel_cols[k]]
                ),
                inv_arr,
            )
            for k in kernel_cols
        }

    passthrough_null_types = {
        "conv_id": pa.string(),
        "turn_idx": pa.int32(),
        "role": pa.string(),
        "ts": pa.timestamp("us", tz="UTC"),
    }
    arrays = []
    for name in OUT_COLS:
        if name in PASSTHROUGH:
            idx = rb.schema.get_field_index(name)
            arrays.append(
                rb.column(idx)
                if idx >= 0
                else pa.nulls(n, passthrough_null_types[name])
            )
        else:
            arrays.append(merged[name])
    return pa.RecordBatch.from_arrays(arrays, names=OUT_COLS)


def extract_batches_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    for rb in batches:
        yield extract_batch_arrow(rb)

