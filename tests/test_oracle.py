"""Pure-Python oracle behavior tests (no Spark): archetype dispatch, span
exactness, poison totality (X5 — failures recorded, never raised)."""

import numpy as np
import pyarrow.compute as pc
import pytest

from tika_addons_spark.fixtures import (
    _html_boilerplate,
    _html_table_attach,
    _markup_codes,
    _pdfish,
    _plain,
    generate_transcripts,
)
from tika_addons_spark.operators.payload import parse_payload, scan_xpackets
from tika_addons_spark.oracle import MAX_EXTRACTED_CHARS, extract_one


def test_html_lifts_title_and_meta():
    r = extract_one(_html_boilerplate(np.random.RandomState(7)))
    assert r["parse_status"] == "valid"
    assert r["title"] and r["title"] not in r["extracted_text"]
    assert r["meta"]["producer"] == "synthgen 1.0"
    assert "author" in r["meta"]


def test_html_strips_boilerplate():
    h = _html_boilerplate(np.random.RandomState(11))
    r = extract_one(h)
    # nav/footer link text must not leak into main content
    assert "/t/0" not in r["extracted_text"]
    assert "copyright" not in r["extracted_text"]
    assert len(r["extracted_text"]) > 100


def test_html_span_offsets_exact():
    h = _html_boilerplate(np.random.RandomState(13))
    r = extract_one(h)
    main = [s for s in r["spans"] if s["kind"] == "main"]
    assert main
    for s in main:
        frag = h[s["start"] : s["end"]]
        assert frag.strip()
        # every main span's text must appear (whitespace-normalized) in output
        import re

        norm = re.sub(r"\s+", " ", frag).strip()
        out_norm = re.sub(r"\s+", " ", r["extracted_text"])
        # entity-decoded fragments may differ; fixture pages have no entities
        assert norm[:40] in out_norm


def test_bugzilla_attachment_rows():
    r = extract_one(_html_table_attach(np.random.RandomState(9)))
    atts = {k: v for k, v in r["meta"].items() if k.startswith("attachment_")}
    assert atts
    assert all("[application/" in v for v in atts.values())


def test_pdfish_parse_and_dehyphenation():
    p = "%PDF-1.4\n%%Page 1\nthis is an exam-\nple of wrapped text\n\n%%EOF"
    r = extract_one(p)
    assert r["parse_status"] == "valid"
    assert "example of wrapped text" in r["extracted_text"]
    assert r["n_pages"] == 1
    kinds = {s["kind"] for s in r["spans"]}
    assert "pdf_text" in kinds


def test_pdfish_xpacket_spans():
    xp = '<?xpacket begin="x"?>SECRET<?xpacket end="w"?>'
    p = f"%PDF-1.4\n%%Page 1\n{xp}\nvisible text line here\n%%EOF"
    r = extract_one(p)
    spans = [s for s in r["spans"] if s["kind"] == "xpacket"]
    assert len(spans) == 1
    s = spans[0]
    assert p[s["start"] : s["end"]] == xp
    assert "SECRET" not in r["extracted_text"]
    assert "visible text line here" in r["extracted_text"]


def test_scan_xpackets_multiple_and_unterminated():
    t = 'a<?xpacket begin="1"?>x<?xpacket end="w"?>b<?xpacket begin="2"?>tail'
    spans = scan_xpackets(t)
    assert len(spans) == 2
    assert spans[1][1] == len(t)  # unterminated extends to end


def test_corrupt_pdf_rejected_not_raised():
    r = extract_one("%PDF-1.4\n" + "garbage " * 50)
    assert r["parse_status"] == "rejected"
    assert any("corrupt" in w for w in r["warnings"])
    assert r["extracted_text"] == ""


def test_mtext_turn():
    r = extract_one(_markup_codes(np.random.RandomState(3)))
    assert r["detected_content_type"] == "application/x-dwg-mtext"
    assert "\\H" not in r["extracted_text"]
    assert r["parse_status"] == "valid"


@pytest.mark.parametrize(
    "text,status",
    [
        (None, "rejected"),
        ("", "rejected"),
        ("   \n ", "rejected"),
        ("<html><head><title>trunc", "valid-warnings"),
        ("plain ok", "valid"),
    ],
)
def test_poison_taxonomy(text, status):
    r = extract_one(text)
    assert r["parse_status"] == status


def test_truncation_path():
    r = extract_one("x" * (MAX_EXTRACTED_CHARS + 50))
    assert r["chars_out"] == MAX_EXTRACTED_CHARS
    assert "truncated" in r["warnings"]
    assert r["parse_status"] == "valid-warnings"


def test_whole_corpus_total_function():
    table = generate_transcripts(n_convs=25, seed=7)
    for t in table.column("text").to_pylist():
        r = extract_one(t)
        assert r["parse_status"] in {"valid", "valid-warnings", "rejected"}
        assert r["chars_out"] == len(r["extracted_text"])


def test_plain_control_chars():
    r = extract_one("ctrl\x00chars\tand\rrets\nhere")
    assert "\x00" not in r["extracted_text"]
    assert "\t" not in r["extracted_text"]
    assert "\r" not in r["extracted_text"]


def test_generator_determinism():
    a = generate_transcripts(n_convs=10, seed=42)
    b = generate_transcripts(n_convs=10, seed=42)
    assert a.equals(b)
    # whale conversation present (skew fixture)
    counts = pc.value_counts(a.column("conv_id")).field("counts")
    assert pc.max(counts).as_py() == 800
