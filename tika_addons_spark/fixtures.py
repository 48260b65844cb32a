"""Deterministic synthetic transcripts generator (FIXTURES.md §1).

Seeded, pure numpy/python — no external data, no network. Produces the
authoritative input shape from BASELINE.json ``input_hint``:

    transcripts(conv_id string, turn_idx int32, role string, text string,
                tool string, ts timestamp)

Turn-text archetypes reproduce the reference's test-resource classes
(FIXTURES.md table): plain prose, HTML-with-boilerplate pages, bugzilla-style
attachment tables, PDF-ish payloads (some with embedded xpackets), DWG-MTEXT
markup codes, base64 zip/gzip attachment turns (REAL archive bytes — the X10
extraction-path fixture), noisy text, and poison turns (corrupt payloads,
corrupt archives, empty/null, megarow, control chars) that must never fail
the job.

Conversation lengths are skewed (median ~8 turns) and every scale includes
one "whale" conversation at 100× median — the skew fixture required by
SURVEY.md §8 step 9.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

WORDS = (
    "the quick brown fox jumps over lazy dog spark engine extracts clean "
    "text from noisy transcripts while keeping exact spans and stable order "
    "every turn gets a status and metrics so failures never stop the job "
    "partitions shuffle broadcast salt skew window checkpoint resume merge"
).split()

ROLES = ["user", "assistant", "tool", "system"]
TOOLS = ["search", "browser", "python", "calculator"]

ARCHETYPES = [
    ("plain", 0.31),
    ("html_boilerplate", 0.25),
    ("html_table_attach", 0.05),
    ("pdfish_payload", 0.15),
    ("markup_codes", 0.10),
    ("archive_attach", 0.04),
    ("noisy", 0.05),
    ("poison", 0.05),
]

BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _sentence(rng: np.random.RandomState, n: int) -> str:
    return " ".join(WORDS[i] for i in rng.randint(0, len(WORDS), n))


def _paragraph(rng, n_sentences: int) -> str:
    return ". ".join(
        _sentence(rng, int(rng.randint(6, 14))).capitalize()
        for _ in range(n_sentences)
    ) + "."


def _plain(rng) -> str:
    return "\n\n".join(_paragraph(rng, int(rng.randint(1, 4))) for _ in range(int(rng.randint(1, 4))))


def _nav_links(rng, n: int) -> str:
    return " ".join(
        f'<a href="/{w}">{w} {w2}</a>'
        for w, w2 in zip(
            (WORDS[i] for i in rng.randint(0, len(WORDS), n)),
            (WORDS[i] for i in rng.randint(0, len(WORDS), n)),
        )
    )


def _html_boilerplate(rng) -> str:
    title = _sentence(rng, 4).title()
    author = _sentence(rng, 2).title()
    paras = "\n".join(
        f"<p>{_paragraph(rng, int(rng.randint(2, 5)))}</p>"
        for _ in range(int(rng.randint(2, 5)))
    )
    heading = _sentence(rng, 3).title()
    sidebar = "\n".join(
        f"<li><a href='/t/{i}'>{_sentence(rng, 2)}</a></li>" for i in range(6)
    )
    return f"""<!DOCTYPE html>
<html><head><title>{title}</title>
<meta name="author" content="{author}">
<meta name="producer" content="synthgen 1.0">
</head><body>
<nav><ul>{sidebar}</ul></nav>
<header><div>{_nav_links(rng, 5)}</div></header>
<div class="content">
<h1>{heading}</h1>
{paras}
</div>
<aside>{_nav_links(rng, 8)}</aside>
<footer><p>copyright {_nav_links(rng, 4)}</p></footer>
</body></html>"""


def _html_table_attach(rng) -> str:
    n = int(rng.randint(1, 4))
    rows = "\n".join(
        f'<tr class="bz_contenttype_application_{t}">'
        f'<td><a title="View the content of the attachment" href="/att/{i}">'
        f"attachment_{i}.{t}</a></td><td>{_sentence(rng, 3)}</td></tr>"
        for i, t in enumerate(
            ["pdf", "zip", "xml"][j] for j in rng.randint(0, 3, n)
        )
    )
    return (
        "<html><body><table class='attachments'>\n"
        + rows
        + "\n</table></body></html>"
    )


def _xpacket(rng) -> str:
    return (
        '<?xpacket begin="﻿" id="W5M0MpCehiHzreSzNTczkc9d"?>'
        f"<x:xmpmeta><dc:title>{_sentence(rng, 3)}</dc:title></x:xmpmeta>"
        '<?xpacket end="w"?>'
    )


def _pdfish(rng) -> str:
    n_pages = int(rng.randint(1, 4))
    pages = []
    for p in range(1, n_pages + 1):
        lines = []
        for _ in range(int(rng.randint(1, 3))):
            words = _sentence(rng, int(rng.randint(18, 30))).split()
            # wrap at ~8 words, hyphenate some wraps
            for i in range(0, len(words), 8):
                chunk = " ".join(words[i : i + 8])
                if rng.random_sample() < 0.3 and i + 8 < len(words):
                    nxt = words[i + 8]
                    if len(nxt) > 4:
                        chunk += " " + nxt[:2] + "-"
                        words[i + 8] = nxt[2:]
                lines.append(chunk)
            lines.append("")
        pages.append(f"%%Page {p}\n" + "\n".join(lines))
    body = "%PDF-1.4\n" + "\n".join(pages) + "\n%%EOF"
    if rng.random_sample() < 0.3:
        # embed an XMP packet mid-payload (X8 span-scan fixture)
        cut = body.find("%%Page 1") + len("%%Page 1\n")
        body = body[:cut] + _xpacket(rng) + "\n" + body[cut:]
    return body


def _markup_codes(rng) -> str:
    frags = []
    for _ in range(int(rng.randint(2, 5))):
        w = _sentence(rng, int(rng.randint(2, 6)))
        style = rng.randint(0, 5)
        if style == 0:
            frags.append(f"\\A1;\\fArial|b0|i0;\\H2.5000;{w}")
        elif style == 1:
            frags.append(f"\\L{w}\\l")
        elif style == 2:
            frags.append(f"{{\\H1.3;\\S+{rng.randint(0,9)},{rng.randint(0,9)}^+0,{rng.randint(0,9)};}}")
        elif style == 3:
            frags.append(f"{w}\\P{_sentence(rng, 3)}")
        else:
            frags.append(f"\\{{ {w} \\}}")
    return "".join(frags)


def _archive_attach(rng) -> str:
    """Real zip/gzip bytes as a base64 data-URI turn — the transcript form
    of the reference's base64 bugzilla attachments (BugzillaWorker gz'd
    JSON). Members are themselves typed payloads, so the X10 path exercises
    per-member re-detection + per-member kernels."""
    import base64

    from .operators.binarchive import make_gzip, make_zip

    if rng.random_sample() < 0.3:
        data = make_gzip(_plain(rng).encode("utf-8"))
        return "data:application/gzip;base64," + base64.b64encode(data).decode()
    members = []
    for i in range(int(rng.randint(2, 5))):
        k = int(rng.randint(0, 3))
        if k == 0:
            t = _plain(rng)
        elif k == 1:
            t = f"%PDF-1.4\n%%Page 1\n{_sentence(rng, 12)}\n%%EOF"
        else:
            t = f"<html><body><p>{_paragraph(rng, 2)}</p></body></html>"
        members.append((f"m{i}", t.encode("utf-8")))
    return "data:application/zip;base64," + base64.b64encode(
        make_zip(members)
    ).decode()


def _noisy(rng) -> str:
    base = _plain(rng)
    noise = [0.05, 0.1, 0.3][int(rng.randint(0, 3))]
    chars = list(base)
    for i in range(len(chars)):
        if rng.random_sample() < noise:
            chars[i] = chr(max(33, min(0x24F, ord(chars[i]) + int(rng.randint(-1, 2)))))
    return "".join(chars)


def _poison(rng) -> str | None:
    kind = int(rng.randint(0, 7))
    if kind == 0:
        return "<html><head><title>trunc"  # truncated HTML
    if kind == 1:
        return "%PDF-1.4\n" + "".join(chr(33 + int(x)) for x in rng.randint(0, 90, 200))
    if kind == 2:
        return ""
    if kind == 3:
        return None
    if kind == 4:
        return "megarow " + _sentence(rng, 30000)  # >100k chars, truncation path
    if kind == 5:
        import base64

        # valid base64, corrupt zip bytes — must reject, never fail (X10/X5)
        bad = b"PK\x03\x04" + bytes(int(x) for x in rng.randint(0, 255, 24))
        return "data:application/zip;base64," + base64.b64encode(bad).decode()
    return "ctrl\x00chars\tand\rrets\nhere"


_GEN = {
    "plain": _plain,
    "html_boilerplate": _html_boilerplate,
    "html_table_attach": _html_table_attach,
    "pdfish_payload": _pdfish,
    "markup_codes": _markup_codes,
    "archive_attach": _archive_attach,
    "noisy": _noisy,
    "poison": _poison,
}


def conversation_rows(c: int, seed: int = 42, whale: bool = True) -> list[dict]:
    """Deterministic turns for conversation ``c`` — seeded per conversation,
    so generation parallelizes (any partitioning of conv ids yields the
    identical table)."""
    rng = np.random.RandomState((seed * 1_000_003 + c) % (2**31 - 1))
    names = [a for a, _ in ARCHETYPES]
    probs = np.array([p for _, p in ARCHETYPES])
    probs = probs / probs.sum()

    conv_id = f"conv-{c:08d}"
    n_turns = int(1 + rng.geometric(1.0 / 8))
    if whale and c == 0:
        n_turns = 800  # the 100×-median whale (skew fixture)
    kinds = rng.choice(names, size=n_turns, p=probs)
    rows = []
    for t in range(n_turns):
        role = (
            ROLES[t % 2]
            if rng.random_sample() < 0.8
            else ROLES[int(rng.randint(0, 4))]
        )
        tool = TOOLS[int(rng.randint(0, len(TOOLS)))] if role == "tool" else None
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": role,
                "text": _GEN[kinds[t]](rng),
                "tool": tool,
                "ts": BASE_TS + dt.timedelta(hours=c, minutes=t),
            }
        )
    return rows


def generate_transcripts(
    n_convs: int = 50, seed: int = 42, whale: bool = True
) -> pa.Table:
    """Deterministic transcripts table as an Arrow table."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schema import TRANSCRIPTS_SCHEMA  # local: importing fixtures needs no pyspark

    rows = []
    for c in range(n_convs):
        rows.extend(conversation_rows(c, seed=seed, whale=whale))
    return pa.Table.from_pylist(rows, schema=to_arrow_schema(TRANSCRIPTS_SCHEMA))


def generate_transcripts_spark(spark, n_convs: int, seed: int = 42, whale: bool = True):
    """Distributed deterministic generation (same rows as
    ``generate_transcripts``, any partitioning) — used to build bench-scale
    inputs in parallel."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .schema import TRANSCRIPTS_SCHEMA  # local: importing fixtures needs no pyspark

    schema = to_arrow_schema(TRANSCRIPTS_SCHEMA)

    def gen(batches):
        for rb in batches:
            rows = []
            for c in rb.column(0).to_pylist():
                rows.extend(conversation_rows(c, seed=seed, whale=whale))
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    n_parts = spark.sparkContext.defaultParallelism * 2
    return (
        spark.range(0, n_convs, numPartitions=n_parts)
        .mapInArrow(gen, schema=TRANSCRIPTS_SCHEMA)
    )


def write_transcripts_parquet(path: str, n_convs: int = 50, seed: int = 42) -> str:
    """Write the generated table as a single parquet file; returns path."""
    import pyarrow.parquet as pq

    pq.write_table(generate_transcripts(n_convs=n_convs, seed=seed), path)
    return path
