"""Container unpack + embedded-document flatten (SURVEY.md §2.9 X10).

Reference semantics (``bugtracker-crawler/.../Step3Unpacker.java:50-229``):

- package formats (zip/tar/7z/rar) → every embedded entry becomes a
  numbered sibling file ``{container}-{count}{ext}`` where the extension is
  re-detected from the *content* of the entry (not trusted from its name);
- compressed single-file wrappers (gz/xz/bz2) → exactly one child
  ``{container}-0{ext}`` (``Step3Unpacker.decompress``);
- children re-enter processing, so nested containers unpack recursively on
  subsequent sweeps; malformed containers never fail the job
  (``Step3Unpacker.processFile`` catches and logs).

Per-entry rows (name, content-detected type, depth) are the shape of the
entry feature dump in ``ZipFeatureDumper.java:142-207`` (X7); q40 rolls
them up.

REAL binary formats (zip/tar/gzip/bz2/xz bytes) live in the sibling module
``binarchive.py`` (q47, and the extraction path's base64 data-URI turns).
This module keeps the deterministic TEXT container format: its losslessness
makes the pack→explode round trip exactly SQL-predictable, which is what the
q40 oracle checks (the operator shape — UDTF explode of N members out of one
payload row, content re-sniff per member, sequential numbering, bounded
recursion — is identical in both):

    %ARCHIVE-1.0 name=<name> n=<k>
    %%Member name=<member-name> len=<payload-chars>
    <exactly len chars>
    %%Member ...
    %%ArchiveEnd

    %GZWRAP-1.0 name=<inner-name> len=<payload-chars>
    <payload>

Length-prefixed members make the format lossless for arbitrary payloads
(including payloads that contain member headers or nested archives), which
gives the pack→explode round-trip property the q40 oracle relies on.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..functions import sniff

MIME_ARCHIVE = "application/x-archive"
MIME_GZWRAP = "application/gzip"

ARCHIVE_MAGIC = "%ARCHIVE-1.0 "
GZWRAP_MAGIC = "%GZWRAP-1.0 "

# content-detected extension, mirroring the reference's re-detect-then-name
# (Step3Unpacker uses Tika detect on the extracted tmp file)
_EXT = {
    sniff.MIME_PDF: ".pdf",
    sniff.MIME_HTML: ".html",
    sniff.MIME_XML: ".xml",
    sniff.MIME_MTEXT: ".mtx",
    sniff.MIME_PLAIN: ".txt",
    sniff.MIME_EMPTY: ".bin",
    MIME_ARCHIVE: ".arc",
    MIME_GZWRAP: ".gz",
}

_MEMBER_RE = re.compile(r"%%Member name=(?P<name>[^ \n]*) len=(?P<len>\d+)\n")
_HEADER_RE = re.compile(r"%ARCHIVE-1\.0 name=(?P<name>[^ \n]*) n=(?P<n>\d+)\n")
_GZ_RE = re.compile(r"%GZWRAP-1\.0 name=(?P<name>[^ \n]*) len=(?P<len>\d+)\n")


def detect_container(text: str | None) -> str:
    """Container-aware sniff: archive/gzwrap magics first, else the normal
    content sniff (X6)."""
    if isinstance(text, str):
        if text.startswith(ARCHIVE_MAGIC):
            return MIME_ARCHIVE
        if text.startswith(GZWRAP_MAGIC):
            return MIME_GZWRAP
    return sniff.sniff_one(text)


# ---------------------------------------------------------------------------
# pack side (fixture/builder): deterministic, lossless
# ---------------------------------------------------------------------------
def make_archive(name: str, members: list[tuple[str, str]]) -> str:
    """Serialize (member_name, payload) pairs into one container string."""
    parts = [f"%ARCHIVE-1.0 name={name} n={len(members)}\n"]
    for mname, payload in members:
        payload = payload if isinstance(payload, str) else ""
        parts.append(f"%%Member name={mname} len={len(payload)}\n")
        parts.append(payload)
        parts.append("\n")
    parts.append("%%ArchiveEnd\n")
    return "".join(parts)


def pack_members(
    df: DataFrame,
    group_col: str,
    name_col: str,
    text_col: str,
    container_prefix: str = "arc",
) -> DataFrame:
    """Group rows into one container payload per ``group_col`` value —
    members ordered by ``name_col`` for determinism. Returns
    (container_id string, payload string).

    applyInArrow grouped-map: each group is one output row; the shuffle is
    the unavoidable group-by-container co-location and the payload build is
    linear in member bytes."""
    schema = StructType.fromDDL(
        "container_id string, group_value string, payload string"
    )
    arrow_schema = to_arrow_schema(schema)

    def build(table: pa.Table) -> pa.Table:
        table = table.sort_by(name_col)  # stable, like a mergesort
        gid = str(table.column(group_col)[0].as_py())
        members = [
            (str(n), t if isinstance(t, str) else "")
            for n, t in zip(
                table.column(name_col).to_pylist(), table.column(text_col).to_pylist()
            )
        ]
        return pa.table(
            {
                "container_id": [f"{container_prefix}-{gid}"],
                "group_value": [gid],
                "payload": [make_archive(f"{container_prefix}-{gid}", members)],
            },
            schema=arrow_schema,
        )

    return (
        df.select(group_col, name_col, text_col)
        .groupBy(group_col)
        .applyInArrow(build, schema=schema)
    )


# ---------------------------------------------------------------------------
# unpack side: the X10 operator
# ---------------------------------------------------------------------------
def _parse_members(text: str) -> tuple[list[tuple[str, str]], bool]:
    """Parse container members; returns (members, well_formed). Malformed
    input never raises — members parsed before the corruption are kept
    (reference: unpack errors are logged, never fatal)."""
    m = _HEADER_RE.match(text)
    if not m:
        return [], False
    pos = m.end()
    members: list[tuple[str, str]] = []
    while True:
        if text.startswith("%%ArchiveEnd", pos):
            return members, True
        hm = _MEMBER_RE.match(text, pos)
        if not hm:
            return members, False
        ln = int(hm.group("len"))
        start = hm.end()
        end = start + ln
        if end > len(text):
            return members, False
        members.append((hm.group("name"), text[start:end]))
        pos = end + 1  # separator newline


def explode_one(
    name: str, text: str | None, max_depth: int = 3, emit_containers: bool = False
) -> list[dict]:
    """Pure-Python kernel (oracle-style single source of truth): flatten one
    payload into member rows. Children are numbered sequentially per
    container and named ``{container}-{count}{ext}`` with the extension
    re-detected from content (Step3Unpacker.java:102-180,214-227); nested
    containers are expanded breadth-first up to ``max_depth`` (standing in
    for the reference's re-sweep of emitted children)."""
    rows: list[dict] = []
    ctype = detect_container(text)
    if ctype not in (MIME_ARCHIVE, MIME_GZWRAP):
        return rows
    work: list[tuple[str, str, int]] = [(name, text or "", 0)]
    while work:
        cname, ctext, depth = work.pop(0)
        kind = detect_container(ctext)
        if kind == MIME_GZWRAP:
            gm = _GZ_RE.match(ctext)
            if not gm:
                continue
            ln = int(gm.group("len"))
            payload = ctext[gm.end() : gm.end() + ln]
            children = [payload]
        else:
            members, _ok = _parse_members(ctext)
            children = [payload for _n, payload in members]
        for count, payload in enumerate(children):
            mtype = detect_container(payload)
            child_name = f"{cname}-{count}{_EXT.get(mtype, '.bin')}"
            is_container = mtype in (MIME_ARCHIVE, MIME_GZWRAP)
            if is_container and depth + 1 < max_depth:
                if emit_containers:
                    rows.append(
                        {
                            "member_idx": count,
                            "member_name": child_name,
                            "member_text": payload,
                            "detected_type": mtype,
                            "depth": depth + 1,
                            "is_container": True,
                        }
                    )
                work.append((child_name, payload, depth + 1))
            else:
                rows.append(
                    {
                        "member_idx": count,
                        "member_name": child_name,
                        "member_text": payload,
                        "detected_type": mtype,
                        "depth": depth + 1,
                        "is_container": is_container,
                    }
                )
    return rows


def explode_members(
    df: DataFrame,
    id_cols: list[str] | None = None,
    text_col: str = "payload",
    max_depth: int = 3,
    emit_containers: bool = False,
) -> DataFrame:
    """X10 as a Spark operator: mapInArrow UDTF — N container rows in,
    M member rows out. One narrow-dependency stage, no shuffle; at 100 TB
    the only distribution concern is container-size skew, which the caller
    handles with the same salted repartition the extraction pipeline uses."""
    id_cols = id_cols or ["container_id"]

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            rows = []
            for tup in zip(*(c.to_pylist() for c in rb.columns)):
                ids, text = tup[:-1], tup[-1]
                root = str(ids[0])
                for r in explode_one(
                    root, text, max_depth=max_depth, emit_containers=emit_containers
                ):
                    rows.append(dict(zip(id_cols, ids)) | r)
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    id_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in id_cols
    )
    schema = StructType.fromDDL(
        f"{id_schema}, member_idx int, member_name string, "
        "member_text string, detected_type string, depth int, "
        "is_container boolean"
    )
    arrow_schema = to_arrow_schema(schema)
    return df.select(*id_cols, text_col).mapInArrow(batches, schema=schema)
