"""Kernel-lane timings of ``extract_arrow.extract_batch_arrow``, in this
process and without Spark.

Rows of a workload's own input are sorted into lanes by
``sniff.sniff_one`` and the 65,536-codepoint whale rule, cut into
lane-pure batches of ``session.ARROW_MAX_RECORDS`` rows, and each batch
is timed through the public batch entry point.
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

from tika_addons_spark.functions import sniff
from tika_addons_spark.operators.extract_arrow import extract_batch_arrow
from tika_addons_spark.session import ARROW_MAX_RECORDS

LANES = ("html", "pdf", "mtext", "archive", "plain", "plain_big", "xml", "empty")
BIG_ROW_CODEPOINTS = 65_536

_LANE_OF_MIME = {
    sniff.MIME_HTML: "html",
    sniff.MIME_PDF: "pdf",
    sniff.MIME_MTEXT: "mtext",
    sniff.MIME_XML: "xml",
    sniff.MIME_EMPTY: "empty",
    sniff.MIME_ZIP: "archive",
    sniff.MIME_GZIP: "archive",
    sniff.MIME_7Z: "archive",
    sniff.MIME_COMPRESS: "archive",
    sniff.MIME_LZ4: "archive",
    sniff.MIME_SNAPPY: "archive",
}

BATCH_COLS = ["conv_id", "turn_idx", "role", "ts", "text"]


def lane_of(text: str | None) -> str:
    lane = _LANE_OF_MIME.get(sniff.sniff_one(text), "plain")
    if lane == "plain" and text is not None and len(text) > BIG_ROW_CODEPOINTS:
        return "plain_big"
    return lane


def _batches(table: pa.Table, idx: list[int]) -> list[pa.RecordBatch]:
    sub = table.select(BATCH_COLS).take(pa.array(idx, pa.int64())).combine_chunks()
    return sub.to_batches(max_chunksize=ARROW_MAX_RECORDS)


def _time_batches(batches: list[pa.RecordBatch], repeats: int) -> float:
    """Median over ``repeats`` of the summed per-batch wall, in seconds."""
    walls = []
    for _ in range(repeats):
        total = 0.0
        for rb in batches:
            t0 = time.perf_counter()
            extract_batch_arrow(rb)
            total += time.perf_counter() - t0
        walls.append(total)
    return statistics.median(walls)


def lane_metrics(
    table: pa.Table, max_batches: int = 1, repeats: int = 3
) -> dict[str, float]:
    """``extract.lane.<lane>.{us_per_row,rows}`` for every lane and
    ``extract.mixed.us_per_row`` over batches in input order. ``rows`` is
    the lane's share of the whole input; timing uses at most
    ``max_batches`` batches per lane. A lane the input does not reach
    reports 0 for both."""
    texts = table.column("text").to_pylist()
    by_lane: dict[str, list[int]] = {lane: [] for lane in LANES}
    for i, t in enumerate(texts):
        by_lane[lane_of(t)].append(i)
    out: dict[str, float] = {}
    cap = max_batches * ARROW_MAX_RECORDS
    for lane in LANES:
        idx = by_lane[lane]
        out[f"extract.lane.{lane}.rows"] = len(idx)
        if idx:
            timed = idx[:cap]
            wall = _time_batches(_batches(table, timed), repeats)
            out[f"extract.lane.{lane}.us_per_row"] = wall / len(timed) * 1e6
        else:
            out[f"extract.lane.{lane}.us_per_row"] = 0.0
    n_mixed = min(table.num_rows, 2 * cap)
    mixed = _batches(table, list(range(n_mixed)))
    out["extract.mixed.us_per_row"] = _time_batches(mixed, repeats) / n_mixed * 1e6
    return out
