"""The extraction operator: Arrow-batched mapInArrow over transcript turns.

Spark-first design (SURVEY.md §3.1 trace): the logical plan is

    scan(transcripts)                      -- Iceberg/parquet, pruned columns
      → repartition(bucketed conv_id [+salt for whales])
      → sortWithinPartitions(conv_id, turn_idx)   -- deterministic order (W2)
      → mapInArrow(extract_batches_arrow)         -- THIS operator
      → sink (+ checkpoint/metrics)

There is one extraction contract: ``oracle.extract_one`` is the per-turn
spec, and ``extract_arrow.extract_batch_arrow`` is the only engine path.
``extract_batches_arrow`` is an iterator-of-batches UDF (amortizes per-batch
setup, mirroring the reference's "expensive DocMapper — only use one",
``tika-eval-solrj/.../Indexer.java:144-145``). Inside a batch:

- content sniffing and the plain-text path are **vectorized** pyarrow
  compute kernels (no per-row Python) — the majority of turns;
- HTML / PDF-ish / markup-code / archive turns run ``oracle.extract_one``
  itself, so engine ≡ oracle by construction and pytest verifies it stays
  that way (tests/test_extract_engine.py, tests/test_properties.py).

Per-record failure isolation: the kernels are total functions; a poison turn
yields ``parse_status='rejected'`` + warnings, never a task failure
(reference taxonomy: ParseStatus.java:21-71, TikaClient.java:45-58).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..functions import sniff
from ..schema import EXTRACTED_SCHEMA
from .extract_arrow import PASSTHROUGH, extract_batches_arrow


def extract_turns(df: DataFrame) -> DataFrame:
    """Declarative entry: transcripts DataFrame → extracted DataFrame.

    Plain/xml turns never materialize Python strings; kernel turns run
    oracle.extract_one. Equality with the oracle over the full fixture
    corpus is asserted by tests/test_extract_engine.py."""
    cols = [c for c in PASSTHROUGH if c in df.columns] + ["text"]
    return df.select(*cols).mapInArrow(extract_batches_arrow, schema=EXTRACTED_SCHEMA)


def extract_embedded_turns(df: DataFrame) -> DataFrame:
    """UDTF-shaped X10 on the extraction path: one row per *member* of each
    archive turn (base64 zip/gzip data-URI) — the reference's container →
    ``List<Metadata>`` flatten where every element carries the parent key +
    position (``TikaEvalDocMapper.java:86-127``, ``Indexer.java:259-275``).
    Each member's text runs through its own extraction kernel. Narrow stage,
    no shuffle; corrupt members become status rows, never failures."""
    import base64

    from ..oracle import extract_one as _extract_one
    from . import binarchive

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            rows = []
            for conv_id, turn_idx, text in zip(*(c.to_pylist() for c in rb.columns)):
                if not isinstance(text, str):
                    continue
                ctype = sniff.sniff_one(text)
                if ctype not in (sniff.MIME_ZIP, sniff.MIME_GZIP, sniff.MIME_7Z,
                                 sniff.MIME_COMPRESS, sniff.MIME_LZ4,
                                 sniff.MIME_SNAPPY):
                    continue
                try:
                    data = base64.b64decode(
                        text.strip().split(",", 1)[1], validate=True
                    )
                except Exception:
                    data = None
                members = (
                    binarchive.unpack_one(str(conv_id), data, max_depth=3)
                    if data is not None
                    else [{"member_idx": -1, "member_name": str(conv_id),
                           "member_text": None,
                           "detected_type": sniff.MIME_EMPTY,
                           "status": "corrupt:b64"}]
                )
                for r in members:
                    if r["status"] == "ok" and r["member_text"] is not None:
                        sub = _extract_one(r["member_text"])
                        etext, chars = sub["extracted_text"], sub["chars_out"]
                    else:
                        etext, chars = None, 0
                    # the output schema keeps r's member_idx, member_name,
                    # detected_type and status, and drops its other keys
                    rows.append({"conv_id": conv_id, "turn_idx": turn_idx,
                                 "extracted_text": etext, "chars_out": chars} | r)
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    schema = StructType.fromDDL(
        "conv_id string, turn_idx int, member_idx int, member_name string, "
        "detected_type string, status string, extracted_text string, "
        "chars_out int"
    )
    arrow_schema = to_arrow_schema(schema)
    return df.select("conv_id", "turn_idx", "text").mapInArrow(batches, schema=schema)
