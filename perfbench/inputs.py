"""Benchmark inputs with a manifest that holds each file's row count and
digest; an input is used only if both still match. Transcripts are
generated from the seed once per (seed, size) and cached; the query
suite's tables ship with the benchmark."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tika_addons_spark import fixtures

TRANSCRIPTS_PA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class CachedInput:
    """A directory holding parquet files plus ``manifest.json``."""

    def __init__(self, cache_dir: str, key: str):
        self.dir = os.path.join(cache_dir, key)
        self.manifest_path = os.path.join(self.dir, "manifest.json")

    def valid(self) -> bool:
        try:
            with open(self.manifest_path) as f:
                manifest = json.load(f)
            for name, want in manifest["files"].items():
                path = os.path.join(self.dir, name)
                if pq.read_metadata(path).num_rows != want["rows"]:
                    return False
                if _sha256(path) != want["sha256"]:
                    return False
        except (OSError, ValueError, KeyError):
            return False
        self.manifest = manifest
        return True

    def write(self, tables: dict[str, pa.Table], extra: dict) -> None:
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        files = {}
        for name, table in tables.items():
            path = os.path.join(tmp, f"{name}.parquet")
            pq.write_table(table, path)
            files[f"{name}.parquet"] = {"rows": table.num_rows, "sha256": _sha256(path)}
        self.manifest = {"files": files, **extra}
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(self.manifest, f)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.parquet")


def _get(cache_dir: str, key: str, build) -> tuple[CachedInput, bool]:
    """Returns (input, generated_now)."""
    ci = CachedInput(cache_dir, key)
    if ci.valid():
        return ci, False
    tables, extra = build()
    ci.write(tables, extra)
    return ci, True


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------
def _conversations(seed: int, convs: range) -> pa.Table:
    rows = []
    for c in convs:
        rows.extend(fixtures.conversation_rows(c, seed=seed))
    return pa.Table.from_pylist(rows, schema=TRANSCRIPTS_PA)


def mixed_transcripts(cache_dir: str, seed: int, n_convs: int, workers: int):
    """The default archetype mix of ``fixtures.conversation_rows`` (html,
    pdf-ish, markup, archives, poison, one 800-turn whale conversation).
    Each conversation is seeded on its own, so ``workers`` processes build
    the same table as one would."""

    def build():
        step = -(-n_convs // workers)
        chunks = [range(i, min(i + step, n_convs)) for i in range(0, n_convs, step)]
        with ProcessPoolExecutor(workers) as pool:
            parts = list(pool.map(_conversations, [seed] * len(chunks), chunks))
        table = pa.concat_tables(parts)
        text_bytes = pc.sum(pc.binary_length(table.column("text"))).as_py()
        return {"transcripts": table}, {"text_bytes": text_bytes}

    return _get(cache_dir, f"mixed-s{seed}-c{n_convs}", build)


# ---------------------------------------------------------------------------
# scale-factor tables for the query suite
# ---------------------------------------------------------------------------
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def sf_tables() -> CachedInput:
    """The documents and embeddings tables of the generated sf0.01
    directory that ``oracle_sql()`` is declared against (TESTDATA.md),
    copied verbatim into the benchmark with their row counts and digests.
    They are fixed, not drawn from ``--seed``."""
    ci = CachedInput(os.path.dirname(SF_DIR), os.path.basename(SF_DIR))
    if not ci.valid():
        raise RuntimeError(f"{SF_DIR}: tables missing or not matching manifest.json")
    return ci
