"""Per-document text statistics & digests (SURVEY.md §2.4 A1–A4, §2.8 F9/F10).

Semantics pinned by the reference:

- ``text_digest`` — sha256 over the case/punctuation-insensitive token
  sequence. Pinned by ``TikaEvalDocMapperTest.java:17-56``: contents that
  differ only in case, extra whitespace and non-alphabetic junk ("----") have
  EQUAL text_digest; different token sequences differ.
- ``text_profile_digest`` — quantized-count profile (tika-eval
  TextProfileSignature, ``TikaEvalDocMapper.java:81,328-329``): tokens with
  count < 2 are dropped, counts are quantized relative to the max count, so
  documents with the same token-frequency *profile* at different absolute
  sizes collide. The same pinned test requires doc3 = 7×"the" + doc2 + doc2
  to equal doc1/doc2's profile digest.
- char-class counts — alphabetic and non-whitespace *codepoints*
  (``MultiComparer.java:163-174`` counts via ``Character.isAlphabetic`` over
  codepoints).
- token entropy — ``-Σ p·log2(p)`` over the token count distribution
  (tika-eval TokenEntropy, surfaced at ``TikaEvalDocMapper.java:289-292``).

Each stat has a pure-Python canonical form; the tokenizer also has a Spark
Column form (``tokens_col``, used by the declarative queries and checked
against a DuckDB oracle).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

from pyspark.sql import Column
from pyspark.sql import functions as F

# Alphabetic-token pattern: unicode letters only (Java \p{L}+ ≡ this).
RE_TOKEN = re.compile(r"[^\W\d_]+", re.UNICODE)

RE_ALPHA_CP = re.compile(r"[^\W\d_]", re.UNICODE)
RE_NON_WS_CP = re.compile(r"\S", re.UNICODE)


# --- tokenization -----------------------------------------------------------
def tokens_of(text: str) -> list[str]:
    return RE_TOKEN.findall(text.lower())


def tokens_col(colname: str) -> Column:
    """JVM-side tokenizer: array of lowercase alphabetic tokens.

    Takes a column *name* (or SQL expression string) so it composes into
    ``F.expr`` without touching JVM internals. NB: Spark SQL string literals
    treat backslash as an escape, so the regex backslash is doubled here.
    """
    return F.expr(f"regexp_extract_all(lower({colname}), '[\\\\p{{L}}]+', 0)")


# --- digests ----------------------------------------------------------------
def text_digest(text: str) -> str:
    """sha256 hex over space-joined lowercase alphabetic tokens."""
    return hashlib.sha256(" ".join(tokens_of(text)).encode("utf-8")).hexdigest()


def _quantize(counts: Counter) -> list[tuple[str, int]]:
    """Profile quantization: drop count<2; quant = max(2, round(max/2));
    qcount = max(1, floor(count/quant + 0.5)); sort by (-count, token)."""
    kept = {t: c for t, c in counts.items() if c >= 2}
    if not kept:
        return []
    max_freq = max(kept.values())
    quant = max(2, int(max_freq * 0.5 + 0.5))
    out = [(t, max(1, int(c / quant + 0.5))) for t, c in kept.items()]
    out.sort(key=lambda tc: (-counts[tc[0]], tc[0]))
    return out


def text_profile_digest(text: str) -> str:
    """sha256 hex over the quantized token profile."""
    profile = _quantize(Counter(tokens_of(text)))
    blob = "\n".join(f"{t} {q}" for t, q in profile)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


# --- scalar stats ------------------------------------------------------------
def count_alpha_codepoints(text: str) -> int:
    return len(RE_ALPHA_CP.findall(text))


def count_non_ws_codepoints(text: str) -> int:
    return len(RE_NON_WS_CP.findall(text))


def token_entropy(text: str) -> float:
    counts = Counter(tokens_of(text))
    n = sum(counts.values())
    if n == 0:
        return 0.0
    return -sum((c / n) * math.log2(c / n) for c in counts.values())
