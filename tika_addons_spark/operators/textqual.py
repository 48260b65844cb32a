"""Text-analysis operators for training-data pipelines (task brief §text):
language-ID heuristic, quality scoring, token counting, fingerprinting.

All pure column expressions (JVM-side, whole-stage codegen, SQL-oracle
comparable) — the 100 TB-scale hot path never enters Python here.

Reference analogues: LuceneTokenCounter.java:10-29 (token counts),
LangDetectRunner grouped evals (A6-A10), tika-eval common-tokens/OOV stats
surfaced in TikaEvalDocMapper.java:276-287.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.stats import tokens_col

# Tiny built-in stopword lists (public, trivial); used for quality scoring
# and the n-gram language heuristic. At scale these become a broadcast dim.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"],
}

PUNCT_RE = r"[\\.,;:!?'\"()\\[\\]{}-]"


def quality_features(text_col: str) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features (quality scoring)."""
    toks = tokens_col(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    stop_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS["en"]])))
    n_punct = F.size(F.split(F.col(text_col), PUNCT_RE)) - 1
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "n_distinct_tokens": F.size(F.array_distinct(toks)).cast("long"),
        "mean_token_len": F.round(
            F.when(
                n_tokens > 0,
                F.aggregate(
                    toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
                )
                / n_tokens.cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ),
        "stopword_ratio": F.round(
            F.when(n_tokens > 0, stop_hits / n_tokens.cast("double")).otherwise(0.0), 4
        ),
        "punct_ratio": F.round(
            F.when(n_chars > 0, n_punct / n_chars.cast("double")).otherwise(0.0), 4
        ),
    }


def token_fingerprint(text_col: str) -> Column:
    """Document fingerprint: sha256 over the sorted distinct token set —
    the set analogue of the reference's bag-of-words equality
    (MultiComparer.java:135-148); collapses word-order permutations."""
    return F.sha2(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens_col(text_col)))), 256
    )


def oov_stats(text_col: str, common_words: list[str] | None = None) -> dict[str, Column]:
    """Common-token count + OOV ratio (tika-eval CommonTokens semantics,
    surfaced at ``TikaEvalDocMapper.java:276-287``): of the alphabetic
    tokens, how many are in the common-words list; OOV = 1 - common/alpha.
    ``common_words`` is a small broadcast dim at scale."""
    words = common_words or sorted({w for ws in STOPWORDS.values() for w in ws})
    toks = tokens_col(text_col)
    n_alpha = F.size(toks)
    wordset = F.array(*[F.lit(w) for w in words])
    common = F.size(F.filter(toks, lambda t: F.array_contains(wordset, t)))
    return {
        "num_alpha_tokens": n_alpha.cast("long"),
        "num_common_tokens": common.cast("long"),
        "oov": F.round(
            F.when(n_alpha > 0, 1.0 - common / n_alpha.cast("double")).otherwise(
                F.lit(None).cast("double")
            ),
            4,
        ),
    }


def lang_guess(text_col: str) -> Column:
    """Cheap stopword-vote language ID — the SQL-oracle-able column variant
    (deterministic tie-break by language code order). The full X12
    capability — probing char-trigram detection with chunked probes, early
    stop and ranked (lang, conf) output per ProbingLanguageDetector — lives
    in ``functions/langid.py`` (q44); this stays as the JVM-side fast path
    for partition routing and oracled queries (q24)."""
    toks = F.array_distinct(tokens_col(text_col))
    # argmax via one array_max over (score, -index, lang) structs: each
    # score expression appears exactly ONCE in the tree (the earlier
    # when-chain repeated every score ~3x), ties break to the earliest
    # language in sorted order exactly as the chained > comparisons did
    entries = [
        F.struct(
            F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            ).alias("s"),
            F.lit(-i).alias("ni"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, words) in enumerate(sorted(STOPWORDS.items()))
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und"))
