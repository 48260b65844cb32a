"""Deduplication operators for training-data pipelines.

Five variants, each designed scale-first (the candidate-generation step is
always a bucket equi-join, never an O(n²) cross join over the corpus):

- exact:       sha256(text) groupBy — one shuffle (q16).
- minhash_lsh: shingles → minhash signature → bands → bucket self-join
               (optional hot-bucket cap for degenerate buckets).
- jaccard_verify_pairs: exact Jaccard on LSH candidates only — verified
               near-dup with no O(n²) join at any grain.
- minhash_dup_clusters: (id, cluster_id) via min-label propagation —
               LINEAR output for dense-duplicate corpora where pairwise
               enumeration is Θ(Σ cluster²).
- simhash:     64-bit sign-vote fingerprint → Hamming-ball candidate pairs
               via pigeonhole block bucketing (max_hamming+1 blocks).
- ngram_jaccard: token-set Jaccard on natural-key-blocked pairs (the
               SQL-oracle-able variant).
- (embedding cosine near-dup lives in operators/similarity.py)

The reference's only dedup is Set-based exact key dedup
(``GithubScraper.java:171-218`` seen-sets, A15) and bag-of-words equality
grouping (``MultiComparer.java:135-148``, J3) — these generalize it to the
near-dup family a 100 TB corpus needs.

MinHash/simhash signatures are computed in a vectorized Arrow UDF (numpy
matrix ops per batch, no per-row Python); candidate joins and Jaccard
verification are pure DataFrame ops so Catalyst/AQE handle distribution.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.stats import tokens_col

# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------
def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_ids: int = 1000
) -> DataFrame:
    """Groups of byte-identical texts: (digest, keep_id, n_copies, ids,
    ids_truncated). keep_id = min id (deterministic survivor).

    ``ids`` is BOUNDED to the first ``max_ids`` members (ascending): exact
    dedup exists precisely because corpora contain mega-families (millions
    of copies of an empty/boilerplate doc), and an unbounded
    ``collect_list`` would build that family as one giant aggregation-buffer
    row. The bound is enforced *before* aggregation (a rank within the
    digest is null-ed past the cap and ``collect_list`` skips nulls), so the
    buffer never holds more than ``max_ids`` entries — not a slice applied
    after an unbounded collect. The rank's window shares the groupBy's
    hash-partitioning on digest, so the plan still has exactly one
    exchange; the trade is losing map-side partial aggregation."""
    from pyspark.sql import Window

    w = Window.partitionBy("digest").orderBy("id")
    ranked = df.select(
        F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("digest")
    ).withColumn("_rn", F.row_number().over(w))
    return ranked.groupBy("digest").agg(
        F.min("id").alias("keep_id"),
        F.count("*").alias("n_copies"),
        F.sort_array(
            F.collect_list(F.when(F.col("_rn") <= max_ids, F.col("id")))
        ).alias("ids"),
        (F.count("*") > max_ids).alias("ids_truncated"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
# 31-bit Mersenne prime: with a,b,x < 2^31 the product a*x < 2^62 fits in
# uint64, so (a*x + b) mod p is computed exactly and the universal-hash
# family guarantee behind the Jaccard estimate actually holds (the earlier
# 61-bit-prime variant silently overflowed int64 and degraded to an ad-hoc
# deterministic mix).
_MERSENNE = (1 << 31) - 1


def _minhash_params(n_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_hashes).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=n_hashes).astype(np.uint64)
    return a, b


def _hash_strings(strings: list[str] | np.ndarray) -> np.ndarray:
    """Deterministic vectorized 64-bit string hashing (pandas' hash_array —
    siphash with a fixed key, stable across processes/runs)."""
    # pandas only here, imported late: q32's golden and q53's oracle pin its bits
    from pandas.util import hash_array

    if len(strings) == 0:
        return np.array([], dtype=np.uint64)
    return hash_array(np.asarray(strings, dtype=object))


import re as _re

_WORD_RE = _re.compile(r"[^\W\d_]+", _re.UNICODE)


def _shingle_hashes(text: str, k: int, unit: str = "char") -> np.ndarray:
    """64-bit element hashes of the document's similarity set (vectorized,
    deterministic). ``unit="char"``: character k-shingles — MinHash then
    estimates *shingle* Jaccard (robust to word reordering, the classic
    near-dup setting). ``unit="token"``: distinct word tokens — MinHash then
    estimates *token-set* Jaccard, matching exactly what
    :func:`jaccard_verify_pairs` verifies (candidates and verifier must
    measure the same similarity or LSH recall collapses)."""
    if unit == "token":
        elems = list({m.group(0) for m in _WORD_RE.finditer(text)})
        if not elems:
            return np.array([], dtype=np.uint64)
        return np.unique(_hash_strings(elems))
    if len(text) < k:
        text = text + " " * (k - len(text))
    # char shingles: rolling polynomial hash over the codepoint array with
    # a splitmix64 finalizer — fully vectorized, no Python string objects
    # (the per-shingle listcomp + siphash-over-objects was 75% of
    # signature wall; this is ~2.4x end-to-end on the bench corpus).
    codes = np.frombuffer(
        text.encode("utf-32-le"), dtype=np.uint32
    ).astype(np.uint64)
    powv = _SHINGLE_B ** np.arange(k, dtype=np.uint64)
    h = (
        np.lib.stride_tricks.sliding_window_view(codes, k) * powv[None, :]
    ).sum(axis=1, dtype=np.uint64)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return np.unique(h)


_SHINGLE_B = np.uint64(1099511628211)  # FNV prime as the polynomial base


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    unit: str = "char",
) -> DataFrame:
    """(id, signature array<long>) via a vectorized mapInArrow UDF.

    ``unit`` picks the similarity space (see :func:`_shingle_hashes`): use
    ``"token"`` when downstream verification is token-set Jaccard."""
    a, b = _minhash_params(n_hashes, seed)

    def batch(it):
        p = np.uint64(_MERSENNE)
        for rb in it:
            sigs = []
            for t in rb.column(1).to_pylist():
                t = t if isinstance(t, str) else ""
                sh = _shingle_hashes(t.lower(), shingle_k, unit)  # uint64
                if len(sh) == 0:
                    sigs.append([0] * n_hashes)
                    continue
                # (n_hashes, n_shingles) affine hash in uint64 — all operands
                # < 2^31 so products stay < 2^62, no overflow; min per row
                x = sh % p
                vals = (a[:, None] * x[None, :] + b[:, None]) % p
                sigs.append(vals.min(axis=1).astype(np.int64).tolist())
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(sigs, arrow_schema.field(1).type)],
                schema=arrow_schema,
            )

    schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType, False),
            T.StructField("signature", T.ArrayType(T.LongType()), False),
        ]
    )
    arrow_schema = to_arrow_schema(schema)
    return df.select(id_col, text_col).mapInArrow(batch, schema=schema)


def _banded(
    sigs: DataFrame, n_bands: int, rows_per_band: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(id, [carry...], band, bucket): one row per LSH band, bucket = hash of
    the band's signature slice. The (band, bucket) pair is the LSH collision
    key. ``carry`` columns ride along (e.g. the signature itself, so a
    downstream estimate needs no re-join)."""
    return sigs.select(
        "id",
        *carry,
        F.posexplode(
            F.array(
                *[
                    F.sha2(
                        F.concat_ws(
                            ",",
                            F.slice(
                                "signature", i * rows_per_band + 1, rows_per_band
                            ).cast("array<string>"),
                        ),
                        256,
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def _small_groups(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """The ``keys`` of ``df`` whose group has at most ``cap`` rows: the
    hot-bucket guard. Callers semi-join their rows against it."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("_bsz"))
        .filter(F.col("_bsz") <= cap)
        .select(*keys)
    )


def minhash_lsh_pairs(
    sigs: DataFrame,
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: explode (band, band-hash) keys, self-join per bucket.

    Scale path: the join key is (band, hash-of-band-slice) so only
    colliding docs meet — shuffle is proportional to candidates, not n².

    ``max_bucket_size`` is the hot-bucket guard for 100 TB runs: a
    degenerate bucket with B members emits B²/2 pairs, so one
    million-member bucket (boilerplate pages, empty docs sharing a
    signature) turns the job quadratic. Buckets above the cap are skipped
    — the documented recall trade: members of a skipped bucket are by
    construction massive duplicate families, which the *exact* dedup pass
    (sha256 groupBy) or :func:`minhash_dup_clusters` (linear output)
    should own instead of pairwise enumeration."""
    banded = _banded(sigs, n_bands, rows_per_band)
    if max_bucket_size is not None:
        ok = _small_groups(banded, ["band", "bucket"], max_bucket_size)
        banded = banded.join(ok, ["band", "bucket"], "left_semi")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def _sig_match_fraction(sig_a, sig_b):
    """Estimated Jaccard = fraction of equal signature positions (column
    expression, no UDF)."""
    return F.round(
        F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m))
        / F.size(sig_a),
        4,
    )


def minhash_lsh_estimated_pairs(
    sigs: DataFrame,
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs WITH the Jaccard estimate in one pass: the
    signature arrays ride through the banded self-join, so the estimate is a
    column expression on the join output — one join, one distinct, no
    re-join against ``sigs`` (vs. :func:`minhash_lsh_pairs` +
    :func:`minhash_jaccard_estimate`, whose plan re-reads the signature
    table on two more branches).

    Trade: the banding shuffle carries the full signature (n_hashes × 8 B ×
    n_bands per doc). For the default 64×16 that is ~8 KB/doc — cheaper than
    two extra shuffled joins at every scale we measured; for very wide
    signatures (n_hashes ≥ 512) prefer the two-phase shape."""
    banded = _banded(sigs, n_bands, rows_per_band, carry=("signature",))
    if max_bucket_size is not None:
        ok = _small_groups(banded, ["band", "bucket"], max_bucket_size)
        banded = banded.join(ok, ["band", "bucket"], "left_semi")
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            _sig_match_fraction(F.col("l.signature"), F.col("r.signature")).alias(
                "est_jaccard"
            ),
        )
        .distinct()
    )


def minhash_dup_clusters(
    sigs: DataFrame,
    n_bands: int = 16,
    rows_per_band: int = 4,
    iterations: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Duplicate-cluster assignment: (id, cluster_id) — the LINEAR-output
    scale path for dense-duplicate corpora.

    Pairwise near-dup enumeration is Θ(Σ cluster²): on a corpus where a
    million documents share boilerplate, pair output alone is 10¹² rows.
    Cluster assignment labels each doc with the minimum id reachable
    through shared LSH buckets — ``iterations`` rounds of alternating
    min-label propagation over the doc↔bucket bipartite graph (each round
    = two shuffles; connected components of diameter ≤ iterations are
    labeled exactly; deeper chains would need more rounds — at cluster
    scale this is the large-star/small-star CC recipe).

    Deterministic for a fixed ``iterations`` regardless of partitioning
    (min is order-insensitive)."""
    m = _banded(sigs, n_bands, rows_per_band).select(
        "id", F.concat_ws("#", F.col("band").cast("string"), "bucket").alias("bkey")
    )
    if max_bucket_size is not None:
        ok = _small_groups(m, ["bkey"], max_bucket_size)
        m = m.join(ok, "bkey", "left_semi")
    m = m.persist()

    labels = sigs.select("id", F.col("id").alias("label"))
    intermediates = []
    for _ in range(iterations):
        bmin = (
            m.join(labels, "id")
            .groupBy("bkey")
            .agg(F.min("label").alias("bmin"))
        )
        prop = (
            m.join(bmin, "bkey")
            .groupBy("id")
            .agg(F.min("bmin").alias("nl"))
        )
        labels = (
            labels.join(prop, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nl", "label")).alias("label"),
            )
            .persist()
        )
        intermediates.append(labels)
    # ONE action materializes the whole chain (each round's persist fills on
    # the way through — a count per round would add an extra job each), then
    # intermediate caches and the band mapping are dropped; only the final
    # labels stay cached for the caller.
    labels.count()
    for df in intermediates[:-1]:
        df.unpersist()
    m.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id"))


def minhash_jaccard_estimate(sigs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Estimated Jaccard = fraction of matching signature positions."""
    s1 = sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    s2 = sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    return (
        pairs.join(s1, "id_a")
        .join(s2, "id_b")
        .select(
            "id_a",
            "id_b",
            _sig_match_fraction(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """64-bit simhash: per-token FNV hash, sign-vote per bit — vectorized
    numpy inside a mapInArrow UDF."""

    def batch(it):
        import re as _re

        tok = _re.compile(r"[^\W\d_]+", _re.UNICODE)
        powers = np.uint64(1) << np.arange(bits, dtype=np.uint64)
        for rb in it:
            out = []
            for t in rb.column(1).to_pylist():
                t = t if isinstance(t, str) else ""
                toks = tok.findall(t.lower())
                if not toks:
                    out.append(0)
                    continue
                hs = _hash_strings(toks)
                bits_mat = ((hs[:, None] & powers[None, :]) != 0).astype(np.int32)
                votes = bits_mat.sum(axis=0) * 2 - len(toks)
                sig = int(powers[votes > 0].sum(dtype=np.uint64))
                # explicit two's-complement reinterpretation into a signed
                # long (int(np.int64(x)) raises OverflowError on numpy>=2
                # when bit 63 is set)
                out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(out, pa.int64())], schema=arrow_schema
            )

    schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType, False),
            T.StructField("simhash", T.LongType(), False),
        ]
    )
    arrow_schema = to_arrow_schema(schema)
    return df.select(id_col, text_col).mapInArrow(batch, schema=schema)


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs within a Hamming ball, with a *guaranteed-recall*
    block scheme: the 64 bits are split into ``max_hamming + 1`` blocks, so
    by pigeonhole any pair differing in ≤ max_hamming bits shares at least
    one identical block (the earlier fixed 4×16 split only guaranteed
    hamming ≤ 3 and silently missed wider pairs). Candidates meet via a
    (block_idx, block_val) equi-join; exact Hamming verifies via
    bit_count(xor). More blocks ⇒ shorter blocks ⇒ more collisions, which
    is the correct recall/cost trade and still never O(n²) corpus-wide."""
    n_blocks = min(max(int(max_hamming) + 1, 1), 64)
    # split 64 bits as evenly as possible: first (64 % n_blocks) blocks get
    # the extra bit
    base_w, extra = divmod(64, n_blocks)
    block_cols, off = [], 0
    for i in range(n_blocks):
        w = base_w + (1 if i < extra else 0)
        if w >= 64:
            # max_hamming=0 → one 64-bit block; (1<<64)-1 is not a valid
            # Spark long literal, and no mask is needed — the block IS the
            # whole simhash (candidates = exact simhash equality)
            block_cols.append(F.col("simhash"))
        else:
            mask = (1 << w) - 1
            block_cols.append(
                F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(mask)
            )
        off += w
    blocks = sigs.select(
        "id",
        "simhash",
        F.posexplode(F.array(*block_cols)).alias("block_idx", "block_val"),
    )
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.block_idx") == F.col("r.block_idx"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    ).filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# token-set Jaccard on blocked candidates (SQL-expressible; oracle-checked)
# ---------------------------------------------------------------------------
def jaccard_verify_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    candidates: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact token-set Jaccard over an externally supplied candidate-pair
    set (``candidates``: id_a, id_b — e.g. from :func:`minhash_lsh_pairs`).

    This is the scale path for verified near-dup: candidate generation is
    LSH-bucketed (shuffle ∝ collisions), and the expensive exact verify runs
    only on candidates — the full pipeline never touches an O(n²) join, not
    even within a natural-key block."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.array_sort(tokens_col(text_col))).alias("toks"),
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.size(F.array_union(F.col("toks_a"), F.col("toks_b")))
    return (
        candidates.select("id_a", "id_b")
        .join(toks.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a")), "id_a")
        .join(toks.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b")), "id_b")
        .filter(union > 0)
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.8,
    max_block_size: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard over candidate pairs blocked on ``block_col``
    (language, domain, length bucket...). The block join bounds the pair
    count but is O(n²) *within* a block — kept because it is fully
    SQL-expressible (the q20 oracle). The scale path is
    :func:`jaccard_verify_pairs` over :func:`minhash_lsh_pairs` candidates
    (q41), where no all-pairs join exists at any grain.

    ``max_block_size`` is the hot-block guard this operator needs the moment
    natural keys skew (at web scale the "en" block IS the corpus): blocks
    with more members than the cap are skipped entirely — same contract and
    same mechanism as :func:`minhash_lsh_pairs`'s ``max_bucket_size`` — so
    pair output stays ≤ Σ min(block, cap)² instead of going quadratic in the
    hottest key. Skipped blocks are by construction the ones that should be
    handled by LSH (q41) or cluster labeling (q42), not pairwise SQL."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.array_distinct(F.array_sort(tokens_col(text_col))).alias("toks"),
    )
    if max_block_size is not None:
        ok = _small_groups(toks, ["block"], max_block_size)
        toks = toks.join(ok, "block", "left_semi")
    l, r = toks.alias("l"), toks.alias("r")
    inter = F.size(F.array_intersect(F.col("l.toks"), F.col("r.toks")))
    union = F.size(F.array_union(F.col("l.toks"), F.col("r.toks")))
    return (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block")) & (F.col("l.id") < F.col("r.id")),
        )
        .filter(union > 0)  # both-empty pairs have undefined similarity
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
