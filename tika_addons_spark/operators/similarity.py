"""Similarity search over embedding columns (array<float>).

Two paths, per the task brief:

- brute-force cosine top-k — the exactness baseline. Pure column
  expressions: ``F.zip_with`` dot product + window top-k. The query side is
  a small set broadcast against the corpus: one scan, no n² shuffle.
- LSH-bucketed ANN (random hyperplane signatures) — the scale path. Each
  vector gets a b-bit signature from seeded random hyperplanes (vectorized
  numpy over each Arrow batch); candidates meet via multi-probe bucket
  equi-join, exact cosine re-ranks inside buckets only.

At 100 TB the broadcast side is the query batch and signatures are a narrow
persisted column; the bucket join shuffles only collisions.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is small → broadcast cross join against the corpus, one pass;
    window top-k per query. Returns (query_id, neighbor_id, rank, cos_sim).
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("cvec"), F.col("qvec")) / (_norm("cvec") * _norm("qvec")), 4),
        )
        .drop("cvec", "qvec")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _matrix(vecs: pa.ListArray, dim: int) -> np.ndarray:
    """(rows, dim) float64 matrix of a fixed-dimension list column: one
    reshape of its values. ``flatten`` honours the offsets of a sliced
    array, ``.values`` does not."""
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(vecs), dim)


def hyperplane_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 1,
) -> DataFrame:
    """Random-hyperplane LSH signatures per vector, ``n_tables`` independent
    tables (vectorized per batch). Output: (id, table, lsh_sig) — one row per
    table, so the bucket join key is (table, lsh_sig).

    Multi-table is the standard OR-amplification: P(candidate) =
    1-(1-p^b)^L, which is what makes hyperplane LSH usable at moderate
    similarity — a single b-bit table has p^b recall and misses almost
    everything once cos < 0.9."""
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_tables, dim, n_bits)).astype(np.float64)
    powers = 1 << np.arange(n_bits, dtype=np.int64)

    def batch(it):
        for rb in it:
            mat = _matrix(rb.column(1), dim)
            sigs = [
                (((mat @ planes[t]) > 0) * powers).sum(axis=1).astype(np.int64)
                for t in range(n_tables)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.concat_arrays([rb.column(0)] * n_tables),
                    pa.array(np.arange(n_tables, dtype=np.int32).repeat(len(mat))),
                    pa.array(np.concatenate(sigs)),
                ],
                schema=arrow_schema,
            )

    schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType, False),
            T.StructField("table", T.IntegerType(), False),
            T.StructField("lsh_sig", T.LongType(), False),
        ]
    )
    arrow_schema = to_arrow_schema(schema)
    return df.select(id_col, vec_col).mapInArrow(batch, schema=schema)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 8,
) -> DataFrame:
    """ANN: multi-table hyperplane-bucket candidates (per-table multi-probe:
    exact bucket + 1-bit flips) re-ranked by exact cosine. Recall < 1 by
    design and is measured against the brute-force baseline in
    tests/test_lsh_quality.py; on isotropic random vectors any sublinear
    ANN degrades toward scan — the gates pin recall on clustered fixtures."""
    sig_c = hyperplane_signatures(
        corpus, id_col, vec_col, n_bits, dim, seed, n_tables
    )
    sig_q = hyperplane_signatures(
        queries, id_col, vec_col, n_bits, dim, seed, n_tables
    )

    # multi-probe: query probes its bucket plus all 1-bit-flip buckets,
    # within each table
    probes = sig_q.select(
        F.col("id").alias("query_id"),
        "table",
        F.explode(
            F.array(
                F.col("lsh_sig"),
                *[
                    F.col("lsh_sig").bitwiseXOR(F.lit(1 << i))
                    for i in range(n_bits)
                ],
            )
        ).alias("bucket"),
    )
    cand = probes.join(
        sig_c.select(
            F.col("id").alias("neighbor_id"),
            "table",
            F.col("lsh_sig").alias("bucket"),
        ),
        ["table", "bucket"],
    ).filter(F.col("query_id") != F.col("neighbor_id")).select("query_id", "neighbor_id").distinct()

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("cvec"), F.col("qvec")) / (_norm("cvec") * _norm("qvec")), 4),
        )
        .drop("cvec", "qvec")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF-Flat ANN — the second scale path the task brief names ("an IVF or
# LSH-bucketed variant"): a spherical k-means codebook partitions the corpus
# into inverted lists; queries probe the n_probe nearest lists and exact
# cosine re-ranks candidates only.
# ---------------------------------------------------------------------------
def _ivf_train_sample_plan(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    sample: int,
    sample_mod: int | None,
) -> DataFrame:
    """The bounded training-sample plan. With ``sample_mod``, a
    deterministic, layout-independent hash filter
    (``pmod(xxhash64(id), sample_mod) == 0``) runs in the scan stage, so
    the TakeOrderedAndProject ranks only ~1/sample_mod of the corpus
    instead of feeding every row of a 100 TB table into the top-k heap."""
    sel = corpus.select(id_col, vec_col)
    if sample_mod is not None and sample_mod > 1:
        sel = sel.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
    return sel.orderBy(id_col).limit(sample)


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 32,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
    sample_mod: int | None = 64,
) -> np.ndarray:
    """Spherical k-means codebook on a DETERMINISTIC bounded sample — at
    100 TB the codebook is trained on a sample no matter the engine; k×d
    floats broadcast in the task closure, exactly like FAISS IVF training.

    The sample is drawn through a pushed-down hash filter
    (:func:`_ivf_train_sample_plan`): deterministic regardless of
    partition layout, and the full-corpus ordered-top-k only ever sees
    ~1/sample_mod of the rows. If the filtered draw returns fewer than
    ``sample`` rows (toy corpora, tests, sandbox SFs) it falls back to the
    unfiltered bounded sample, which keeps small-scale output byte-stable
    with the pre-filter behavior — two cheap scans at toy scale, one
    filtered scan at 100 TB."""
    rows = []
    if sample_mod is not None and sample_mod > 1:
        rows = _ivf_train_sample_plan(
            corpus, id_col, vec_col, sample, sample_mod
        ).collect()
    if len(rows) < sample:
        rows = _ivf_train_sample_plan(corpus, id_col, vec_col, sample, None).collect()
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True) + 1e-12
    rng = np.random.RandomState(seed)
    k = min(n_centroids, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 1e-12:
                    C[j] = c / n
    return C


def _ivf_assign(
    df: DataFrame, id_col: str, vec_col: str, centroids: np.ndarray,
    n_probe: int, out_id: str,
) -> DataFrame:
    """(out_id, centroid) rows: each vector's n_probe nearest lists —
    vectorized matmul per Arrow batch, centroids shipped in the closure."""
    C = centroids

    def batch(it):
        for rb in it:
            mat = _matrix(rb.column(1), C.shape[1])
            mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
            p = min(n_probe, C.shape[0])
            top = np.argsort(-(mat @ C.T), kind="stable", axis=1)[:, :p]
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0).take(np.arange(len(mat)).repeat(p)),
                    pa.array(top.reshape(-1).astype(np.int32)),
                ],
                schema=arrow_schema,
            )

    schema = T.StructType(
        [
            T.StructField(out_id, df.schema[id_col].dataType, False),
            T.StructField("centroid", T.IntegerType(), False),
        ]
    )
    arrow_schema = to_arrow_schema(schema)
    return df.select(id_col, vec_col).mapInArrow(batch, schema=schema)


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 8,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 42,
    sample_mod: int | None = 64,
) -> DataFrame:
    """IVF-Flat ANN: corpus vectors live in exactly ONE inverted list
    (nearest centroid); each query probes its ``n_probe`` nearest lists;
    candidates meet via the centroid equi-join and exact cosine re-ranks.

    Scale shape: list assignment is one narrow pass; the join shuffles only
    list members of probed lists (expected corpus_fraction ≈ n_probe /
    n_centroids per query); no O(n²) anywhere. Recall is tunable via
    n_probe (n_probe == n_centroids degenerates to exact brute force) and
    is gated in tests/test_lsh_quality.py like the LSH path."""
    C = train_ivf_centroids(
        corpus, id_col, vec_col, n_centroids, sample, iters, seed, sample_mod
    )
    lists = _ivf_assign(corpus, id_col, vec_col, C, 1, "neighbor_id")
    probes = _ivf_assign(queries, id_col, vec_col, C, n_probe, "query_id")
    cand = (
        probes.join(lists, "centroid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cos_sim",
            F.round(_dot(F.col("cvec"), F.col("qvec")) / (_norm("cvec") * _norm("qvec")), 4),
        )
        .drop("cvec", "qvec")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )
