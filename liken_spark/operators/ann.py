"""Similarity search over embedding columns (array<float>).

Two strategies:

- ``brute_force_topk``: exact cosine top-k via a join + JVM-side
  ``zip_with``/``aggregate`` dot products (no Python in the loop). The
  O(n^2) baseline — correct at any scale you can afford it.
- ``lsh_topk``: random-hyperplane (sign) LSH bucketing with multi-probe
  band tables + exact rerank inside buckets — the 100TB path: candidates
  shrink from n^2 to the bucket-collision set, recall tunable via
  (n_planes, bands).

Both return (vec_id, neighbor_id, rank) with rank 1..k by cosine desc.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from liken_spark.session import spread_to_cores


def _norm_col(vec: str):
    v = F.transform(F.col(vec), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.transform(v, lambda x: x / F.greatest(nrm, F.lit(1e-30)))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def brute_force_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for every row (self excluded)."""
    d = (
        spread_to_cores(df)
        .select(F.col(id_col).alias("i"), _norm_col(vec_col).alias("v"))
        .persist()
    )
    # eager pin: the self-join's two sides (and AQE's runtime broadcast
    # builds) are concurrent consumers — an unmaterialized cache is
    # silently recomputed once per consumer (see cc.scoped_persist).
    d.count()
    a, b = d.alias("a"), d.alias("b")
    sims = (
        a.join(b, F.col("a.i") != F.col("b.i"))
        .select(
            F.col("a.i").alias("vec_id"),
            F.col("b.i").alias("neighbor_id"),
            _dot(F.col("a.v"), F.col("b.v")).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def _keyed_vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    bands: int,
    seed: int,
    dim: int | None,
) -> DataFrame:
    """(i, v=normalized vector, bk=band keys) frame for sign-LSH."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    @F.pandas_udf("array<long>")
    def band_keys(vecs: pd.Series) -> pd.Series:
        out = []
        width = n_planes // bands
        for v in vecs:
            x = np.asarray(v, dtype=np.float64)
            bits = (planes @ x > 0).astype(np.uint64)
            sig = np.uint64(0)
            for i, bit in enumerate(bits):
                sig |= bit << np.uint64(i)
            keys = []
            mask = np.uint64((1 << width) - 1)
            for b in range(bands):
                chunk = (sig >> np.uint64(b * width)) & mask
                keys.append(int((np.uint64(b) << np.uint64(32)) | chunk))
            out.append(keys)
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("i"), _norm_col(vec_col).alias("v"), band_keys(F.col(vec_col)).alias("bk")
    )


def _band_candidates(d: DataFrame) -> DataFrame:
    """(vec_id, neighbor_id) band-collision candidate pairs from a keyed
    frame — the pre-rerank stage, exposed so the driver contract can export
    it and oracle the rerank in SQL."""
    keys = d.select("i", F.explode("bk").alias("key"))
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col("a.i") != F.col("b.i")))
        .select(F.col("a.i").alias("vec_id"), F.col("b.i").alias("neighbor_id"))
        .dropDuplicates(["vec_id", "neighbor_id"])
    )


def lsh_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Band-collision candidate set of ``lsh_topk`` (pre-rerank)."""
    return _band_candidates(
        _keyed_vectors(df, id_col, vec_col, n_planes, bands, seed, dim)
    )


def lsh_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: sign-LSH over ``n_planes`` random hyperplanes,
    banded into ``bands`` tables (any shared band -> candidate), exact
    cosine rerank on candidates. Bucket sizes stay near n/2^(planes/bands)
    per table, so the candidate join is linear-ish; hot buckets are bounded
    by the signature entropy of the data."""
    d = _keyed_vectors(spread_to_cores(df), id_col, vec_col, n_planes, bands, seed, dim).persist()
    # eager pin (measured: 4 concurrent AQE broadcast builds each re-ran
    # the signature UDF pass on the unmaterialized cache — 4 x 0.9 s at
    # sf0.1; one pinning count makes it one pass + 3 cache reads).
    d.count()
    # candidate generation on (id, key) ONLY — the band join and the
    # cross-band dedup never shuffle the vectors; each side's vector joins
    # back exactly once, keyed by id, for the rerank dot product.
    cand_ids = _band_candidates(d)
    va = d.select(F.col("i").alias("vec_id"), F.col("v").alias("va"))
    vb = d.select(F.col("i").alias("neighbor_id"), F.col("v").alias("vb"))
    sims = (
        cand_ids.join(va, "vec_id")
        .join(vb, "neighbor_id")
        .select("vec_id", "neighbor_id", _dot(F.col("va"), F.col("vb")).alias("sim"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (i < j, cosine > threshold) via
    the LSH candidate path — feeds the same connected-components clustering
    as the text dedupers."""
    topk = lsh_topk(df, id_col, vec_col, k=50, n_planes=n_planes, bands=bands)
    return (
        topk.where((F.col("sim") > threshold) & (F.col("vec_id") < F.col("neighbor_id")))
        .select(F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst"))
    )
