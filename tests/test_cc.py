"""Connected-components correctness: random graphs vs networkx, plus the
MinHash datasketch-compat kernels."""

from __future__ import annotations

import random

import networkx as nx
import numpy as np
import pytest

from liken_spark.minhash import minhash_text, optimal_param
from liken_spark.operators.cc import connected_components


@pytest.mark.parametrize("local_max", [0, None], ids=["distributed", "local-uf"])
@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 50, 40), (2, 200, 150), (3, 300, 600)])
def test_cc_matches_networkx(spark, seed, n_nodes, n_edges, local_max):
    """Both physical paths — the star-round loop (local_max_edges=0) and
    the small-graph driver union-find — must match networkx exactly."""
    rng = random.Random(seed)
    edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
    edges = [(a, b) for a, b in edges if a != b]

    g = nx.Graph()
    g.add_edges_from(edges)
    expected = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for node in comp:
            expected[node] = m

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["comp"]
        for r in connected_components(df, local_max_edges=local_max).collect()
    }
    assert got == expected


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_minhash_known_properties():
    # identical text -> identical signature; jaccard-ish similarity estimate
    s1 = minhash_text("hello world", 3, 128)
    s2 = minhash_text("hello world", 3, 128)
    assert np.array_equal(s1, s2)
    s3 = minhash_text("hello world!", 3, 128)
    est = float(np.mean(s1 == s3))
    assert 0.5 < est < 1.0  # high but not exact similarity
    # empty text -> max-hash fill
    s4 = minhash_text("ab", 3, 16)
    assert np.all(s4 == np.uint64((1 << 32) - 1))


def test_optimal_param_reasonable():
    # datasketch's (b, r) for common configs: bands*rows <= num_perm,
    # s-curve midpoint near the threshold
    for t, p in [(0.5, 128), (0.8, 128), (0.9, 256)]:
        b, r = optimal_param(t, p)
        assert 1 <= b * r <= p
        midpoint = (1.0 / b) ** (1.0 / r)
        assert abs(midpoint - t) < 0.2


def test_scoped_persist_count_registers_and_counts(spark):
    from liken_spark.operators import cc as ccmod
    from liken_spark.operators.cc import release_scoped_persists, scoped_persist_count

    df, n = scoped_persist_count(spark.range(123).toDF("x"))
    assert n == 123
    assert ccmod._SCOPED_PERSISTS[-1] is df
    release_scoped_persists()
    assert ccmod._SCOPED_PERSISTS == []


def test_cc_releases_owned_persists_on_success(spark):
    """A CC pass takes ownership of the scoped persists registered before
    it and releases them once its output is materialized."""
    from pyspark.sql import functions as F

    from liken_spark.operators import cc as ccmod
    from liken_spark.operators.cc import scoped_persist

    owned = scoped_persist(spark.range(10).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst")))
    comps = connected_components(owned)
    assert {r["comp"] for r in comps.collect()} == {0}
    assert ccmod._SCOPED_PERSISTS == []
    assert owned.storageLevel.useMemory is False


def test_cc_releases_persists_on_failure(spark):
    """Exception paths must not leak the edge frame or owned persists
    (the unpersists live in the finally block)."""
    from pyspark.sql import functions as F

    from liken_spark.operators import cc as ccmod
    from liken_spark.operators.cc import scoped_persist

    owned = scoped_persist(spark.range(10).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst")))
    pairs = owned.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iter=0, local_max_edges=0)
    assert ccmod._SCOPED_PERSISTS == []
    assert owned.storageLevel.useMemory is False  # unpersisted in finally


def test_cc_long_path_converges(spark):
    """A 64-node path needs many star rounds (worst-case diameter for CC),
    so convergence detection must not stop at a non-fixed-point.
    local_max_edges=0 forces the distributed loop (the code under test)."""
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["comp"]
        for r in connected_components(df, local_max_edges=0).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_cc_restores_session_confs(spark):
    """The loop mutates shuffle.partitions for its own queries; it must be
    restored on the success path, and adaptive.enabled left as it was."""
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    connected_components(df, local_max_edges=0).count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
