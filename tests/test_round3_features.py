"""Round-3 regressions: prefilter candidate semantics, CC loop vs local
path, substring candidate restructure."""

from __future__ import annotations

from pyspark.sql import functions as F

import liken_spark as lk
from liken_spark.constants import ROW_ID
from liken_spark.ids import with_row_id
from liken_spark.operators.cc import connected_components


def test_lsh_candidate_pairs_are_intra_bucket(spark):
    """gen_candidate_pairs must emit the NON-ROOT pair of a 3-member
    bucket. gen_pairs' star edges never do (they bridge members to the
    bucket root only), which is the recall hole when a verifier scores
    each edge independently (ADVICE r2: fuzzy(prefilter=lsh) dropped
    pairs the LSH found and fuzzy would accept)."""
    t = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(t,), (t,), (t,)], "t string")
    d = with_row_id(df)
    spec = lk.lsh(threshold=0.5, ngram=3)
    cand = spec.gen_candidate_pairs(d, "t", [])
    got = {(r["src"], r["dst"]) for r in cand.collect()}
    # rows 0,1,2 share every bucket; all three unordered pairs must appear
    assert got == {(0, 1), (0, 2), (1, 2)}

    star = spec.gen_pairs(d, "t", [])
    star_pairs = {(r["src"], r["dst"]) for r in star.collect()}
    assert (1, 2) not in star_pairs  # the star topology, by contrast


def test_lsh_candidate_pairs_big_bucket_falls_back_to_star(spark):
    """Buckets over PAIR_BUCKET_CAP emit root-star edges (linear), not the
    quadratic pair set — the explicit skew guard."""
    t = "a duplicated transcript shared by every row in this hot bucket"
    n = 12
    df = spark.createDataFrame([(t,)] * n, "t string")
    d = with_row_id(df)
    spec = lk.lsh(threshold=0.5, ngram=3)
    spec.PAIR_BUCKET_CAP = 4  # force the fallback at this tiny size
    try:
        cand = spec.gen_candidate_pairs(d, "t", [])
        got = {(r["src"], r["dst"]) for r in cand.collect()}
    finally:
        del spec.PAIR_BUCKET_CAP  # restore class attribute lookup
    assert got == {(0, i) for i in range(1, n)}  # n-1 star edges, root 0


def test_cc_loop_and_local_paths_agree(spark):
    """The star-round loop (local_max_edges=0) and the driver union-find
    give identical labels on a 4.7k-edge graph of long chains plus
    scattered cross links."""
    e1 = spark.range(2_000).select(
        (F.col("id") * 3).alias("src"), (F.col("id") * 3 + 1).alias("dst")
    )
    e2 = spark.range(2_000).select(
        (F.col("id") * 3 + 1).alias("src"), (F.col("id") * 3 + 2).alias("dst")
    )
    e3 = spark.range(700).select(
        ((F.col("id") * 17) % 6000).alias("src"), ((F.col("id") * 31) % 6000).alias("dst")
    )
    pairs = e1.union(e2).union(e3)
    loop = {
        (r["node"], r["comp"]) for r in connected_components(pairs, local_max_edges=0).collect()
    }
    local = {(r["node"], r["comp"]) for r in connected_components(pairs).collect()}
    assert loop == local and len(loop) > 0


def test_substring_candidate_restructure_pairs_unchanged(spark):
    """The int-only key-shuffle restructure must emit the identical final
    pair set (the contains verification is unchanged, only WHERE the text
    joins in moved)."""
    base = "winnowing selects the minimum hash of every run of consecutive windows"
    rows = [
        (0, base),
        (1, f"prefix words here {base} and suffix words"),
        (2, "something entirely unrelated to the other documents present"),
        (3, base),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    d = with_row_id(df)
    from liken_spark.operators.textdedup import SubstringSpec

    got = {
        (r["src"], r["dst"])
        for r in SubstringSpec(min_len=40).gen_pairs(d, "t", []).collect()
    }
    # rows 0 and 3 are contained in 1 (and in each other: equal texts)
    assert (0, 1) in got and (3, 1) in got
    assert (0, 3) in got and (3, 0) in got
    assert not any(2 in p for p in got)
