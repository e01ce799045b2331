"""Concrete deduper specs + public factories.

Operator semantics are parity-matched to the reference's 13 dedupers
(SURVEY.md §2.1); the physical plans are Spark-first:

- ``exact``            -> groupBy key, zero pair materialization
  (reference: dedupers/exact.py:15-56 buckets + all-pairs)
- ``isna/isin/str_*``  -> native boolean expressions, Tungsten codegen
  (reference: arrow compute masks, dedupers/str_*.py)
- ``lsh``              -> Arrow-batched MinHash signatures, band groupBy
  (reference: dedupers/lsh.py:19-77 via datasketch, driver-side)
- ``tfidf``            -> distributed inverted-index cosine + per-row top-n
  (reference: dedupers/tfidf.py:21-91 via sklearn + sp_matmul_topn)
- ``jaccard``          -> explode/self-join set intersection, no UDF
  (reference: dedupers/jaccard.py:17-47 O(n^2) python loops)
- ``fuzzy/cosine/custom`` -> block-scoped applyInPandas with vectorized
  kernels (reference: O(n^2) driver loops; these are *inherently* pairwise,
  so the scale path is a blocking key or an LSH prefilter)
"""

from __future__ import annotations

import functools
from typing import Any, Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType, DoubleType, FloatType, NumericType

from liken_spark.constants import ROW_ID
from liken_spark.functions.similarity import SCORERS
from liken_spark.minhash import (
    band_hashes,
    minhash_signature,
    optimal_param,
    sha1_hash32_batch,
)
from liken_spark.operators.cc import scoped_persist, scoped_persist_count
from liken_spark.operators.base import (
    BucketDeduper,
    Columns,
    DeduperSpec,
    PairsDeduper,
    PredicateSpec,
    ThresholdMixin,
    register_deduper,
)
from liken_spark.preprocess import Preprocessor

PAIRS_SCHEMA = "src long, dst long"


# ---------------------------------------------------------------------------
# exact


class ExactSpec(BucketDeduper):
    """Value-equality dedup. Single column: nulls -> "na" placeholder;
    compound: struct grouping (Spark GROUP BY treats nulls as equal, which
    matches the reference's ``None == None`` tuple bucketing,
    exact.py:39-47)."""

    name = "exact"
    single_column = None

    def key_column(self, df: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> Column:
        if isinstance(columns, str):
            return self.prepared_column(df, columns, preprocessors)
        return F.struct(*[F.col(c) for c in columns])


def exact() -> ExactSpec:
    return ExactSpec()


# ---------------------------------------------------------------------------
# predicates


class IsNASpec(PredicateSpec):
    """All null rows form one cluster (isna.py:16-48; NaN counts as null)."""

    name = "isna"
    single_column = True
    with_na_placeholder = False

    def mask_column(self, df: DataFrame, column: str, preprocessors: list[Preprocessor]) -> Column:
        dtype = df.schema[column].dataType
        col = F.col(column)
        if isinstance(dtype, (DoubleType, FloatType)):
            return col.isNull() | F.isnan(col)
        return col.isNull()

    def __invert__(self) -> "NotNASpec":
        return NotNASpec()


class NotNASpec(PredicateSpec):
    """All non-null rows form one cluster — isna's dedicated inversion
    (isna.py:53-92), not a generic negation."""

    name = "~isna"
    single_column = True
    with_na_placeholder = False

    def mask_column(self, df: DataFrame, column: str, preprocessors: list[Preprocessor]) -> Column:
        dtype = df.schema[column].dataType
        col = F.col(column)
        if isinstance(dtype, (DoubleType, FloatType)):
            return col.isNotNull() & ~F.isnan(col)
        return col.isNotNull()


class IsInSpec(PredicateSpec):
    """Membership predicate (isin.py:16-33). Python-`in` semantics: a str
    ``values`` means substring membership; note the NA placeholder makes
    nulls match when "na" ∈ values (documented hazard, constants.py:11)."""

    name = "isin"
    single_column = True

    def __init__(self, values: Iterable):
        # materialize up front: a generator would be silently exhausted after
        # the first mask_column evaluation (deduper reuse across steps)
        values = values if isinstance(values, str) else list(values)
        super().__init__(values=values)
        self._values = values

    def mask_column(self, df: DataFrame, column: str, preprocessors: list[Preprocessor]) -> Column:
        col = self.prepared_column(df, column, preprocessors)
        if isinstance(self._values, str):
            return F.coalesce(F.lit(self._values).contains(col), F.lit(False))
        vals = [v for v in self._values if v is not None]
        if not vals:
            return F.lit(False)
        return F.coalesce(col.isin(vals), F.lit(False))


class StrStartswithSpec(PredicateSpec):
    name = "str_startswith"
    single_column = True

    def __init__(self, pattern: str, case: bool = True):
        super().__init__(pattern=pattern, case=case)
        self._pattern = pattern
        self._case = case

    def mask_column(self, df: DataFrame, column: str, preprocessors: list[Preprocessor]) -> Column:
        col = self.prepared_column(df, column, preprocessors)
        if self._case:
            return col.startswith(self._pattern)
        return F.lower(col).startswith(self._pattern.lower())


class StrEndswithSpec(PredicateSpec):
    name = "str_endswith"
    single_column = True

    def __init__(self, pattern: str, case: bool = True):
        super().__init__(pattern=pattern, case=case)
        self._pattern = pattern
        self._case = case

    def mask_column(self, df: DataFrame, column: str, preprocessors: list[Preprocessor]) -> Column:
        col = self.prepared_column(df, column, preprocessors)
        if self._case:
            return col.endswith(self._pattern)
        return F.lower(col).endswith(self._pattern.lower())


class StrContainsSpec(PredicateSpec):
    name = "str_contains"
    single_column = True

    def __init__(self, pattern: str, case: bool = True, regex: bool = False):
        super().__init__(pattern=pattern, case=case, regex=regex)
        self._pattern = pattern
        self._case = case
        self._regex = regex

    def mask_column(self, df: DataFrame, column: str, preprocessors: list[Preprocessor]) -> Column:
        col = self.prepared_column(df, column, preprocessors)
        if self._regex:
            pat = self._pattern if self._case else f"(?i){self._pattern}"
            return col.rlike(pat)
        if self._case:
            return col.contains(self._pattern)
        return F.lower(col).contains(self._pattern.lower())


class StrLenSpec(PredicateSpec):
    """Length-bounded predicate: strictly > min_len, <= max_len, excluding
    empty strings (str_len.py:34-51). Runs on the placeholder'd column, so
    nulls have length 2 ("na") — reference-exact."""

    name = "str_len"
    single_column = True

    def __init__(self, min_len: int = 0, max_len: int | None = None):
        super().__init__(min_len=min_len, max_len=max_len)
        self._min_len = min_len
        self._max_len = max_len

    def mask_column(self, df: DataFrame, column: str, preprocessors: list[Preprocessor]) -> Column:
        col = self.prepared_column(df, column, preprocessors)
        length = F.length(col)
        mask = length > F.lit(self._min_len)
        if self._max_len is not None:
            mask = mask & (length <= F.lit(self._max_len))
        return F.coalesce(mask & col.isNotNull() & (length > 0), F.lit(False))


# ---------------------------------------------------------------------------
# lsh


class LshSpec(ThresholdMixin, PairsDeduper):
    """MinHash-LSH near-dup detection, datasketch-bit-compatible
    (lsh.py:19-77): char shingles -> 128-perm MinHash -> optimal (b, r)
    banding -> every band collision linked, no verification pass.

    Physical plan: Arrow-batched signature UDF -> posexplode band keys ->
    per-bucket star pairs via a two-level (salted) aggregation. Each bucket
    of size B contributes B-1 edges — linear, so hot buckets cannot explode
    quadratically; the salt keeps the per-key aggregation balanced.
    """

    name = "lsh"
    single_column = True

    def __init__(self, threshold: float = 0.95, ngram: int = 3, num_perm: int = 128, salt: int = 8):
        super().__init__(threshold=threshold, ngram=ngram, num_perm=num_perm)
        self._threshold = self._check_threshold(threshold)
        self._ngram = ngram
        self._num_perm = num_perm
        self._salt = salt

    def bands_column(self, col: Column) -> Column:
        """``array<long>`` of the b band keys of ``col``'s MinHash signature
        (Arrow-batched UDF; null text hashes as "")."""
        b, r = optimal_param(self._threshold, self._num_perm)
        ngram, num_perm = self._ngram, self._num_perm

        @F.pandas_udf("array<long>")
        def bands_udf(texts: pd.Series) -> pd.Series:
            memo: dict[str, int] = {}
            out = []
            for text in texts:
                if text is None:
                    text = ""
                toks = {text[i : i + ngram] for i in range(len(text) - ngram + 1)}
                new = [t for t in toks if t not in memo]
                if new:
                    hs = sha1_hash32_batch([t.encode("utf-8") for t in new])
                    for t, h in zip(new, hs):
                        memo[t] = int(h)
                hashes = np.array([memo[t] for t in toks], dtype=np.uint64)
                sig = minhash_signature(hashes, num_perm)
                out.append(band_hashes(sig, b, r).tolist())
            return pd.Series(out)

        return bands_udf(col)

    def _banded(self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> DataFrame:
        """(ROW_ID, band, key) exploded band frame, scoped-persisted: the
        consuming plans branch several ways and the MinHash UDF is the most
        expensive node — without the cache it would run once per branch.
        (ROW_ID, band, key) is ~24 bytes/row."""
        col = self.prepared_column(scope, columns, preprocessors)
        return scoped_persist(
            scope.select(F.col(ROW_ID), F.posexplode(self.bands_column(col)).alias("band", "key"))
        )

    def gen_pairs(self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> DataFrame:
        return self.pairs_from_banded(self._banded(scope, columns, preprocessors))

    def pairs_from_banded(self, d: DataFrame) -> DataFrame:
        """Star edges from an exploded (ROW_ID, band, key) frame; ``d`` is
        read by several branches, so callers pass a cache-backed frame."""
        # two-level salted star aggregation: local min per (band, key, salt),
        # then global min per (band, key). Edges bridge members -> local
        # roots (within the salted sub-group) and local roots -> global root
        # (across sub-groups); CC merges them into one cluster. This is what
        # makes the salt load-bearing at scale: the exploded band frame only
        # ever joins on the SALTED key (a hot bucket of B rows shuffles in
        # ``salt`` slices of ~B/salt), and the unsalted (band, key) join only
        # touches the tiny per-sub-group root frame.
        d = d.withColumn("slt", F.pmod(F.col(ROW_ID), F.lit(self._salt)))
        local = d.groupBy("band", "key", "slt").agg(
            F.min(ROW_ID).alias("lroot"), F.count(F.lit(1)).alias("lc")
        )
        glob = local.groupBy("band", "key").agg(
            F.min("lroot").alias("groot"),
            F.sum("lc").alias("c"),
        ).where(F.col("c") > 1)
        member_edges = (
            d.join(local.where(F.col("lc") > 1).drop("lc"), ["band", "key", "slt"])
            .where(F.col(ROW_ID) != F.col("lroot"))
            .select(F.col("lroot").alias("src"), F.col(ROW_ID).alias("dst"))
        )
        root_edges = (
            local.join(glob.select("band", "key", "groot"), ["band", "key"])
            .where(F.col("lroot") != F.col("groot"))
            .select(F.col("groot").alias("src"), F.col("lroot").alias("dst"))
        )
        # no .distinct() here: the consuming CC pass normalizes + distincts
        # the union of all pair sources anyway, and a pre-distinct shuffles
        # exactly the same rows one extra time (one exchange per query saved)
        return member_edges.union(root_edges)

    # buckets up to this size emit ALL intra-bucket pairs on the verifier
    # path; larger buckets fall back to star edges (linear, verified
    # transitively through the bucket root — documented recall tradeoff at
    # the skew guard, not silent)
    PAIR_BUCKET_CAP = 64

    def gen_candidate_pairs(
        self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]
    ) -> DataFrame:
        """Intra-bucket candidate pairs for a downstream verifier
        (``fuzzy(prefilter=lk.lsh(...))``).

        ``gen_pairs``'s star edges are wrong for verification: a verifier
        filters each edge independently, so two near-dups sharing a bucket
        must be compared DIRECTLY, not through the bucket's min-ROW_ID root.
        Here buckets of size <= ``PAIR_BUCKET_CAP`` emit every intra-bucket
        pair (quadratic per bucket, bounded at cap^2/2 = 2016); oversized
        buckets fall back to root-star edges, where clustering remains
        transitivity-through-root — the explicit skew guard."""
        d = self._banded(scope, columns, preprocessors)
        counts = scoped_persist(
            d.groupBy("band", "key").agg(
                F.min(ROW_ID).alias("root"), F.count(F.lit(1)).alias("c")
            )
        )
        small = counts.where((F.col("c") > 1) & (F.col("c") <= self.PAIR_BUCKET_CAP))
        ds = d.join(small.select("band", "key"), ["band", "key"])
        a, b = ds.alias("a"), ds.alias("b")
        small_pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
            )
            .where(F.col(f"a.{ROW_ID}") < F.col(f"b.{ROW_ID}"))
            .select(F.col(f"a.{ROW_ID}").alias("src"), F.col(f"b.{ROW_ID}").alias("dst"))
        )
        big = counts.where(F.col("c") > self.PAIR_BUCKET_CAP)
        big_stars = (
            d.join(big.select("band", "key", "root"), ["band", "key"])
            .where(F.col(ROW_ID) != F.col("root"))
            .select(F.col("root").alias("src"), F.col(ROW_ID).alias("dst"))
        )
        return small_pairs.union(big_stars).distinct()


# ---------------------------------------------------------------------------
# tfidf


class TfidfSpec(ThresholdMixin, PairsDeduper):
    """Char-ngram TF-IDF cosine top-n linking (tfidf.py:21-91), matching
    sklearn TfidfVectorizer defaults (lowercase, whitespace-collapse,
    smooth idf ln((1+n)/(1+df))+1, l2 norm) and sp_matmul_topn's
    top-n-per-row-with-self semantics (inclusive >= threshold, ties broken
    toward the lower column index).

    Physical plan: ngram explode -> (row, term) tf -> term doc-freq (one
    aggregation) -> inverted-index self-join accumulating partial dot
    products -> per-row top-n window. Fully distributed; the reference's
    semantics are global, so this is the one operator whose reference
    execution (per-partition) was *less* correct than its own definition —
    we implement the global definition.

    ``min_df``/``max_df`` forward to vocabulary pruning like the sklearn
    kwargs the reference passes through (tfidf.py:39-59).
    """

    name = "tfidf"
    single_column = True

    def __init__(
        self,
        threshold: float = 0.95,
        ngram: int | tuple[int, int] = 3,
        topn: int = 2,
        min_df: int | float = 1,
        max_df: int | float = 1.0,
    ):
        super().__init__(threshold=threshold, ngram=ngram, topn=topn)
        self._threshold = self._check_threshold(threshold)
        self._ngram = (ngram, ngram) if isinstance(ngram, int) else tuple(ngram)
        self._topn = topn
        self._min_df = min_df
        self._max_df = max_df

    def gen_pairs(self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> DataFrame:
        min_n, max_n = self._ngram
        col = self.prepared_column(scope, columns, preprocessors)
        # sklearn char analyzer: lowercase + collapse runs of whitespace
        t = F.lower(F.regexp_replace(col, r"\s\s+", " "))
        # the pinning count doubles as n_docs (one driver action, not two)
        d, n_docs = scoped_persist_count(scope.select(F.col(ROW_ID).alias("i"), t.alias("t")))

        def _gram_expr(n: int):
            # nb: the transform lambda must take exactly one parameter —
            # a second parameter would be interpreted as the array index.
            return F.when(
                F.length("t") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.length("t") - F.lit(n - 1)),
                    lambda idx: F.col("t").substr(idx, F.lit(n)),
                ),
            ).otherwise(F.array())

        grams = [_gram_expr(n) for n in range(min_n, max_n + 1)]
        # hash terms to int64 IMMEDIATELY after the explode: every
        # downstream shuffle (tf aggregation, doc-frequency aggregation,
        # idf join, inverted-index self-join) then carries 8-byte longs
        # instead of ngram strings — measured 4x on the self-join stage at
        # sf0.1. Identity is preserved up to xxhash64 collisions
        # (p ~ V^2/2^65, ~1e-8 even at a million-term vocabulary); term
        # strings are never needed downstream.
        exploded = d.select("i", F.explode(F.flatten(F.array(*grams))).alias("t0")).select(
            "i", F.xxhash64("t0").alias("term")
        )

        # Pin tf: it feeds FOUR differently-keyed exchanges (doc-frequency
        # aggregation, idf join, norm aggregation, postings join), and AQE
        # materializes each exchange's map stage separately — without the
        # cache every one re-runs the ngram explode + partial aggregation
        # chain from the source (measured at sf0.1: 4 map stages x ~712k
        # rows x ~15 core-sec each; one pinned pass + 3 cache scans after).
        tf = scoped_persist(
            exploded.groupBy("i", "term").agg(F.count(F.lit(1)).alias("tf"))
        )
        df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        max_df_cnt = (
            self._max_df if isinstance(self._max_df, int) else int(self._max_df * n_docs)
        )
        min_df_cnt = (
            self._min_df if isinstance(self._min_df, int) else int(np.ceil(self._min_df * n_docs))
        )
        df_t = df_t.where((F.col("df") >= min_df_cnt) & (F.col("df") <= max_df_cnt))
        idf = df_t.withColumn(
            "idf", F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
        ).select("term", "idf")

        from pyspark.sql import Window as _W

        w = tf.join(idf, "term").withColumn("w", F.col("tf") * F.col("idf"))
        # l2 norm as a window over i, not an aggregate + join-back: one
        # exchange instead of two plus a join. Safe as a window at any
        # scale — the partition group is one document's PRUNED terms
        # (bounded by its length), never a corpus-sized hot key.
        nrm = F.sqrt(F.sum(F.col("w") * F.col("w")).over(_W.partitionBy("i")))
        postings = scoped_persist(
            w.select("i", "term", (F.col("w") / nrm).alias("wn"))
        )

        # Inverted-index self-join on the HALF space (a.i < b.i) and mirror
        # the thresholded result: cosine is symmetric, so this halves the
        # join + partial-aggregation volume outright. A Bayardo-style prefix
        # filter (index each unit vector's rarest terms until squared mass
        # 1-t^2, join prefixes, rescore candidates exactly) was implemented
        # and MEASURED SLOWER here: at sf0.1 the prefix shrank the index 4x
        # (89.5k -> 23.2k postings) but still emitted 2.59M candidate pairs
        # whose exact-rescore double-join cost 11.2 s, vs 1.9 s for this
        # half-join with map-side combine (full join was 7.4 s). The scale
        # control for Σ df^2 is the max_df postings cap — the documented
        # vocabulary-pruning contract sklearn shares — not candidate
        # rescoring, which re-shuffles ~|doc| rows per candidate.
        a, b = postings.alias("a"), postings.alias("b")
        # snap sims within 1e-9 of 1.0 to exactly 1.0: identical vectors
        # have cosine exactly 1 mathematically, but the float summation
        # order (which term hashing / join layout permutes) lands a hair
        # above or below — and the top-n rank against the SELF row (sim
        # 1.0, ties toward lower j, the reference's sp_matmul_topn
        # contract) must not be decided by that coin flip
        sims_half = scoped_persist(
            a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.i") < F.col("b.i")))
            .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
            .agg(F.sum(F.col("a.wn") * F.col("b.wn")).alias("sim"))
            .withColumn(
                "sim",
                F.when(F.abs(F.col("sim") - 1.0) < 1e-9, F.lit(1.0)).otherwise(F.col("sim")),
            )
            .where(F.col("sim") >= self._threshold)
        )
        # both directions feed the per-row top-n (persisted above: the union
        # would otherwise recompute the scoring join once per branch)
        sims = sims_half.unionByName(
            sims_half.select(F.col("j").alias("i"), F.col("i").alias("j"), F.col("sim"))
        )

        from pyspark.sql import Window

        # sp_matmul_topn semantics WITHOUT materializing the 1-per-doc self
        # rows (sim 1.0 at j=i): the self row's rank in the full list is
        # 1 + k where k = |{j != i : sim == 1.0, j < i}| (ties break toward
        # lower j, and every non-self sim <= 1.0 after the snap). So a
        # non-self candidate at rank r (over non-self rows) survives the
        # topn cut iff r <= topn-1 (self inside the topn window, consuming
        # one slot) or k >= topn (>= topn exact-dup rows outrank the self
        # row, pushing it out entirely) and r <= topn. Same output as the
        # union-with-selfs plan, one 50k-row union + shuffle cheaper.
        w_rank = Window.partitionBy("i").orderBy(F.col("sim").desc(), F.col("j").asc())
        w_all = Window.partitionBy("i")
        k1 = F.sum(
            F.when((F.col("sim") == 1.0) & (F.col("j") < F.col("i")), 1).otherwise(0)
        ).over(w_all)
        topn = (
            sims.where(F.col("sim") >= self._threshold)
            .withColumn("rn", F.row_number().over(w_rank))
            .withColumn("k1", k1)
            .where(
                (F.col("rn") <= self._topn - 1)
                | ((F.col("k1") >= self._topn) & (F.col("rn") <= self._topn))
            )
        )
        return topn.select(F.col("i").alias("src"), F.col("j").alias("dst"))


# ---------------------------------------------------------------------------
# block-scoped pairwise dedupers (fuzzy / cosine / custom)


# rows above which a global (un-blocked) pairwise deduper refuses to run:
# one applyInPandas task doing O(n^2) python DP is a cluster-killer, and the
# failure mode is silent (a job that never finishes). Reference parity only
# requires the *semantics* of a global block, which small inputs exercise.
MAX_GLOBAL_BLOCK_ROWS = 50_000


class GlobalBlockTooLargeError(RuntimeError):
    pass


def _block_pairs(
    scope: DataFrame,
    value_cols: list[Column],
    block_by: str | None,
    kernel: Callable[[pd.DataFrame], "list[tuple[int, int]]"],
    op_name: str = "pairwise",
    max_global_rows: int = MAX_GLOBAL_BLOCK_ROWS,
) -> DataFrame:
    """Shared applyInPandas harness: group rows into blocks, sort each block
    by ROW_ID (the reference's row-order pair indexing), run a vectorized
    kernel producing local (i, j) index pairs, emit (src, dst) ROW_IDs.

    Without ``block_by`` the whole dataset lands in ONE task running an
    O(n^2) kernel; above ``max_global_rows`` rows the job refuses to run
    instead of hanging the cluster (pass ``block_by=...`` or
    ``prefilter=lk.lsh(...)``). The guard is two-level: a cheap driver-side
    ``limit(n+1).count()`` fails fast BEFORE the whole dataset is shuffled
    into one task and materialized as a single Arrow batch (which could
    OOM/spill the executor before any in-task check fires) — the limit
    bounds the scan, so this is near-free, not a full count; the in-task
    length check remains as a backstop for rows that appear between the
    probe and the task (and raises the same typed error, wrapped by Py4J)."""
    guard = max_global_rows if block_by is None else None
    if guard is not None and scope.limit(guard + 1).count() > guard:
        raise GlobalBlockTooLargeError(
            f"{op_name}: more than {guard} rows with no block_by would run "
            f"an O(n^2) kernel in a single task. Pass block_by=<column> to "
            f"scope comparisons, or prefilter=lk.lsh(...) to generate "
            f"candidates at scale."
        )
    d = scope.select(
        F.col(ROW_ID),
        PairsDeduper._block_expr(block_by).alias("blk"),
        *value_cols,
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if guard is not None and len(pdf) > guard:
            raise GlobalBlockTooLargeError(
                f"{op_name}: {len(pdf)} rows with no block_by would run an "
                f"O(n^2) kernel in a single task (limit {guard}). Pass "
                f"block_by=<column> to scope comparisons, or prefilter="
                f"lk.lsh(...) to generate candidates at scale."
            )
        pdf = pdf.sort_values(ROW_ID).reset_index(drop=True)
        rid = pdf[ROW_ID].to_numpy()
        pairs = kernel(pdf)
        if not pairs:
            return pd.DataFrame({"src": pd.Series([], dtype="int64"), "dst": pd.Series([], dtype="int64")})
        arr = np.asarray(pairs, dtype=np.int64)
        return pd.DataFrame({"src": rid[arr[:, 0]], "dst": rid[arr[:, 1]]})

    return d.groupBy("blk").applyInPandas(fn, PAIRS_SCHEMA)


class FuzzySpec(ThresholdMixin, PairsDeduper):
    """rapidfuzz-style fuzzy matching over all pairs within a block
    (fuzzy.py:21-83; strict ``score > 100*threshold``). Default block is
    global — exact reference parity, O(n^2) in the block, refused above
    ``MAX_GLOBAL_BLOCK_ROWS`` rows. Scale paths:

    - ``block_by="col"``  — O(n^2) only within each block;
    - ``prefilter=lk.lsh(...)`` — candidate pairs come from the prefilter's
      ``gen_candidate_pairs`` (for LSH: every intra-bucket pair up to the
      bucket cap, star edges beyond it) and only those are scored,
      Arrow-batched. RECALL CONTRACT: a pair the prefilter misses is never
      scored, so recall is bounded by the prefilter's (an LSH at threshold
      t' <= fuzzy threshold keeps the miss probability negligible — pick
      t' ~= threshold - 0.1); within oversized buckets clustering is
      transitivity-through-root (LshSpec.PAIR_BUCKET_CAP)."""

    name = "fuzzy"
    single_column = True

    def __init__(
        self,
        threshold: float = 0.95,
        scorer: str = "simple_ratio",
        block_by: str | None = None,
        prefilter: "PairsDeduper | None" = None,
    ):
        super().__init__(threshold=threshold, scorer=scorer)
        self._threshold = self._check_threshold(threshold)
        if scorer not in SCORERS:
            scorer = "simple_ratio"
        self._scorer = scorer
        self._block_by = block_by
        self._prefilter = prefilter

    def gen_pairs(self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> DataFrame:
        col = self.prepared_column(scope, columns, preprocessors).alias("v")
        scorer, cutoff = self._scorer, 100.0 * self._threshold

        if self._prefilter is not None:
            return self._verify_candidates(
                self._prefilter.gen_candidate_pairs(scope, columns, preprocessors),
                scope.select(F.col(ROW_ID), col),
                scorer,
                cutoff,
            )

        def kernel(pdf: pd.DataFrame) -> list[tuple[int, int]]:
            from liken_spark.functions.similarity import pairwise_scores

            values = pdf["v"].tolist()
            scores = pairwise_scores(values, scorer)
            ii, jj = np.where(scores > cutoff)
            return list(zip(ii.tolist(), jj.tolist()))

        return _block_pairs(scope, [col], self._block_by, kernel, op_name="fuzzy")

    @staticmethod
    def _verify_candidates(
        cand: DataFrame, vals: DataFrame, scorer: str, cutoff: float
    ) -> DataFrame:
        """Score only the prefilter's candidate pairs: two hash joins to
        fetch the string values, then an Arrow-batched pair scorer. Linear
        in candidates, fully distributed."""
        va = vals.select(F.col(ROW_ID).alias("src"), F.col("v").alias("va"))
        vb = vals.select(F.col(ROW_ID).alias("dst"), F.col("v").alias("vb"))
        joined = cand.select("src", "dst").distinct().join(va, "src").join(vb, "dst")

        def verify(iterator):
            from liken_spark.functions.similarity import SCORERS as _S

            fn = _S[scorer]
            for pdf in iterator:
                if len(pdf) == 0:
                    yield pdf[["src", "dst"]]
                    continue
                keep = [
                    fn(a, b) > cutoff
                    for a, b in zip(pdf["va"].to_numpy(), pdf["vb"].to_numpy())
                ]
                yield pdf.loc[keep, ["src", "dst"]]

        return joined.mapInPandas(verify, PAIRS_SCHEMA)


class CosineSpec(ThresholdMixin, PairsDeduper):
    """Row-normalized cosine over numeric compound columns
    (cosine.py:19-49: nan->0, zero-norm->1, strict > threshold)."""

    name = "cosine"
    single_column = False

    def __init__(self, threshold: float = 0.95, block_by: str | None = None):
        super().__init__(threshold=threshold)
        self._threshold = self._check_threshold(threshold)
        self._block_by = block_by

    def gen_pairs(self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> DataFrame:
        cols = [F.col(c).cast("double").alias(f"v{k}") for k, c in enumerate(columns)]
        t = self._threshold
        ncols = len(columns)

        def kernel(pdf: pd.DataFrame) -> list[tuple[int, int]]:
            m = pdf[[f"v{k}" for k in range(ncols)]].to_numpy(dtype=np.float64)
            m = np.nan_to_num(m, nan=0.0)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            m = m / norms[:, None]
            sims = m @ m.T
            iu = np.triu_indices(len(m), k=1)
            mask = sims[iu] > t
            return list(zip(iu[0][mask].tolist(), iu[1][mask].tolist()))

        return _block_pairs(scope, cols, self._block_by, kernel, op_name="cosine")


class JaccardSpec(ThresholdMixin, PairsDeduper):
    """Set-overlap similarity across compound columns (jaccard.py:17-47:
    per-row set of distinct non-null values, link if |∩|/|∪| > t, skip
    empty intersections).

    Physical plan is pure DataFrame — explode values, self-join on shared
    value, count = |∩|, sizes give |∪| — exact *and* fully distributed
    (the intersection join only pairs rows that share a value, mirroring
    the reference's skip-if-empty rule for free).

    Values are type-tagged so cross-column equality matches Python set
    semantics (numerics/booleans unify through double, strings stay
    strings)."""

    name = "jaccard"
    single_column = False

    def __init__(self, threshold: float = 0.95):
        super().__init__(threshold=threshold)
        self._threshold = self._check_threshold(threshold)

    @staticmethod
    def _tagged(df: DataFrame, c: str) -> Column:
        dtype = df.schema[c].dataType
        col = F.col(c)
        if isinstance(dtype, (NumericType, BooleanType)):
            return F.when(col.isNotNull(), F.concat(F.lit("n:"), col.cast("double").cast("string")))
        return F.when(col.isNotNull(), F.concat(F.lit("s:"), col.cast("string")))

    def gen_pairs(self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> DataFrame:
        vals = scoped_persist(
            scope.select(
                F.col(ROW_ID).alias("i"),
                F.explode(F.array(*[self._tagged(scope, c) for c in columns])).alias("v"),
            )
            .where(F.col("v").isNotNull())
            .distinct()
        )
        sizes = vals.groupBy("i").agg(F.count(F.lit(1)).alias("sz"))
        a, b = vals.alias("a"), vals.alias("b")
        inter = (
            a.join(b, F.col("a.v") == F.col("b.v"))
            .where(F.col("a.i") < F.col("b.i"))
            .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sized = (
            inter.join(sizes.withColumnRenamed("i", "ii").withColumnRenamed("sz", "sza"), F.col("i") == F.col("ii"))
            .drop("ii")
            .join(sizes.withColumnRenamed("i", "jj").withColumnRenamed("sz", "szb"), F.col("j") == F.col("jj"))
            .drop("jj")
        )
        linked = sized.where(
            F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")) > self._threshold
        )
        return linked.select(F.col("i").alias("src"), F.col("j").alias("dst"))


class CustomSpec(PairsDeduper):
    """User pair-generator deduper (custom.py:27-67): the callable receives
    the block's values as a Python list (single column, placeholder'd +
    preprocessed) or list of dicts (compound, raw) and yields local (i, j)
    pairs in row order."""

    name = "custom"
    single_column = None

    def __init__(self, fn: Callable, fn_name: str, block_by: str | None = None, **kwargs: Any):
        super().__init__(**kwargs)
        self._fn = fn
        self._fn_name = fn_name
        self._kwargs = kwargs
        self._block_by = block_by

    def gen_pairs(self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> DataFrame:
        fn, kwargs = self._fn, self._kwargs
        if isinstance(columns, str):
            cols = [self.prepared_column(scope, columns, preprocessors).alias("v")]

            def kernel(pdf: pd.DataFrame) -> list[tuple[int, int]]:
                return list(fn(pdf["v"].tolist(), **kwargs))

        else:
            cols = [F.col(c) for c in columns]
            col_names = list(columns)

            def kernel(pdf: pd.DataFrame) -> list[tuple[int, int]]:
                # to_dict over object-cast columns: one pass, no per-row Series
                sub = pdf[col_names].astype(object)
                records = [
                    {
                        c: (None if pd.isna(v) else (v.item() if hasattr(v, "item") else v))
                        for c, v in rec.items()
                    }
                    for rec in sub.to_dict(orient="records")
                ]
                return list(fn(records, **kwargs))

        return _block_pairs(scope, cols, self._block_by, kernel, op_name=self._fn_name)

    def __repr__(self) -> str:
        kw = ", ".join(f"{k}={v!r}" for k, v in self._kwargs.items())
        return f"{self._fn_name}({kw})"

    __str__ = __repr__


# ---------------------------------------------------------------------------
# public factories (registered for the Col DSL, like core/registries.py)


def fuzzy(
    threshold: float = 0.95,
    scorer: str = "simple_ratio",
    block_by: str | None = None,
    prefilter: PairsDeduper | None = None,
) -> FuzzySpec:
    return FuzzySpec(threshold=threshold, scorer=scorer, block_by=block_by, prefilter=prefilter)


def lsh(threshold: float = 0.95, ngram: int = 3, num_perm: int = 128, salt: int = 8) -> LshSpec:
    """``salt`` is the hot-band skew knob: band-bucket aggregation runs in
    ``salt`` parallel sub-groups before the global per-bucket merge, so a
    bucket with millions of members shuffles in salt-sized slices instead of
    one hot task. Raise it on clusters with heavy duplication."""
    return LshSpec(threshold=threshold, ngram=ngram, num_perm=num_perm, salt=salt)


def tfidf(
    threshold: float = 0.95,
    ngram: int | tuple[int, int] = 3,
    topn: int = 2,
    **kwargs: Any,
) -> TfidfSpec:
    return TfidfSpec(threshold=threshold, ngram=ngram, topn=topn, **kwargs)


def cosine(threshold: float = 0.95, block_by: str | None = None) -> CosineSpec:
    return CosineSpec(threshold=threshold, block_by=block_by)


def jaccard(threshold: float = 0.95) -> JaccardSpec:
    return JaccardSpec(threshold=threshold)


def isna() -> IsNASpec:
    return IsNASpec()


def isin(values: Iterable) -> IsInSpec:
    return IsInSpec(values=values)


def str_startswith(pattern: str, case: bool = True) -> StrStartswithSpec:
    return StrStartswithSpec(pattern=pattern, case=case)


def str_endswith(pattern: str, case: bool = True) -> StrEndswithSpec:
    return StrEndswithSpec(pattern=pattern, case=case)


def str_contains(pattern: str, case: bool = True, regex: bool = False) -> StrContainsSpec:
    return StrContainsSpec(pattern=pattern, case=case, regex=regex)


def str_len(min_len: int = 0, max_len: int | None = None) -> StrLenSpec:
    return StrLenSpec(min_len=min_len, max_len=max_len)


for _name, _factory in [
    ("exact", exact),
    ("fuzzy", fuzzy),
    ("lsh", lsh),
    ("tfidf", tfidf),
    ("cosine", cosine),
    ("jaccard", jaccard),
    ("isna", isna),
    ("isin", isin),
    ("str_startswith", str_startswith),
    ("str_endswith", str_endswith),
    ("str_contains", str_contains),
    ("str_len", str_len),
]:
    register_deduper(_name, _factory)


def register(f: Callable) -> Callable:
    """``@custom.register`` — wrap a user pair generator as a deduper
    factory, kwargs-only like the reference (custom.py:152-164)."""

    @functools.wraps(f)
    def wrapper(*args: Any, **kwargs: Any) -> CustomSpec:
        if args:
            raise TypeError(f"{f.__name__} must be called with keyword arguments only")
        return CustomSpec(f, f.__name__, **kwargs)

    register_deduper(f.__name__, wrapper)
    return wrapper
