"""Layer-2 text dedup operators (north-star additions; NOT in the reference —
they come from BASELINE.json north_rule: SimHash signatures and a
distributed suffix-array-style exact-substring pass).

Both are PairsDedupers and plug into the same pipeline/CC machinery as the
reference-parity operators, so e.g.

    lk.pipeline().step(lk.col("transcript").substring(min_len=40))
    lk.pipeline().step(lk.col("transcript").simhash(hamming=3))
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from liken_spark.constants import ROW_ID
from liken_spark.minhash import simhash64
from liken_spark.operators.base import Columns, PairsDeduper, register_deduper
from liken_spark.operators.cc import scoped_persist, scoped_persist_count

# sentinel: a df cap was configured but provably could not fire (the row
# count is at or under the cap), so no observation job was installed
_CAP_UNFIRABLE = object()
from liken_spark.preprocess import Preprocessor


class SubstringSpec(PairsDeduper):
    """Exact-substring containment: link (i, j) when one row's full text is
    a substring of the other's and the contained text is >= ``min_len``
    chars.

    Distributed plan (the suffix-window scheme from the dedup-training-data
    literature — Lee et al. 2021's suffix-array pass re-expressed as a
    fixed-width window join):

    1. every row emits the hash of its *prefix* window (first ``min_len``
       chars) as a "needle" key;
    2. every row emits hashes of *all* ``min_len``-char windows of its text
       as "haystack" keys (O(len) per row, embarrassingly parallel);
    3. join needle == haystack (hash join on int64 keys, salt-friendly),
       then verify actual containment on the joined pair — no false
       positives survive.

    A needle whose text is shorter than ``min_len`` is ignored (too short
    to assert duplication), exactly like a minimum-match-length L in a
    suffix-array dedup.

    **Winnowing prune** (Schleimer et al. 2003, on by default): instead of
    hashing min_len-char windows directly, both sides hash windows of
    ``L_eff = min_len - winnow + 1`` chars and the haystack emits only the
    MINIMUM hash of every run of ``winnow`` consecutive window hashes
    (~2/(winnow+1) of the rows the exact emission shuffles). Recall is
    preserved by the winnowing guarantee: a contained needle of length
    >= min_len spans >= ``winnow`` consecutive L_eff-windows of the
    haystack, the guarantee selects the minimum of that span's first
    ``winnow``-run — which the needle computes locally from its own prefix.
    Verification is still an exact ``contains``, so the final pair set is
    identical to the exact emission; only candidate volume changes.
    ``winnow=None`` disables the prune (plain full-window emission).

    ``max_key_df`` caps how many documents may share one window key before
    that key is excluded from the candidate join (an explicit, documented
    skew guard: a window occurring in >cap docs would fan every matching
    needle out to all of them — at corpus scale that is the hot-key
    equivalent of a hot LSH band). ``None`` disables the cap (exact
    candidates regardless of skew).
    """

    name = "substring"
    single_column = True

    # L_eff below this would make shared-window candidates too generic;
    # the winnow width shrinks (and finally disables) to respect it
    _MIN_EFF_WINDOW = 12

    def __init__(
        self,
        min_len: int = 40,
        max_windows: int | None = None,
        winnow: int | None = 8,
        max_key_df: int | None = 10000,
    ):
        # parameter order matches the substring() factory positionally
        # (min_len, max_windows, winnow, max_key_df) — a positional 3rd
        # argument is always the winnow width, never the df cap
        super().__init__(min_len=min_len)
        self._min_len = min_len
        self._max_windows = max_windows
        self._max_key_df = max_key_df
        self.last_cap_observation = None
        if winnow is not None:
            winnow = min(winnow, max(min_len - self._MIN_EFF_WINDOW + 1, 1))
            if winnow <= 1:
                winnow = None
        self._winnow = winnow

    def gen_pairs(self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> DataFrame:
        L = self._min_len
        col = self.prepared_column(scope, columns, preprocessors)
        # the pin count doubles as the row count the cap-unfirable check
        # in pairs_from needs (one driver action either way)
        d, n_d = scoped_persist_count(
            scope.select(F.col(ROW_ID), col.alias("t")).where(F.length("t") >= L)
        )
        return self.pairs_from(d, n_d)

    def pairs_from(self, d: DataFrame, n_d: int) -> DataFrame:
        """Containment pairs over a cache-backed (ROW_ID, t) frame holding
        only rows with ``length(t) >= min_len``; ``n_d`` is its row count."""
        L = self._min_len
        # The key join and the hot-key aggregation shuffle ONLY (id, key)
        # int64 pairs — never the text. Each candidate (ni, hi) id pair
        # occurs once, then each side's text joins back once (from the
        # persisted narrow frame, hash join on the int id) for the exact
        # ``contains`` verification. At corpus scale this is the difference
        # between shuffling ~16 bytes and ~kilobytes per emitted window.
        if self._winnow is not None:
            wn = self._winnow
            L_eff = L - wn + 1
            # needle key: min hash of its first `wn` L_eff-windows — exactly
            # the fingerprint the winnowing guarantee selects inside any
            # haystack span that contains this needle
            needles = d.select(
                F.col(ROW_ID).alias("ni"),
                F.least(
                    *[F.xxhash64(F.substring("t", i + 1, L_eff)) for i in range(wn)]
                ).alias("key"),
            )
            # materialize the per-row hash array as a COLUMN before the
            # sliding-min pass: an inline transform expression would be
            # re-evaluated for every run position (Catalyst does no CSE
            # across lambda invocations — measured O(len^2) blowup)
            hashes = F.transform(
                F.sequence(F.lit(1), F.length("t") - F.lit(L_eff - 1)),
                lambda i: F.xxhash64(F.col("t").substr(i, F.lit(L_eff))),
            )
            h = d.select(F.col(ROW_ID).alias("hi"), hashes.alias("hs"))
            run_idx = F.sequence(F.lit(1), F.size("hs") - F.lit(wn - 1))
            if self._max_windows is not None:
                run_idx = F.slice(run_idx, 1, self._max_windows)
            keys = F.array_distinct(
                F.transform(run_idx, lambda j: F.array_min(F.slice(F.col("hs"), j, wn)))
            )
            haystacks = h.select("hi", F.explode(keys).alias("key"))
        else:
            needles = d.select(
                F.col(ROW_ID).alias("ni"),
                F.xxhash64(F.substring("t", 1, L)).alias("key"),
            )
            win_idx = F.sequence(F.lit(1), F.length("t") - F.lit(L - 1))
            if self._max_windows is not None:
                win_idx = F.slice(win_idx, 1, self._max_windows)
            haystacks = d.select(
                F.col(ROW_ID).alias("hi"),
                F.explode(
                    F.array_distinct(
                        F.transform(win_idx, lambda i: F.xxhash64(F.col("t").substr(i, F.lit(L))))
                    )
                ).alias("key"),
            )
        if self._max_key_df is not None and n_d <= self._max_key_df:
            # each doc emits a key at most once (array_distinct), so a
            # key's doc frequency is bounded by the row count — with
            # n_d <= cap the guard provably cannot fire: skip its
            # aggregation + broadcast join outright (identical result,
            # cap_fired_rows reports 0)
            self.last_cap_observation = _CAP_UNFIRABLE
        elif self._max_key_df is not None:
            from pyspark.sql import Observation

            # the guard makes haystacks a TWO-consumer frame (the hot-key
            # aggregation build + the candidate-join probe) — without a pin
            # the whole window-hash pass runs twice (measured 2 x ~20
            # core-sec at 20k clips). One pinned pass + cache scans; the
            # cached rows are 16-byte (id, key) pairs, strictly cheaper to
            # re-read than to re-derive at any scale.
            haystacks = scoped_persist(haystacks)
            hot = (
                haystacks.groupBy("key")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") > self._max_key_df)
                .select("key", F.lit(True).alias("_hot"))
            )
            # no-silent-caps: the cap changes recall, so its firing must be
            # observable. The Observation rides the consuming action for
            # free (no extra job); callers read it after materializing the
            # pairs via spec.cap_fired_rows(). The hot-key exclusion is
            # expressed as broadcast left-join + null filter rather than an
            # anti-join so the CollectMetrics node sits on the MAIN (probe)
            # side of the broadcast — metrics observed inside an AQE
            # broadcast-build stage never reach Observation (measured:
            # empty row). Physically identical: one broadcast hash join
            # either way.
            obs = Observation()
            self.last_cap_observation = obs
            haystacks = (
                haystacks.join(F.broadcast(hot), "key", "left")
                .observe(obs, F.count(F.col("_hot")).alias("hot_window_rows_dropped"))
                .where(F.col("_hot").isNull())
                .drop("_hot")
            )
        # no .distinct(): each needle emits one key and each haystack's
        # keys are array_distinct, so every (ni, hi) occurs at most once
        cand = (
            needles.join(haystacks, "key")
            .where(F.col("ni") != F.col("hi"))
            .select("ni", "hi")
        )
        pairs = (
            cand.join(d.select(F.col(ROW_ID).alias("ni"), F.col("t").alias("ntext")), "ni")
            .join(d.select(F.col(ROW_ID).alias("hi"), F.col("t").alias("htext")), "hi")
            .where(F.col("htext").contains(F.col("ntext")))
            .select(F.col("ni").alias("src"), F.col("hi").alias("dst"))
        )
        return pairs

    def cap_fired_rows(self) -> int | None:
        """How many haystack-window rows the ``max_key_df`` cap removed in
        the last materialized pairs plan — the no-silent-caps signal.

        Returns None when no cap is set, or when AQE collapsed the whole
        query to an empty relation before the metrics node ran (empty
        result => nothing was at risk of being silently missing anyway,
        apart from pairs the cap itself suppressed — which is exactly when
        the caller should re-run with ``max_key_df=None`` to compare).
        Blocks until the consuming action finishes, like Observation.get.
        """
        if self.last_cap_observation is None:
            return None
        if self.last_cap_observation is _CAP_UNFIRABLE:
            return 0
        try:
            return int(self.last_cap_observation.get["hot_window_rows_dropped"])
        except Exception:  # empty GenericRow from AQE empty-relation pruning
            return None


class SimHashSpec(PairsDeduper):
    """64-bit SimHash near-dup detection over word tokens (Charikar 2002 /
    Manku et al. 2007). Candidates come from band collisions on ``bands``
    equal bit-chunks (pigeonhole: hamming <= bands-1 is recall-lossless);
    each candidate pair is then verified with bit_count(xor) <= ``hamming``
    JVM-side.

    Scale shape: rows are first collapsed by their FULL signature (a groupBy
    with map-side partial aggregation — a million identical near-dups become
    one representative + linear star edges, never a candidate join). Only
    the *distinct* signatures are banded and pairwise-verified, so the
    classic hot-bucket blowup (B identical docs -> B^2/2 candidates) is
    structurally impossible; pairing is quadratic only in distinct
    signatures per bucket, guarded by ``max_bucket_reps`` (buckets with more
    distinct signatures than the cap are dropped from candidate pairing — an
    explicit skew guard like SubstringSpec.max_key_df; ``None`` disables).
    Exactness is preserved: ham(a, b) == ham(sig_a, sig_b), and identical
    signatures always link, so rep-level verification decides every pair.

    ``collapse`` selects the collapse stage: ``True`` always collapses,
    ``False`` bands raw rows directly (identical signatures still link via
    a linear star aggregate fused into the pairs plan), ``None`` (default)
    probes the corpus first — one count + approx_count_distinct aggregate
    (which doubles as the signature cache pin) and skips the collapse
    shuffle when >= ``SKIP_COLLAPSE_DISTINCT_RATIO`` of signatures are
    distinct. Both paths produce the same connected components.
    """

    name = "simhash"
    single_column = True

    # auto-collapse probe: skip the signature-collapse shuffle when the
    # estimated distinct-signature ratio is above this (duplication too
    # rare for the collapse to pay for itself)
    SKIP_COLLAPSE_DISTINCT_RATIO = 0.98
    # corpora at or under this row count settle an ambiguous probe with an
    # exact countDistinct over the pinned signature cache (deterministic
    # path choice; sub-second at this size). Larger corpora trust the HLL
    # estimate — both paths yield identical components either way.
    EXACT_PROBE_MAX_ROWS = 2_000_000

    def __init__(
        self,
        hamming: int = 3,
        bands: int = 4,
        token_ngram: int | None = None,
        max_bucket_reps: int | None = 10000,
        collapse: bool | None = None,
    ):
        super().__init__(hamming=hamming, bands=bands)
        if bands < hamming + 1:
            raise ValueError("bands must be >= hamming+1 for lossless candidate recall")
        self._hamming = hamming
        self._bands = bands
        self._token_ngram = token_ngram
        self._max_bucket_reps = max_bucket_reps
        self._collapse = collapse

    def _signatures(
        self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]
    ) -> DataFrame:
        """(ROW_ID, sh) 64-bit signature frame — exposed separately so
        callers (e.g. the driver-contract sidecar export) can oracle the
        clustering stage downstream of the signature kernel."""
        tng = self._token_ngram

        @F.pandas_udf("long")
        def sim_udf(texts: pd.Series) -> pd.Series:
            out = np.empty(len(texts), dtype=np.int64)
            for k, text in enumerate(texts):
                text = text or ""
                if tng:
                    toks = [text[i : i + tng].encode("utf-8") for i in range(len(text) - tng + 1)]
                else:
                    toks = [t.encode("utf-8") for t in text.split()]
                out[k] = simhash64(toks)
            return pd.Series(out)

        col = self.prepared_column(scope, columns, preprocessors)
        return scope.select(F.col(ROW_ID), sim_udf(col).alias("sh"))

    def gen_pairs(self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> DataFrame:
        bands, hamming = self._bands, self._hamming
        # d is registered WITHOUT its own pinning job when a useful-work
        # consumer will pin it (the collapse aggregate, or the auto probe);
        # only an explicit collapse=False has no such consumer and needs
        # the eager pin — the pairs plan reads d from several branches and
        # an unpinned cache is silently recomputed per branch under AQE.
        d = scoped_persist(
            self._signatures(scope, columns, preprocessors),
            eager=self._collapse is False,
        )

        collapse = self._collapse
        n_banded = None  # upper bound on rows entering the band explode
        if collapse is None:
            # Collapse probe (round-3 spec): the collapse shuffle only pays
            # when identical signatures are common. One map-side-partial
            # aggregate (count + HLL distinct) doubles as d's cache pin and
            # decides the path. When duplication is rare the skip path
            # saves the full (sh, row_id) collapse shuffle, its eager pin
            # job, and the member join.
            #
            # rsd 0.05, not the former 0.01: Spark's HLL++ at 1% rsd
            # measured ~1.3-2.5s PER CALL at local[32] vs ~0.2s at 5%,
            # and the estimate only chooses between two result-identical
            # physical paths. For a SMALL corpus whose estimate lands in
            # the ambiguous band around the 0.98 boundary, one exact
            # countDistinct over the now-pinned cache settles the
            # decision deterministically (sub-second at the gate size);
            # a large corpus far from the boundary never pays it.
            row = d.agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct("sh", 0.05).alias("nd"),
            ).collect()[0]
            n, nd = int(row["n"]), int(row["nd"])
            ratio = self.SKIP_COLLAPSE_DISTINCT_RATIO
            if n <= self.EXACT_PROBE_MAX_ROWS and nd >= (ratio - 3 * 0.05) * n:
                nd = int(
                    d.agg(F.count_distinct("sh").alias("nd")).collect()[0]["nd"]
                )
            collapse = nd < ratio * n
            n_banded = n  # rows per bucket can never exceed total rows

        width = 64 // bands
        chunks = F.array(
            *[
                F.shiftrightunsigned(F.col("sh"), i * width).bitwiseAND(F.lit((1 << width) - 1))
                for i in range(bands)
            ]
        )

        if collapse:
            # 1) collapse identical signatures: one rep per sh + linear
            # star edges; the eager pin count materializes BOTH caches.
            sig_groups = scoped_persist(
                d.groupBy("sh").agg(F.min(ROW_ID).alias("rep"), F.count(F.lit(1)).alias("c"))
            )
            member_edges = (
                d.join(sig_groups.where(F.col("c") > 1).select("sh", "rep"), "sh")
                .where(F.col(ROW_ID) != F.col("rep"))
                .select(F.col("rep").alias("src"), F.col(ROW_ID).alias("dst"))
            )
            banded = sig_groups.select("rep", "sh")
        else:
            # Skip path: band every row directly (no collapse shuffle, no
            # second pin). Identical signatures still link — via the lazy
            # star aggregate below, which fuses into the same pairs query
            # (no persist/pin/materialization of its own) and stays LINEAR
            # in group size, so a hot identical group that slipped past the
            # HLL probe cannot go quadratic and is linked even if the
            # bucket guard drops its (band, key) from cross-sig pairing.
            dup_groups = (
                d.groupBy("sh")
                .agg(F.min(ROW_ID).alias("rep"), F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > 1)
                .select("sh", "rep")
            )
            member_edges = (
                d.join(dup_groups, "sh")
                .where(F.col(ROW_ID) != F.col("rep"))
                .select(F.col("rep").alias("src"), F.col(ROW_ID).alias("dst"))
            )
            banded = d.select(F.col(ROW_ID).alias("rep"), "sh")

        # 2) band the (collapsed or raw) signatures; pairwise + hamming
        # verify. Strict sh inequality: equal-signature pairs are always
        # covered by the star edges, never the quadratic join.
        e = banded.select("rep", "sh", F.posexplode(chunks).alias("band", "key"))
        if self._max_bucket_reps is not None and (
            n_banded is None or n_banded > self._max_bucket_reps
        ):
            # when the banded row count is known and <= the cap, no bucket
            # can exceed it — the guard provably cannot fire, so skip its
            # aggregation + broadcast anti-join outright (identical result)
            hot = (
                e.groupBy("band", "key")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") > self._max_bucket_reps)
                .select("band", "key")
            )
            e = e.join(F.broadcast(hot), ["band", "key"], "anti")
        a, b = e.alias("a"), e.alias("b")
        rep_pairs = (
            a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
            .where(F.col("a.sh") < F.col("b.sh"))
            .where(F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= hamming)
            .select(F.col("a.rep").alias("src"), F.col("b.rep").alias("dst"))
        )
        # no .distinct() on rep_pairs (cross-band duplicates): the consuming
        # CC pass normalizes + distincts the union anyway — a pre-distinct
        # shuffles the same rows one extra time
        return member_edges.union(rep_pairs)


class NgramJaccardSpec(PairsDeduper):
    """Exact n-gram Jaccard near-dup detection: per-row set of distinct char
    n-grams, link when |∩|/|∪| > threshold. Unlike MinHash this is *exact*
    Jaccard, computed fully distributed (explode -> shared-gram join ->
    count = |∩|), with a doc-frequency cap to keep ubiquitous grams from
    exploding the join (dropped grams are counted against both |∩| and |∪|
    consistently: the cap applies to the gram vocabulary, i.e. a MinHash-
    free variant of the standard postings-prune)."""

    name = "ngram_jaccard"
    single_column = True

    def __init__(self, threshold: float = 0.8, ngram: int = 5, max_df_ratio: float = 1.0):
        super().__init__(threshold=threshold, ngram=ngram)
        if not (0 <= threshold < 1):
            raise ValueError("The threshold value must be greater or equal to 0 and less than 1")
        self._threshold = threshold
        self._ngram = ngram
        self._max_df_ratio = max_df_ratio

    def gen_pairs(self, scope: DataFrame, columns: Columns, preprocessors: list[Preprocessor]) -> DataFrame:
        n = self._ngram
        col = self.prepared_column(scope, columns, preprocessors)
        from liken_spark.operators.cc import scoped_persist_count

        # the pinning count doubles as n_docs for the df cap (one action)
        d, n_docs = scoped_persist_count(scope.select(F.col(ROW_ID).alias("i"), col.alias("t")))
        grams = d.select(
            "i",
            F.explode(
                F.when(
                    F.length("t") >= n,
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), F.length("t") - F.lit(n - 1)),
                            lambda idx: F.xxhash64(F.col("t").substr(idx, F.lit(n))),
                        )
                    ),
                ).otherwise(F.array())
            ).alias("g"),
        )
        grams = scoped_persist(grams)
        if self._max_df_ratio < 1.0:
            cap = int(self._max_df_ratio * n_docs)
            hot = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") > cap)
            grams = grams.join(F.broadcast(hot.select("g")), "g", "anti")
        sizes = grams.groupBy("i").agg(F.count(F.lit(1)).alias("sz"))
        a, b = grams.alias("a"), grams.alias("b")
        inter = (
            a.join(b, F.col("a.g") == F.col("b.g"))
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
        return sized.where(
            F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")) > self._threshold
        ).select(F.col("i").alias("src"), F.col("j").alias("dst"))


def ngram_jaccard(threshold: float = 0.8, ngram: int = 5, max_df_ratio: float = 1.0) -> NgramJaccardSpec:
    return NgramJaccardSpec(threshold=threshold, ngram=ngram, max_df_ratio=max_df_ratio)


def substring(
    min_len: int = 40,
    max_windows: int | None = None,
    winnow: int | None = 8,
    max_key_df: int | None = 10000,
) -> SubstringSpec:
    return SubstringSpec(
        min_len=min_len, max_windows=max_windows, winnow=winnow, max_key_df=max_key_df
    )


def simhash(
    hamming: int = 3,
    bands: int = 4,
    token_ngram: int | None = None,
    max_bucket_reps: int | None = 10000,
    collapse: bool | None = None,
) -> SimHashSpec:
    return SimHashSpec(
        hamming=hamming,
        bands=bands,
        token_ngram=token_ngram,
        max_bucket_reps=max_bucket_reps,
        collapse=collapse,
    )


register_deduper("substring", substring)
register_deduper("simhash", simhash)
register_deduper("ngram_jaccard", ngram_jaccard)
