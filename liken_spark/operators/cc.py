"""Distributed connected components over a pair DataFrame.

The reference clusters with an in-memory union-find over row positions
(core/deduper.py:119-125) — which is exactly why its distributed backends
cannot link across partitions (backends/pyspark/executor.py:59-69,
golden-tested in test_matrix_partitioned.py). This module replaces it with
the alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SOCC'14): O(log n) rounds
of pure DataFrame joins/aggregations, each round localCheckpoint'ed to
truncate lineage. Component labels converge to the minimum ROW_ID of each
component — precisely the representative the reference's keep="first"
semantics needs (deduper.py:139-143).

Physical notes:

- ``spark.sql.shuffle.partitions`` is set to an edge-count-sized value for
  the duration of the loop and restored in ``finally`` (measured 3x on a
  240k-edge graph vs corpus-sized widths; AQE's parallelismFirst refuses
  to coalesce below defaultParallelism). SINGLE-THREADED-SESSION
  ASSUMPTION, documented at the mutation site.
- Convergence is detected by an order-independent edge-set signature
  (count + bit_xor of edge hashes), computed after every round but the
  first — the first round runs "blind" because dedup pair graphs are
  near-star already (LSH emits star pairs) and almost never converge in
  0 rounds. Comparing the second round's edge set with the normalized
  input's is still a sound fixed-point test: the star operators strictly
  decrease a potential function until the fixed point (Kiveris et al. §3).
- AQE stays on for the loop: the star-round joins read stats-less
  checkpointed frames, so only AQE's runtime re-planning gets them
  broadcast joins + coalesced partitions — statically planned they
  sort-merge-join (measured 2x worse end-to-end at 20k clips, PLANS.md).
- Each round's frame is localCheckpoint'ed (plan growth across rounds is
  exponential otherwise — the star operators reference the edge frame
  several times). Rounds checkpoint NON-eagerly and the per-round
  signature job doubles as the materializer (one job per round instead of
  two; measured faster on 240k-edge graphs); earlier rounds' checkpoints
  are unpersisted as soon as a later round has materialized, so at most
  two rounds of edge blocks are ever held.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Persisted intermediates registered by pair generators. The next
# connected_components call takes OWNERSHIP of everything registered so far
# (plan-build-time registration strictly precedes the CC invocation that
# consumes the pairs) and releases them once its output is eagerly
# materialized — at that point every registered frame has been folded into
# a materialized checkpoint. Pipelines that never reach a CC pass
# (predicate/bucket-only) release leftovers via ``release_scoped_persists``
# at the end of execution. Single-session assumption, like the rest of the
# engine.
_SCOPED_PERSISTS: list[DataFrame] = []


def scoped_persist_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Eager scoped persist whose pinning count is also the caller's
    row count — one driver action instead of two (count + recount)."""
    df.persist()
    _SCOPED_PERSISTS.append(df)
    return df, df.count()


def scoped_persist(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist an intermediate whose lifetime ends when the consuming CC
    pass materializes (or, for CC-free pipelines, when execution ends).

    ``eager=True`` (default) materializes the cache NOW with one count
    job. This is load-bearing for scaling, not a nicety: these frames are
    read by several branches of the downstream plan, and AQE submits
    independent branch jobs CONCURRENTLY — tasks that arrive before the
    cache blocks exist silently recompute the whole parent chain (the
    MinHash/shingle-hash UDFs, the most expensive nodes in the plan) once
    PER BRANCH. Measured on the 200k-clip corpus at local[8]: the
    substring hash chain alone ballooned 36 -> 292 core-seconds because
    seven concurrent consumers each rebuilt it; at local[2] the branches
    happened to serialize and hit the cache. One eager count pins the
    one-compute guarantee at every parallelism."""
    df.persist()
    _SCOPED_PERSISTS.append(df)
    if eager:
        df.count()
    return df


def release_scoped_persists() -> None:
    while _SCOPED_PERSISTS:
        _SCOPED_PERSISTS.pop().unpersist()


def _take_scoped_persists() -> list[DataFrame]:
    """Transfer ownership of the currently-registered persists to the
    caller (a starting CC pass): entries registered *after* this point
    belong to a later pass and are not touched."""
    mine = _SCOPED_PERSISTS[:]
    _SCOPED_PERSISTS.clear()
    return mine


def _normalize(e: DataFrame) -> DataFrame:
    """Edges as (u=hi, v=lo), deduped, no self loops."""
    return (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("m"))
        .select("u", F.least("u", "m").alias("m"))
    )
    # emit (v, m) for strictly larger neighbors v of u
    out = (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return _normalize(out)


def _small_star(e: DataFrame) -> DataFrame:
    d = _normalize(e)  # (u=hi, v=lo)
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u").alias("u"), F.col("m").alias("v")))
    )
    return _normalize(out)


def _signature(e: DataFrame) -> tuple[int, int]:
    # bit_xor: order-independent and overflow-free (ANSI-safe) edge-set hash
    row = e.agg(
        F.count(F.lit(1)).alias("c"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["c"]), int(row["h"])


def _local_union_find(edges) -> dict[int, int]:
    """Driver-side union-find with path halving; roots are the component
    minima (smaller id always becomes the parent)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        parent[x] = r
        return r

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return {x: find(x) for x in parent}


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
    local_max_edges: int | None = None,
) -> DataFrame:
    """(src, dst) pair DataFrame -> (node, comp) assignment DataFrame.

    ``comp`` is the minimum node id of the component. Only nodes that
    appear in at least one pair are returned — callers default absent rows
    to their own id (matching the reference's ``rep_index.get(i, i)``
    fallback, deduper.py:149).

    ``local_max_edges`` is the adaptive small-graph gate (same philosophy
    as AQE's broadcast threshold): when the normalized edge count — known
    for free from the same signature job that detects empty input — is at
    or under the gate, the component labels are computed by a driver-side
    union-find over one bounded Arrow collect (2M edges = ~32MB) instead
    of the O(log n) star-round loop. Dedup pair graphs are pathologically
    cheap for union-find (near-star, so path halving barely recurses) but
    pathologically expensive for the distributed loop (each round is ~7
    edge-SIZED shuffle stages whose job-submission gaps are pure
    driver-serial time that does not shrink with executors — the r4
    scaling report's largest defect). Above the gate — any truly
    corpus-scale pair set, e.g. 10^12-row inputs where edges grow
    linearly with rows — the distributed loop runs unchanged. The result
    is built by ``createDataFrame`` from the driver's pandas frame, a
    ``Scan ExistingRDD`` with NO size statistics (like the loop's
    checkpointed output), so the planner does not broadcast it on its own:
    a caller that joins it against a wide frame adds the broadcast hint
    itself (``jobs.dedup_corpus``). Default 2_000_000 (env
    ``LIKEN_SPARK_CC_LOCAL_MAX``); 0 forces the distributed loop.
    """
    import os as _os
    spark = pairs.sparkSession
    owned = _take_scoped_persists()
    e = _normalize(pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    e = e.persist()

    # Size the CC-loop shuffles to the edge count: dedup pair sets are tiny
    # relative to the corpus, and each round is ~7 shuffle stages — at the
    # session's corpus-sized width the per-stage scheduling overhead
    # dominates (measured 3x on a 240k-edge graph: 8.5s at 8 partitions vs
    # 25.5s at 64; AQE does not shrink these because
    # coalescePartitions.parallelismFirst keeps ~defaultParallelism).
    # The session conf is mutated for the loop and restored in finally —
    # SINGLE-THREADED-SESSION ASSUMPTION: a concurrently-planned query on
    # this SparkSession would observe the edge-sized value. The rest of the
    # engine shares this assumption (scoped persists, checkpoint manifests).
    session_parts = spark.conf.get("spark.sql.shuffle.partitions")
    live: list[DataFrame] = []  # round checkpoints not yet released
    try:
        sig = _signature(e)
        if sig[0] == 0:
            return spark.createDataFrame([], "node long, comp long")
        if local_max_edges is None:
            local_max_edges = int(_os.environ.get("LIKEN_SPARK_CC_LOCAL_MAX", "2000000"))
        if sig[0] <= local_max_edges:
            # small-graph fast path: one Arrow collect + driver union-find
            # (see docstring). The edge frame is already persisted, so the
            # collect is a cache scan.
            import pandas as pd

            pdf = e.toPandas()  # bounded-collect: <= local_max_edges rows (gate above)
            assign = _local_union_find(zip(pdf["u"].tolist(), pdf["v"].tolist()))
            out_pdf = pd.DataFrame(
                {"node": list(assign.keys()), "comp": list(assign.values())}
            ).astype("int64")
            out = spark.createDataFrame(out_pdf, "node long, comp long")
            # advisory tag: this assignment is at most local_max_edges
            # driver-built rows, cheap to probe twice, so keep="first"
            # canonicalization can use the filter-based representative
            # lookup (executor._apply_comp_df)
            out._liken_local_cc = True
            return out
        # floor at the session's core count: fewer partitions than cores
        # would idle executors for the whole loop; edge-count sizing still
        # caps the per-stage scheduling overhead on small graphs
        cores = spark.sparkContext.defaultParallelism
        cc_parts = max(4, cores, min(2048, sig[0] // 1_000_000 + 4))
        spark.conf.set("spark.sql.shuffle.partitions", str(cc_parts))
        # NB: each round MUST truncate the plan (localCheckpoint) — the star
        # operators reference the edge frame several times, so an
        # un-truncated logical plan grows exponentially per round. Rounds
        # are checkpointed lazily; the convergence signature doubles as
        # the materializing job, and the first round runs "blind" (module
        # docstring).
        prev = e
        for i in range(max_iter):
            prev = _small_star(_large_star(prev)).localCheckpoint(eager=False)
            live.append(prev)
            if i == 0:
                continue
            sig_next = _signature(prev)
            # The signature job just materialized this round, so every
            # earlier round's checkpoint blocks are dead — release them so
            # at most two rounds of edge blocks are ever held. Before that
            # job they must survive: their lineage is truncated, so an
            # early unpersist loses data.
            for k in live[:-1]:
                k.unpersist()
            del live[:-1]
            if sig_next == sig:
                break
            sig = sig_next
        else:  # pragma: no cover - defensive
            raise RuntimeError(f"connected components did not converge in {max_iter} rounds")
        e_final = prev
        # stars: (child=u, root=v); roots appear only on the v side
        children = e_final.select(F.col("u").alias("node"), F.col("v").alias("comp"))
        roots = e_final.select(F.col("v").alias("node"), F.col("v").alias("comp")).distinct()
        # eager localCheckpoint: `out` is fully materialized before the
        # finally block releases the frames it was computed from
        out = children.union(roots).distinct().localCheckpoint(eager=True)
        return out
    finally:
        # release EVERYTHING in finally (not just on the success path): an
        # exception mid-loop (or the max_iter RuntimeError) must not leak
        # the edge frame, round checkpoints, or owned scoped persists for
        # the session lifetime.
        spark.conf.set("spark.sql.shuffle.partitions", session_parts)
        e.unpersist()
        for k in live:
            k.unpersist()
        for o in owned:
            o.unpersist()
