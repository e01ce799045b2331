"""Collection executor: turns a deduper collection into a chained Spark plan.

Parity model (reference ``core/executor.py:54-139``):

- dict/sequential collections apply dedupers *iteratively* — each
  canonicalization rewrites ``canonical_id`` before the next deduper runs
  (executor.py:89-101), so representative *values* propagate through the
  chain (core/deduper.py:134-151).
- pipeline steps with no predicate combine dedupers by AND: rows co-cluster
  iff their whole per-deduper component signature tuple matches
  (executor.py:127-133, 161-170).
- steps with >= 1 predicate use rule predication: predicates run first
  (pipelines.py:471), each predicate's multi-member match set is unioned
  into the active row subset, later dedupers run on that subset, and the
  *last* deduper's components decide the step (executor.py:103-135) —
  including the quirk that a predicate matching <= 1 rows leaves the subset
  unfiltered.

Physical execution is all DataFrame-level: bucket dedupers canonicalize in
a single window over their key (no pair materialization, one shuffle);
predicates are one scalar aggregate broadcast back; similarity dedupers
flow candidate pairs through distributed connected components. Nothing
ever collects rows to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from liken_spark.constants import CANONICAL_ID, ROW_ID, TMP_PREFIX
from liken_spark.operators.base import (
    BucketDeduper,
    Columns,
    DeduperSpec,
    PairsDeduper,
    PredicateSpec,
)
from liken_spark.operators.cc import connected_components
from liken_spark.preprocess import Preprocessor

COMP = TMP_PREFIX + "comp"


@dataclass
class Unit:
    """One (columns, deduper, preprocessors) pipeline unit
    (reference collections/pipelines.py:22-28)."""

    columns: Columns
    spec: DeduperSpec
    preprocessors: list[Preprocessor]


def _rewrite_over_partition(df: DataFrame, part_cols: list[Column], keep: str) -> DataFrame:
    """canonical_id <- canonical value of the representative (min/max ROW_ID)
    row of each partition group — the reference's canonicalizer
    (core/deduper.py:127-155).

    Physical form: groupBy(key).agg(min_by/max_by) + null-safe equi-join
    back, NOT a window. A window ships every member of a group to ONE task
    (a hot key — millions of identical "na"-coalesced values, or one giant
    dup cluster — serializes there); the aggregate partial-combines
    map-side and the join is AQE-skew-splittable, so hot groups scale out.
    The group count is usually ≪ the row count, so the join's build side is
    small (AQE converts it to broadcast at runtime when it fits)."""
    knames = [f"{TMP_PREFIX}k{i}" for i in range(len(part_cols))]
    rep = TMP_PREFIX + "rep"
    d = df.select("*", *[c.alias(n) for c, n in zip(part_cols, knames)])
    pick = F.min_by if keep == "first" else F.max_by
    reps = d.groupBy(*[F.col(n) for n in knames]).agg(
        pick(F.col(CANONICAL_ID), F.col(ROW_ID)).alias(rep)
    )
    rnames = [n + "_r" for n in knames]
    reps = reps.select(*[F.col(n).alias(rn) for n, rn in zip(knames, rnames)], F.col(rep))
    cond = F.lit(True)
    for n, rn in zip(knames, rnames):
        cond = cond & d[n].eqNullSafe(reps[rn])
    out = (
        d.join(reps, cond)
        .withColumn(CANONICAL_ID, F.col(rep))
        .drop(rep, *knames, *rnames)
    )
    return out


def _apply_comp_df(df: DataFrame, comp_df: DataFrame, keep: str) -> DataFrame:
    """Join a partial (ROW_ID, comp) assignment; absent rows stay singleton
    (reference ``rep_index.get(i, i)``, deduper.py:149)."""
    d = df.join(comp_df.withColumnRenamed("node", ROW_ID), ROW_ID, "left")
    d = d.withColumn(COMP, F.coalesce(F.col("comp"), F.col(ROW_ID))).drop("comp")
    if keep == "first" and getattr(comp_df, "_liken_local_cc", False):
        # comp is BY CONTRACT the minimum ROW_ID of its component
        # (connected_components docstring), so with keep="first" the
        # representative row is exactly the row whose ROW_ID equals its
        # comp — a filter, not a min_by aggregation: one exchange less in
        # every canonicalize tail. Gated on the CC fast path's tag: the
        # reps branch re-probes the comps join, which is cheap only for
        # that small driver-built assignment (a stats-less Scan
        # ExistingRDD, at most local_max_edges rows); the distributed
        # loop's output keeps the aggregate form.
        rep = TMP_PREFIX + "rep"
        reps = d.where(F.col(ROW_ID) == F.col(COMP)).select(
            F.col(COMP).alias(COMP + "_r"), F.col(CANONICAL_ID).alias(rep)
        )
        out = (
            d.join(reps, d[COMP] == reps[COMP + "_r"])
            .withColumn(CANONICAL_ID, F.col(rep))
            .drop(rep, COMP + "_r")
        )
        return out.drop(COMP)
    d = _rewrite_over_partition(d, [F.col(COMP)], keep)
    return d.drop(COMP)


def components_for(
    unit: Unit, scope: DataFrame
) -> DataFrame:
    """(node, comp) assignment for rows in ``scope`` (comp = min ROW_ID of
    the component within the scope). Used on the generic path; bucket
    dedupers on full scope take the windowed fast path instead."""
    spec, columns, preps = unit.spec, unit.columns, unit.preprocessors
    spec.validate(columns)
    if isinstance(spec, BucketDeduper):
        key = spec.key_column(scope, columns, preps)
        kname = TMP_PREFIX + "bk"
        d = scope.select(F.col(ROW_ID), key.alias(kname))
        roots = d.groupBy(kname).agg(F.min(ROW_ID).alias("comp"))
        roots = roots.select(F.col(kname).alias(kname + "_r"), F.col("comp"))
        return (
            d.join(roots, d[kname].eqNullSafe(roots[kname + "_r"]))
            .select(F.col(ROW_ID).alias("node"), F.col("comp"))
        )
    if isinstance(spec, PredicateSpec):
        mask = F.coalesce(spec.mask_column(scope, columns, preps), F.lit(False))
        matched = scope.where(mask).select(ROW_ID)
        stats = matched.agg(F.min(ROW_ID).alias("mn"))
        return matched.crossJoin(F.broadcast(stats)).select(
            F.col(ROW_ID).alias("node"), F.col("mn").alias("comp")
        )
    assert isinstance(spec, PairsDeduper)
    pairs = spec.gen_pairs(scope, columns, preps)
    return connected_components(pairs)


def apply_unit(df: DataFrame, unit: Unit, keep: str) -> DataFrame:
    """Run one deduper over the full frame and canonicalize."""
    spec = unit.spec
    spec.validate(unit.columns)
    if isinstance(spec, BucketDeduper):
        # fast path: single shuffle, no joins
        key = spec.key_column(df, unit.columns, unit.preprocessors)
        return _rewrite_over_partition(df, [key], keep)
    comp_df = components_for(unit, df)
    return _apply_comp_df(df, comp_df, keep)


def apply_and_step(df: DataFrame, units: list[Unit], keep: str) -> DataFrame:
    """AND step (no predicates): co-cluster on the full per-deduper
    component signature tuple (reference executor.py:161-170)."""
    sig_cols: list[Column] = []
    d = df
    for k, unit in enumerate(units):
        name = f"{TMP_PREFIX}sig{k}"
        spec = unit.spec
        spec.validate(unit.columns)
        if isinstance(spec, BucketDeduper):
            # groupBy + null-safe join, not a window: an all-equal hot key
            # (e.g. "na"-coalesced nulls) would ship every row to ONE window
            # task; the aggregate partial-combines map-side and the join is
            # AQE-skew-splittable (same form as _rewrite_over_partition).
            key = spec.key_column(d, unit.columns, unit.preprocessors)
            kname = name + "_k"
            d = d.withColumn(kname, key)
            reps = d.groupBy(F.col(kname).alias(kname + "_r")).agg(
                F.min(ROW_ID).alias(name)
            )
            d = d.join(
                reps, F.col(kname).eqNullSafe(F.col(kname + "_r"))
            ).drop(kname, kname + "_r")
        else:
            comp_df = components_for(unit, d).withColumnRenamed("node", ROW_ID)
            comp_df = comp_df.withColumnRenamed("comp", name)
            d = d.join(comp_df, ROW_ID, "left").withColumn(
                name, F.coalesce(F.col(name), F.col(ROW_ID))
            )
        sig_cols.append(F.col(name))
    d = _rewrite_over_partition(d, sig_cols, keep)
    return d.drop(*[f"{TMP_PREFIX}sig{k}" for k in range(len(units))])


def apply_predicated_step(df: DataFrame, units: list[Unit], keep: str) -> DataFrame:
    """Rule-predication step (reference executor.py:103-135). ``units``
    must already be predicate-first ordered (pipelines.py:471)."""
    indices: DataFrame | None = None  # None == empty set == full scope

    def scope_of() -> DataFrame:
        if indices is None:
            return df
        return df.join(indices, ROW_ID, "semi")

    last = len(units) - 1
    final_comp: DataFrame | None = None
    for k, unit in enumerate(units):
        spec = unit.spec
        spec.validate(unit.columns)
        scope = scope_of()
        if isinstance(spec, PredicateSpec):
            mask = F.coalesce(spec.mask_column(scope, unit.columns, unit.preprocessors), F.lit(False))
            from liken_spark.operators.cc import scoped_persist_count

            # one driver action: the pinning count IS the ≤1-match probe
            matched, cnt = scoped_persist_count(scope.where(mask).select(ROW_ID))
            if k == last:
                stats = matched.agg(F.min(ROW_ID).alias("mn"))
                final_comp = matched.crossJoin(F.broadcast(stats)).select(
                    F.col(ROW_ID).alias("node"), F.col("mn").alias("comp")
                )
            # only multi-member match sets feed the subset (executor.py:122-125)
            if cnt > 1:
                indices = matched if indices is None else indices.union(matched).distinct()
        elif k == last:
            final_comp = components_for(unit, scope)
        # non-final threshold dedupers inside a predicated step cannot
        # influence the outcome (only the last deduper's components are
        # canonicalized, executor.py:135) — the reference still runs them;
        # we skip the dead work.
    assert final_comp is not None
    return _apply_comp_df(df, final_comp, keep)


def run_steps(df: DataFrame, steps: list[list[Unit]], keep: str) -> DataFrame:
    for k, step in enumerate(steps):
        has_predicate = any(isinstance(u.spec, PredicateSpec) for u in step)
        if len(step) == 1:
            df = apply_unit(df, step[0], keep)
        elif has_predicate:
            df = apply_predicated_step(df, step, keep)
        else:
            df = apply_and_step(df, step, keep)
        if k < len(steps) - 1:
            # truncate the plan between steps: the canonical rewrite branches
            # its input (aggregate + join probe), so an unchecked chain would
            # re-evaluate every prior step 2x per following step. The frame
            # here is the narrow (row_id, canonical, keys) projection, so the
            # checkpoint footprint is small relative to the payload.
            df = df.localCheckpoint(eager=False)
    return df


# ---------------------------------------------------------------------------
# materializers


def drop_duplicates_by_canonical(df: DataFrame, keep: str) -> DataFrame:
    """Keep the first/last row (by row order) per canonical_id
    (reference liken.py:133-181 / backends drop_duplicates).

    Physical form: groupBy(canonical).agg(min_by/max_by(struct(*))), not a
    window — one giant dup cluster (the common case in web-scale dedup)
    would land in a single window task, while the aggregate keeps one
    struct per group map-side and combines."""
    pick = F.min_by if keep == "first" else F.max_by
    cols = df.columns
    s = TMP_PREFIX + "s"
    out = df.groupBy(F.col(CANONICAL_ID).alias(TMP_PREFIX + "g")).agg(
        pick(F.struct(*[F.col(c) for c in cols]), F.col(ROW_ID)).alias(s)
    )
    return out.select(*[F.col(s)[c].alias(c) for c in cols])


def synthesize_records(df: DataFrame) -> DataFrame:
    """Golden record per canonical_id: first non-null value per column in
    row order, ordered by canonical_id — the reference's already-idiomatic
    Spark path (backends/pyspark/wrapper.py:204-220), made deterministic
    with min_by over the explicit row id instead of F.first."""
    value_cols = [c for c in df.columns if c not in (CANONICAL_ID, ROW_ID)]
    aggs = [
        F.min_by(F.col(c), F.when(F.col(c).isNotNull(), F.col(ROW_ID))).alias(c)
        for c in value_cols
    ]
    return df.groupBy(CANONICAL_ID).agg(*aggs).orderBy(CANONICAL_ID)


def canonical_counts(df: DataFrame, n: int = 2) -> DataFrame:
    """groupBy canonical_id counts with count >= n (reference
    liken.py:251-287 collects to a dict; we return the DataFrame and let
    the API layer collect)."""
    if n < 2:
        raise ValueError("n must be >= 2")
    return (
        df.groupBy(CANONICAL_ID)
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= n)
    )
