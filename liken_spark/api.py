"""Public entry point: ``dedupe(df).apply(...).canonicalize(...)``.

API-compatible with the reference's ``Dedupe`` class (liken.py:33-357),
restricted to the PySpark backend — but with *global* clustering semantics
at any partition count (the whole point of this engine; the reference's
Spark backend links per-partition only, backends/pyspark/executor.py:59-69).

The unwrapped output preserves the input row order (the reference contract)
by sorting on the internal row id; at cluster scale that final sort is the
only cosmetic cost, and ``collect_ordered=False`` elides it.
"""

from __future__ import annotations

from typing import Hashable

from pyspark.sql import DataFrame, SparkSession, functions as F

from liken_spark.constants import CANONICAL_ID, ROW_ID
from liken_spark.ids import init_canonical, with_row_id
from liken_spark.operators.base import BucketDeduper, PairsDeduper
from liken_spark.operators.dedupers import exact
from liken_spark.operators.executor import (
    canonical_counts,
    drop_duplicates_by_canonical,
    run_steps,
    synthesize_records,
)
from liken_spark.plans.pipeline import (
    CollectionsManager,
    validate_columns,
    validate_keep,
)
from liken_spark.session import fits_broadcast, spread_to_cores


class Dedupe:
    def __init__(
        self,
        df: DataFrame,
        /,
        *,
        spark_session: SparkSession | None = None,
        collect_ordered: bool = True,
        deterministic_source: bool = False,
    ):
        if not isinstance(df, DataFrame):
            raise ValueError(
                f"Invalid arg: df must be a pyspark.sql.DataFrame, got {type(df).__name__}"
            )
        self._df = df
        self._collection = CollectionsManager()
        self.has_been_canonicalized = False
        # deterministic_source=True (file/Iceberg-backed input with stable
        # splits): row ids are pure expressions over the scan and nothing is
        # persisted, so narrow projections prune payload columns at the
        # parquet scan (the jobs.dedup_corpus behavior). Default False is
        # safe for arbitrary in-memory/shuffled inputs (ids are frozen by a
        # persist).
        self._deterministic_source = deterministic_source
        # collect_ordered=False is the scale path: skips the global
        # input-order sort of the output (a full-data sort at 100x scale
        # purely to restore cosmetic row order) and force-broadcasts the
        # canonical map so the wide payload never shuffles (the
        # jobs.dedup_corpus behavior) when it fits session.fits_broadcast:
        # canonical_id can be a wide string column (id=...), so the gate
        # is estimated bytes, not rows.
        self._collect_ordered = collect_ordered

    # -- collection management -------------------------------------------
    def apply(self, deduper) -> "Dedupe":
        self._collection.apply(deduper)
        return self

    def explain(self) -> str | None:
        return self._collection.pretty()

    # -- execution --------------------------------------------------------
    def _execute(
        self,
        columns,
        keep: str,
        drop_duplicates: bool,
        drop_canonical_id: bool,
        id: str | None,
    ) -> DataFrame:
        keep = validate_keep(keep)
        columns = validate_columns(columns, self._collection.is_sequential_applied)
        if not self._collection.has_applies:
            self._collection.apply(exact())
        steps = self._collection.compile(columns)

        full = with_row_id(self._df, materialize=not self._deterministic_source)
        # captured before init_canonical wraps the frame (advisory attr)
        n_input_rows = getattr(full, "_liken_row_count", None)
        full = init_canonical(full, id)

        # Single bucket-deduper fast path: rewrite the canonical id on the
        # full frame directly (one groupBy on the pruned key columns + one
        # join back, with the reps side planner-broadcast when it fits).
        # The generic path would build a (row_id, canonical) map and join
        # it back by row_id — a second join plus, on the unordered path, a
        # broadcast of ONE ROW PER INPUT ROW; the reps frame here is one
        # row per DISTINCT KEY, always <= that. Same output, shorter plan.
        if (
            len(steps) == 1
            and len(steps[0]) == 1
            and isinstance(steps[0][0].spec, BucketDeduper)
            and not drop_duplicates
        ):
            from liken_spark.operators.executor import apply_unit

            out = apply_unit(full, steps[0][0], keep)
            if self._collect_ordered:
                out = out.orderBy(ROW_ID)
            out = out.drop(ROW_ID)
            if drop_canonical_id:
                out = out.drop(CANONICAL_ID)
            else:
                # canonical_id last, matching the generic join-back layout
                others = [c for c in out.columns if c != CANONICAL_ID]
                out = out.select(*others, CANONICAL_ID)
            self._collection.reset()
            from liken_spark.operators.cc import release_scoped_persists

            release_scoped_persists()
            return out

        # Dedup on a NARROW projection: only ROW_ID + canonical + the
        # columns any deduper touches. Wide payloads (e.g. binary audio
        # bytes) are never shuffled through the canonicalize windows/joins —
        # they rejoin exactly once at the end. At 100TB this is the
        # difference between shuffling kilobyte payloads per row per step
        # and shuffling two longs.
        needed: list[str] = []
        for step in steps:
            for unit in step:
                cols = [unit.columns] if isinstance(unit.columns, str) else list(unit.columns)
                cols += unit.spec.extra_columns()
                for c in cols:
                    if c not in needed and c in full.columns:
                        needed.append(c)
        narrow = full.select(ROW_ID, CANONICAL_ID, *needed)
        # Similarity passes do their heavy per-row work (signature UDFs,
        # window hashing, gram explodes) BEFORE any exchange, so spread the
        # narrow frame first; bucket/predicate-only plans skip it because
        # their first exchange (the groupBy) redistributes anyway.
        if any(isinstance(u.spec, PairsDeduper) for step in steps for u in step):
            narrow = spread_to_cores(narrow)
        narrow = run_steps(narrow, steps, keep)
        if drop_duplicates:
            narrow = drop_duplicates_by_canonical(narrow, keep)
        canon_map = narrow.select(ROW_ID, CANONICAL_ID)

        if not self._collect_ordered:
            # scale path: broadcast the (row_id, canonical) map when it
            # fits, so the payload never shuffles; skip the cosmetic
            # input-order sort entirely. The gate needs (row count, value
            # width): for a NUMERIC canonical column the width is fixed
            # (<= 8B) and the row count is already known from with_row_id's
            # partition-count pass — no job at all; the broadcast build is
            # the map's one execution. Only a string/complex canonical
            # needs the measured-width path (lazy checkpoint + one fused
            # stats job; octet_length, not length — broadcast cost is
            # bytes, and multibyte UTF-8 undercounts up to 4x by chars).
            from pyspark.sql.types import NumericType

            n_rows = n_input_rows
            canon_numeric = isinstance(
                canon_map.schema[CANONICAL_ID].dataType, NumericType
            )
            if canon_numeric and n_rows is not None:
                # n_rows can only overestimate (drop_duplicates shrinks the
                # map), so the gate errs toward NOT broadcasting — safe.
                if fits_broadcast(n_rows, 8):
                    canon_map = F.broadcast(canon_map)
            else:
                canon_map = canon_map.localCheckpoint(eager=False)
                stats = canon_map.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(
                        F.avg(F.octet_length(F.col(CANONICAL_ID).cast("string"))),
                        F.lit(0.0),
                    ).alias("w"),
                ).collect()[0]
                if fits_broadcast(int(stats["n"]), float(stats["w"])):
                    canon_map = F.broadcast(canon_map)
        df = full.drop(CANONICAL_ID).join(canon_map, ROW_ID)
        if drop_canonical_id:
            df = df.drop(CANONICAL_ID)
        if self._collect_ordered:
            # restore input row order (reference backends preserve it)
            df = df.orderBy(ROW_ID)
        df = df.drop(ROW_ID)
        self._collection.reset()
        # CC passes release the scoped persists they own; pipelines whose
        # last unit is a predicate/bucket deduper never reach a CC pass, so
        # release any leftovers here. The frames are tiny row-id lists; if
        # the (lazy) output plan still references one, it recomputes — a
        # bounded cost, vs. leaking the persist for the session lifetime.
        from liken_spark.operators.cc import release_scoped_persists

        release_scoped_persists()
        return df

    def drop_duplicates(self, columns=None, *, keep: str = "first") -> DataFrame:
        self._df = self._execute(
            columns, keep, drop_duplicates=True, drop_canonical_id=True, id=None
        )
        return self._df

    def canonicalize(
        self,
        columns=None,
        *,
        keep: str = "first",
        drop_duplicates: bool = False,
        id: str | None = None,
    ) -> "Dedupe":
        self._df = self._execute(
            columns, keep, drop_duplicates=drop_duplicates, drop_canonical_id=False, id=id
        )
        self.has_been_canonicalized = True
        return self

    # -- results ----------------------------------------------------------
    def collect(self) -> DataFrame:
        return self._df

    def canonicals(self, n: int = 2) -> dict[Hashable, int]:
        if n < 2:
            raise ValueError("n must be >= 2")
        if not self.has_been_canonicalized:
            raise RuntimeError("No canonical_id counts found. Run `.canonicalize()` first.")
        rows = canonical_counts(self._df, n).collect()
        return {r[CANONICAL_ID]: r["count"] for r in rows}

    def synthesize(self) -> DataFrame:
        if CANONICAL_ID not in self._df.columns:
            raise RuntimeError("Run `.canonicalize()` first.")
        df = with_row_id(self._df)
        return synthesize_records(df)


def dedupe(
    df: DataFrame,
    /,
    *,
    spark_session: SparkSession | None = None,
    collect_ordered: bool = True,
    deterministic_source: bool = False,
) -> Dedupe:
    return Dedupe(
        df,
        spark_session=spark_session,
        collect_ordered=collect_ordered,
        deterministic_source=deterministic_source,
    )
