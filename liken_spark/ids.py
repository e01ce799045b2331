"""Row ids and canonical-id initialization.

The reference engine's data model makes row *position* load-bearing: the
union-find runs over 0-based positions and keep="first"/"last" picks
min/max position (reference: core/deduper.py:119-143). Its pyspark backend
materializes a global index via ``rdd.zipWithIndex`` (a pickled-Row round
trip, backends/pyspark/wrapper.py:121-127).

Here we materialize the same 0-based contiguous global index without leaving
the DataFrame world: one tiny aggregation to learn per-partition counts, then
an Arrow-batched ``mapInPandas`` pass that adds ``offset[pid] + local_pos``.
Two scans, no single-partition window, no Python-per-row cost — this scales
to arbitrarily many partitions. At 10^12-row scale users should instead pass
a pre-existing unique ``id`` column (see ``init_canonical``), in which case
row order is only consulted for keep semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType
from pyspark.storagelevel import StorageLevel

from liken_spark.constants import CANONICAL_ID, ROW_ID, TMP_PREFIX

_MID = TMP_PREFIX + "mid"
_PID = TMP_PREFIX + "pid"


def with_row_id(df: DataFrame, col_name: str = ROW_ID, materialize: bool = True) -> DataFrame:
    """Attach a deterministic, contiguous, 0-based global row index.

    Pure-expression construction — NO Python UDF, NO shuffle, and column
    pruning survives (a narrow projection of the result never touches wide
    payload columns):

    - ``monotonically_increasing_id`` encodes (partition_id << 33) + local
      position, so ``mid - (pid << 33)`` is the 0-based position within
      the partition;
    - one tiny aggregate learns per-partition counts, whose running sum
      gives each partition's global offset;
    - row_id = offset[pid] + local position.

    With ``materialize=True`` (default) the frame is persisted
    (memory-and-disk) and materialized by the count pass, freezing the
    nondeterministic mid/pid values so every downstream subquery observes
    identical row ids even over nondeterministically-ordered inputs
    (post-shuffle frames). For FILE-BACKED sources (parquet/Iceberg scans —
    deterministic splits and row order) pass ``materialize=False``: no
    cache, and narrow projections of the result keep full column pruning
    (a dedup over a table with huge payload columns then only ever scans
    the text column). Ordering matches partition order — the reference's
    zipWithIndex notion (backends/pyspark/wrapper.py:121). At 10^12-row
    scale prefer a source key via ``id=`` (SURVEY.md §7.3).
    """
    if col_name in df.columns:
        return df

    base = df.withColumn(_MID, F.monotonically_increasing_id()).withColumn(
        _PID, F.spark_partition_id()
    )
    if materialize:
        base = freeze_ids(df, base)
    counts = base.groupBy(_PID).count().collect()

    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r[_PID]):
        offsets[row[_PID]] = acc
        acc += row["count"]

    local_pos = F.col(_MID) - F.shiftleft(F.col(_PID).cast(LongType()), 33)
    n_parts = (max(offsets) + 1) if offsets else 0
    if n_parts <= 4096:
        offset_arr = F.array(*[F.lit(int(offsets.get(p, 0))) for p in range(n_parts)])
        offset_expr = F.element_at(offset_arr, F.col(_PID) + 1)
        out = base.withColumn(col_name, (offset_expr + local_pos).cast(LongType()))
    else:  # huge partition counts: broadcast-join the offset table
        spark = df.sparkSession
        omap = spark.createDataFrame(
            [(p, o) for p, o in offsets.items()], f"{_PID} int, {TMP_PREFIX}off long"
        )
        out = base.join(F.broadcast(omap), _PID).withColumn(
            col_name, (F.col(TMP_PREFIX + "off") + local_pos).cast(LongType())
        ).drop(TMP_PREFIX + "off")
    out = out.drop(_MID, _PID)
    # the per-partition count pass already learned the total row count —
    # stash it so callers (e.g. the canonicalize broadcast gate) can skip
    # a dedicated counting job. Advisory: does not survive transformations.
    out._liken_row_count = acc
    return out


def freeze_ids(src: DataFrame, stamped: DataFrame) -> DataFrame:
    """Persist ``stamped`` (``src`` plus partition/position-derived id
    columns) so every consumer observes the same ids.

    An input persisted WITH a disk tier already freezes its partition
    layout (its blocks are written once and never evicted; the ids are pure
    functions of the cached partitions), so a second cache on top would
    only re-store the same rows — ``stamped`` is returned as is. A
    memory-only cache can evict blocks, and a recomputed nondeterministic
    source may reorder rows, so it still gets its own persist."""
    if src.is_cached and src.storageLevel.useDisk:
        return stamped
    return stamped.persist(StorageLevel.MEMORY_AND_DISK)


def init_canonical(df: DataFrame, id: str | None) -> DataFrame:
    """Create/seed the ``canonical_id`` column.

    Reproduces the 4-way decision tree of the reference
    (core/wrapper.py:137-153, golden-tested in
    tests/integration/test_matrix_id.py:19-152):

    - pre-existing canonical_id, id=None        -> use as-is
    - pre-existing, id == "canonical_id"        -> use as-is
    - pre-existing, id = other column           -> overwrite from that column
    - absent, id = column name                  -> copy that column's values
    - absent, id=None                           -> autoincrement 0..n-1 (long)

    Requires ``ROW_ID`` to be present (autoincrement mode reuses it, which is
    exactly the reference's "0-based row position" semantics).
    """
    has_canonical = CANONICAL_ID in df.columns
    if has_canonical:
        if id and id != CANONICAL_ID:
            return df.withColumn(CANONICAL_ID, F.col(id))
        return df
    if id:
        return df.withColumn(CANONICAL_ID, F.col(id))
    return df.withColumn(CANONICAL_ID, F.col(ROW_ID).cast(LongType()))
