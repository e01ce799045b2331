"""The north-star job: full audio-corpus dedup as one staged Spark plan.

Unlike the reference-parity pipeline API (which *chains* dedupers,
rewriting canonical_id between steps — the reference's sequential
semantics, executor.py:89-101), this job unions the candidate pairs of two
passes (MinHash-LSH and suffix-window substring) and runs ONE
connected-components pass. That is both cheaper (one CC, one canonical
join, no intermediate windows) and transitively complete: a~b via LSH and
b~c via substring land in one cluster even when no single pass links them.

Exact duplicates need no pass of their own: identical text has an identical
MinHash signature, so it shares a bucket in every band, and LSH hashes null
as "" — the LSH pairs already link a superset of the exact pairs.

Physical shape: one narrow cached frame ``(row_id, id, text, band keys)``
is pinned by a single observed pass, which also returns the row counts and
the mean id width the gates need. Both pair passes read that cache with no
further pin, so every Spark job after the pin does pair, CC or join work.

With a ``StageCheckpointer`` every stage boundary is written, read back
and checksummed, so a killed run resumes from the last complete stage
(``sources.checkpoint.checkpointed_dedup`` is the entry point):

- ``00_ingest``: ``(row_id, id, text)``, before the bands and the pin;
- ``02_lsh_pairs``: distinct LSH ``(src, dst)`` edges;
- ``03_substring_pairs``: substring ``(src, dst)`` edges;
- ``04_components``: the CC ``(node, comp)`` assignment;
- ``05_canonical_map``: ``(id, canonical_id)`` for dup-cluster members.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Observation, functions as F

from liken_spark.constants import CANONICAL_ID, ROW_ID, TMP_PREFIX
from liken_spark.ids import freeze_ids
from liken_spark.operators.cc import connected_components
from liken_spark.operators.dedupers import LshSpec
from liken_spark.operators.textdedup import SubstringSpec
from liken_spark.session import fits_broadcast, spread_to_cores

if TYPE_CHECKING:
    from liken_spark.sources.checkpoint import StageCheckpointer

_BANDS = TMP_PREFIX + "bands"
_COMP = TMP_PREFIX + "comp"
_CANON = TMP_PREFIX + "canon"


def dedup_corpus(
    df: DataFrame,
    text_col: str = "transcript",
    id_col: str = "clip_id",
    lsh_threshold: float = 0.7,
    lsh_ngram: int = 3,
    num_perm: int = 128,
    substring_min_len: int = 30,
    deterministic_source: bool = True,
    ckpt: StageCheckpointer | None = None,
) -> DataFrame:
    """df + canonical_id (first-seen id per near-dup cluster). The payload
    columns never enter the pair/CC shuffles — only (row_id, id, text)
    does.

    Row ids are ``monotonically_increasing_id()``: strictly increasing in
    partition/position order, so each component's minimum is its
    first-seen row, as with a contiguous index, without a counting pass.
    ``deterministic_source=True`` (file/Iceberg-backed input, the
    north-star contract) recomputes them per scan: pair generation reads
    ONLY the pruned text and id columns, and the payload is scanned once,
    for the final canonical join. Pass False for arbitrarily-shuffled
    in-memory inputs: the id-stamped input is then frozen by
    ``ids.freeze_ids`` so every consumer sees the same ids.

    ``ckpt`` checkpoints every stage boundary (module docstring); the
    checkpoints are narrow, never the payload."""
    params = (
        f"lsh={lsh_threshold}/{lsh_ngram}/{num_perm};sub={substring_min_len};"
        f"text={text_col};id={id_col}"
    )

    def stage(name: str, frame: DataFrame) -> DataFrame:
        return frame if ckpt is None else ckpt.materialize(name, frame, params)

    base = df if ROW_ID in df.columns else df.withColumn(ROW_ID, F.monotonically_increasing_id())
    if not deterministic_source:
        base = freeze_ids(df, base)
    lsh = LshSpec(threshold=lsh_threshold, ngram=lsh_ngram, num_perm=num_perm)
    sub = SubstringSpec(min_len=substring_min_len)

    ingest = stage("00_ingest", base.select(ROW_ID, id_col, text_col))
    # the signature UDF runs before any exchange
    narrow = spread_to_cores(ingest)
    narrow = narrow.withColumn(_BANDS, lsh.bands_column(F.col(text_col))).persist()
    # The pin: the LSH and substring branches both read `narrow`, and AQE
    # runs their jobs concurrently — a not-yet-built cache is silently
    # recomputed per branch (see cc.scoped_persist). One observed noop
    # write builds the cache (MinHash UDF included) with a single consumer
    # and returns every statistic the later gates need — one job with no
    # exchange, where an aggregate needs a map stage plus a result stage.
    obs = Observation()
    narrow.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.length(text_col) >= substring_min_len, 1)).alias("n_sub"),
        # octet_length, not length: broadcast cost is bytes, and multibyte
        # UTF-8 ids undercount up to 4x by chars
        F.coalesce(F.avg(F.octet_length(F.col(id_col).cast("string"))), F.lit(0.0)).alias("w"),
    ).write.format("noop").mode("overwrite").save()
    stats = obs.get

    lsh_pairs = lsh.pairs_from_banded(
        narrow.select(ROW_ID, F.posexplode(_BANDS).alias("band", "key"))
    )
    if ckpt is not None:
        # a member reached through several bands repeats its star edge;
        # CC deduplicates edges anyway, so only a stored copy pays for the
        # extra exchange
        lsh_pairs = lsh_pairs.distinct()
    lsh_pairs = stage("02_lsh_pairs", lsh_pairs)
    sub_pairs = stage(
        "03_substring_pairs",
        sub.pairs_from(
            narrow.select(ROW_ID, F.col(text_col).alias("t")).where(
                F.length("t") >= substring_min_len
            ),
            int(stats["n_sub"]),
        ),
    )
    comps = stage("04_components", connected_components(lsh_pairs.union(sub_pairs)))

    # keep="first": canonical = id at the component's minimum row id, and
    # ``comp`` IS that minimum (cc contract) — so the (row_id, canonical)
    # remap covers dup-cluster members only; every other row keeps its own
    # id. Within the broadcast gate (estimated over ALL rows, an upper
    # bound on both the member list and the remap) both are broadcast: the
    # CC output carries no size statistics, and the wide payload never
    # shuffles. Above it the planner shuffles both sides once — the
    # unavoidable floor.
    small = fits_broadcast(stats["n"], stats["w"])
    members = comps.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias(ROW_ID), F.col("comp").alias(_COMP)
    )
    rep_vals = ingest.select(F.col(ROW_ID).alias(_COMP), F.col(id_col).alias(_CANON))
    remap = rep_vals.join(F.broadcast(members) if small else members, _COMP)
    if ckpt is None:
        out = base.join(F.broadcast(remap) if small else remap, ROW_ID, "left").withColumn(
            CANONICAL_ID,
            F.when(F.col(_COMP).isNull(), F.col(id_col)).otherwise(F.col(_CANON)),
        )
        narrow.unpersist()
        return out.drop(ROW_ID, _COMP, _CANON)

    # Checkpointed: the map is keyed on id_col, not row id. A resumed run
    # may split the input into other partitions, which stamps other row
    # ids, while every checkpoint holds the first run's — so the join-back
    # goes through the id. One deterministic min() per id also keeps an
    # input with repeated ids from multiplying rows.
    remap = stage(
        "05_canonical_map",
        remap.join(ingest.select(ROW_ID, id_col), ROW_ID)
        .groupBy(id_col)
        .agg(F.min(_CANON).alias(CANONICAL_ID)),
    )
    narrow.unpersist()
    return (
        df.drop(CANONICAL_ID)
        .join(remap.withColumnRenamed(CANONICAL_ID, _CANON), id_col, "left")
        .withColumn(CANONICAL_ID, F.coalesce(F.col(_CANON), F.col(id_col)))
        .drop(_CANON)
    )
