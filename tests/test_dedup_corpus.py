"""jobs.dedup_corpus: a golden canonical-map digest and a Spark-job budget,
in process and through checkpointed_dedup.

The digests were recorded with the earlier implementation (contiguous row
ids, a separate exact pass, per-pass pins), so they also prove that the
single-pin rewrite reproduces its canonical map bit for bit — at 1 and 7
input partitions, with row ids both recomputed per scan and frozen by a
persist, and with every stage checkpointed.
"""

from __future__ import annotations

import hashlib
import uuid

import pytest
from pyspark.sql import functions as F

from liken_spark.jobs import dedup_corpus
from liken_spark.sources.audio import synth_audio_table
from liken_spark.sources.checkpoint import StageCheckpointer, checkpointed_dedup

N_CLIPS = 300

# sha256(repr(sorted (clip_id, canonical_id) pairs))[:16]
GOLDEN = {
    1: "df58f2cd27c1e84b",
    2: "0d011fc3d5977f89",
    3: "a68e24cfc9f02298",
    "edge": "6d51a6d5d30d85d1",
}


def _table(spark, variant, partitions: int):
    """Seeded transcript-only clips; ``"edge"`` is seed 1 with every 23rd
    transcript null, "" or shorter than the shingle width."""
    seed = 1 if variant == "edge" else variant
    df = synth_audio_table(spark, N_CLIPS, seed, partitions=partitions, with_audio=False)
    if variant == "edge":
        k = F.substring("clip_id", 5, 12).cast("long") % 23
        df = df.withColumn(
            "transcript",
            F.when(k == 0, F.lit(None).cast("string"))
            .when(k == 1, F.lit(""))
            .when(k == 2, F.lit("ab"))
            .otherwise(F.col("transcript")),
        )
    return df


def _digest(out) -> str:
    rows = sorted(
        (r["clip_id"], r["canonical_id"]) for r in out.select("clip_id", "canonical_id").collect()
    )
    assert len(rows) == N_CLIPS
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


@pytest.mark.parametrize(
    "variant,checkpointed",
    [pytest.param(v, False, id=str(v)) for v in GOLDEN]
    + [pytest.param(v, True, id=f"checkpointed-{v}") for v in GOLDEN],
)
def test_dedup_corpus_golden_digest(spark, tmp_path, variant, checkpointed):
    for partitions in (1, 7):
        if checkpointed:
            ckpt = StageCheckpointer(str(tmp_path), uuid.uuid4().hex)
            out = checkpointed_dedup(spark, _table(spark, variant, partitions), ckpt)
            assert _digest(out) == GOLDEN[variant], partitions
            continue
        for deterministic_source in (True, False):
            out = dedup_corpus(
                _table(spark, variant, partitions), deterministic_source=deterministic_source
            )
            assert _digest(out) == GOLDEN[variant], (partitions, deterministic_source)


def _count_jobs(spark, run) -> int:
    """Spark jobs submitted by ``run()`` over a cached 300-clip input."""
    df = synth_audio_table(spark, N_CLIPS, 1, with_audio=False).persist()
    df.count()
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "one dedup call and its write")
    try:
        run(df).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        df.unpersist()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_corpus_job_budget(spark):
    """One call plus its noop write runs in at most 20 Spark jobs: one pin
    aggregate, the pair/CC plan, and the broadcast join-back."""
    jobs = _count_jobs(spark, dedup_corpus)
    assert 0 < jobs <= 20, jobs


def test_checkpointed_dedup_job_budget(spark, tmp_path):
    """checkpointed_dedup adds only the five stage writes, read-backs and
    manifests to the same pass, with one stats aggregate per stage: one
    call plus its noop write runs in at most 41 Spark jobs."""
    ckpt = StageCheckpointer(str(tmp_path), uuid.uuid4().hex)
    jobs = _count_jobs(spark, lambda df: checkpointed_dedup(spark, df, ckpt))
    assert 0 < jobs <= 41, jobs
