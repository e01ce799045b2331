"""jobs.dedup_corpus: a golden canonical-map digest and a Spark-job budget.

The digests were recorded with the earlier implementation (contiguous row
ids, a separate exact pass, per-pass pins), so they also prove that the
single-pin rewrite reproduces its canonical map bit for bit — at 1 and 7
input partitions and with row ids both recomputed per scan and frozen by a
persist.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from liken_spark.jobs import dedup_corpus
from liken_spark.sources.audio import synth_audio_table

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


@pytest.mark.parametrize("variant", list(GOLDEN))
def test_dedup_corpus_golden_digest(spark, variant):
    for partitions in (1, 7):
        for deterministic_source in (True, False):
            out = dedup_corpus(
                _table(spark, variant, partitions), deterministic_source=deterministic_source
            )
            assert _digest(out) == GOLDEN[variant], (partitions, deterministic_source)


def test_dedup_corpus_job_budget(spark):
    """One call plus its noop write runs in at most 20 Spark jobs: one pin
    aggregate, the pair/CC plan, and the broadcast join-back."""
    df = synth_audio_table(spark, N_CLIPS, 1, with_audio=False).persist()
    df.count()
    sc = spark.sparkContext
    group = "dedup_corpus_job_budget"
    sc.setJobGroup(group, "one dedup_corpus call and its write")
    try:
        dedup_corpus(df).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        df.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 20, len(jobs)
