"""Kill-and-resume proof for the staged checkpoint pipeline: a second run
over the same checkpoint directory must NOT recompute completed stages —
shown by mutating the input between runs and observing that resumed output
still reflects the checkpointed (old) data. Also: manifest lineage/metrics,
params-fingerprint invalidation, a resume over a differently partitioned
input, repeated ids, and distinct stored LSH edges."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from liken_spark.sources import audio
from liken_spark.sources.checkpoint import StageCheckpointer, checkpointed_dedup


@pytest.fixture
def clips(spark):
    return audio.synth_audio_table(spark, 30, seed=42, with_audio=False)


def test_checkpoint_resume(spark, clips, tmp_path):
    base = str(tmp_path / "ckpt")
    ck1 = StageCheckpointer(base, "run1")
    out1 = checkpointed_dedup(spark, clips, ck1)
    # snapshot results now — the frame is backed by checkpoint files that
    # the simulated kill below rewrites
    r1 = {(r["clip_id"], r["canonical_id"]) for r in out1.collect()}
    assert len(r1) == 30
    assert all(not s["resumed"] for s in ck1.stages)

    # manifest: row counts + per-partition lineage + checksum present
    with open(os.path.join(base, "run1", "04_components", "_liken_manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["complete"] is True
    assert manifest["stats"]["row_count"] == sum(p["rows"] for p in manifest["partition_lineage"])
    assert isinstance(manifest["checksum"], list) and len(manifest["checksum"]) == 2

    # narrow-state invariant: no checkpoint carries the payload column
    for stage in os.listdir(os.path.join(base, "run1")):
        with open(os.path.join(base, "run1", stage, "_liken_manifest.json")) as f:
            fields = [fld["name"] for fld in json.load(f)["schema"]["fields"]]
        assert "bytes" not in fields, f"payload leaked into checkpoint {stage}"

    # simulate a kill after stage 03: delete the last two stage checkpoints
    import shutil

    for stage in ("04_components", "05_canonical_map"):
        shutil.rmtree(os.path.join(base, "run1", stage))

    # resume with DIFFERENT input data: stages 00-03 must come from the
    # checkpoint (old data), proving no recompute happened
    other = audio.synth_audio_table(spark, 30, seed=99, with_audio=False)
    ck2 = StageCheckpointer(base, "run1")
    out2 = checkpointed_dedup(spark, other, ck2)
    resumed = {s["stage"]: s["resumed"] for s in ck2.stages}
    assert resumed["00_ingest"]
    assert resumed["02_lsh_pairs"] and resumed["03_substring_pairs"]
    assert not resumed["04_components"] and not resumed["05_canonical_map"]

    # output identical to run1 (seed=42 world), NOT seed=99's clustering
    r2 = {(r["clip_id"], r["canonical_id"]) for r in out2.collect()}
    assert r1 == r2


def test_params_fingerprint_invalidates(spark, clips, tmp_path):
    base = str(tmp_path / "ckpt2")
    ck1 = StageCheckpointer(base, "runA")
    checkpointed_dedup(spark, clips, ck1, lsh_threshold=0.7)
    ck2 = StageCheckpointer(base, "runA")
    checkpointed_dedup(spark, clips, ck2, lsh_threshold=0.9)  # different config
    assert all(not s["resumed"] for s in ck2.stages)  # nothing reused


def test_recall_via_checkpointed_pipeline(spark, clips, tmp_path):
    ck = StageCheckpointer(str(tmp_path / "ckpt3"), "runR")
    out = checkpointed_dedup(spark, clips, ck)
    truth = audio.truth_clusters(spark, 30)
    joined = out.join(truth, "clip_id").collect()
    canon = {r["clip_id"]: r["canonical_id"] for r in joined}
    by_truth: dict = {}
    for r in joined:
        by_truth.setdefault(r["true_cluster"], []).append(r["clip_id"])
    total = hit = 0
    for members in by_truth.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                total += 1
                hit += canon[members[i]] == canon[members[j]]
    assert total > 0 and hit / total >= 0.99


def _canon_map(out) -> dict:
    rows = out.select("clip_id", "canonical_id").collect()
    return {r["clip_id"]: r["canonical_id"] for r in rows}


def test_resume_over_repartitioned_input(spark, tmp_path):
    """Run 1 reads the clips as 1 partition; the resume reads the same rows
    as 7, which stamps different row ids. The CC and canonical-map stages
    recompute from the checkpointed (run 1) row ids, so the join-back must
    go through the clip id, not the resumed run's row ids."""
    import shutil

    base = str(tmp_path / "ckpt")
    ck1 = StageCheckpointer(base, "run1")
    first = audio.synth_audio_table(spark, 300, 1, partitions=1, with_audio=False)
    m1 = _canon_map(checkpointed_dedup(spark, first, ck1))
    assert len(set(m1.values())) < len(m1)  # the seed plants duplicates
    for stage in ("04_components", "05_canonical_map"):
        shutil.rmtree(os.path.join(base, "run1", stage))

    ck2 = StageCheckpointer(base, "run1")
    again = audio.synth_audio_table(spark, 300, 1, partitions=7, with_audio=False)
    m2 = _canon_map(checkpointed_dedup(spark, again, ck2))
    resumed = {s["stage"]: s["resumed"] for s in ck2.stages}
    assert resumed["00_ingest"] and resumed["02_lsh_pairs"] and resumed["03_substring_pairs"]
    assert not resumed["04_components"] and not resumed["05_canonical_map"]
    assert m2 == m1


def test_repeated_ids_get_one_canonical(spark, tmp_path):
    """Five extra rows reuse existing clip ids with another clip's
    transcript, so each such id sits in two clusters: the output keeps
    every row and gives each id a single canonical."""
    clips = audio.synth_audio_table(spark, 300, 1, with_audio=False)
    donors = clips.where(F.col("clip_id").isin([f"clip{i:012d}" for i in range(100, 105)]))
    extra = donors.withColumn(
        "clip_id", F.format_string("clip%012d", F.substring("clip_id", 5, 12).cast("int") - 100)
    )
    ck = StageCheckpointer(str(tmp_path / "ckpt"), "dup")
    out = checkpointed_dedup(spark, clips.unionByName(extra), ck)
    rows = out.select("clip_id", "canonical_id").collect()
    assert len(rows) == 305
    per_id: dict = {}
    for r in rows:
        per_id.setdefault(r["clip_id"], set()).add(r["canonical_id"])
    assert len(per_id) == 300
    assert all(len(c) == 1 for c in per_id.values())


def test_lsh_pairs_stored_once(spark, clips, tmp_path):
    """A pair reached through several LSH bands is written to the
    02_lsh_pairs checkpoint once."""
    base = str(tmp_path / "ckpt")
    checkpointed_dedup(spark, clips, StageCheckpointer(base, "once"))
    lsh = spark.read.parquet(os.path.join(base, "once", "02_lsh_pairs", "data"))
    n = lsh.count()
    assert n > 0
    assert lsh.select("src", "dst").distinct().count() == n
