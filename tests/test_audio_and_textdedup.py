"""Layer-2 tests: synthetic audio table shape/determinism, PCM/mu-law
decode SNR invariant (>= 30 dB + transcript equality, per BASELINE.json
input_hint), planted-cluster recall of the dedup pipeline, and the
substring/simhash operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import liken_spark as lk
from liken_spark.constants import CANONICAL_ID
from liken_spark.sources import audio

N_CLIPS = 60  # 12 planted groups of 5


@pytest.fixture(scope="module")
def clips(spark):
    df = audio.synth_audio_table(spark, N_CLIPS, seed=42).persist()
    df.count()
    return df


def test_schema_and_determinism(spark, clips):
    assert [f.name for f in clips.schema.fields] == [
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
    ]
    assert clips.count() == N_CLIPS
    # regeneration is bit-identical (no wall clock, no global RNG state)
    again = audio.synth_audio_table(spark, N_CLIPS, seed=42)
    a = {r["clip_id"]: (bytes(r["bytes"]), r["transcript"]) for r in clips.collect()}
    b = {r["clip_id"]: (bytes(r["bytes"]), r["transcript"]) for r in again.collect()}
    assert a == b


def test_audio_invariant(clips):
    """decoded-PCM SNR >= 30 dB allclose + transcript equality, per row."""
    res = audio.audio_invariant(clips, seed=42).collect()
    assert len(res) == N_CLIPS
    assert all(r["audio_ok"] for r in res)
    assert all(r["transcript_ok"] for r in res)
    # PCM16 rows should be near-lossless, mu-law rows lossy-but-over-30
    snrs = [r["snr_db"] for r in res]
    assert min(snrs) >= 30.0


def test_codec_roundtrip_units():
    pcm = audio.synth_pcm(42, 7, 16000, 500)
    dec_wav = audio.decode_clip(audio.encode_clip(pcm, "pcm_s16le", 16000), "pcm_s16le")
    assert audio.snr_db(pcm, dec_wav) > 80
    dec_mu = audio.decode_clip(audio.encode_clip(pcm, "mulaw", 16000), "mulaw")
    assert 30 < audio.snr_db(pcm, dec_mu) < 80


def _recall(df_canon, truth_df):
    """dup-pair recall: fraction of planted same-cluster pairs that the
    engine also co-clustered."""
    joined = (
        df_canon.select("clip_id", CANONICAL_ID)
        .join(truth_df, "clip_id")
        .select("clip_id", CANONICAL_ID, "true_cluster")
        .collect()
    )
    by_truth: dict = {}
    canon = {}
    for r in joined:
        by_truth.setdefault(r["true_cluster"], []).append(r["clip_id"])
        canon[r["clip_id"]] = r[CANONICAL_ID]
    total = hit = 0
    for members in by_truth.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                total += 1
                hit += canon[members[i]] == canon[members[j]]
    return hit / max(total, 1)


def test_planted_recall_full_pipeline(spark, clips):
    """exact + minhash-lsh + substring pipeline recovers >= 0.99 of planted
    dup pairs — the north-rule recall target at small scale."""
    pipe = (
        lk.pipeline()
        .step(lk.col("transcript").exact())
        .step(lk.col("transcript").lsh(threshold=0.7, ngram=3, num_perm=128))
        .step(lk.col("transcript").substring(min_len=30))
    )
    out = lk.dedupe(clips).apply(pipe).canonicalize().collect()
    truth = audio.truth_clusters(spark, N_CLIPS)
    assert _recall(out, truth) >= 0.99


def test_substring_operator(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog in the morning sun"),
        (1, "prefix words the quick brown fox jumps over the lazy dog in the morning sun and more"),
        (2, "a completely different sentence that shares nothing with others"),
        (3, "short text"),
    ]
    df = spark.createDataFrame(rows, "uid long, text string")
    out = lk.dedupe(df).apply({"text": lk.substring(min_len=30)}).canonicalize().collect()
    canon = [r[CANONICAL_ID] for r in out.collect()]
    assert canon == [0, 0, 2, 3]


@pytest.mark.parametrize("winnow", [8, None])
def test_substring_pairs_unique_when_haystack_repeats_needle(spark, winnow):
    """A haystack holding the needle's window several times still yields
    the (needle, haystack) pair exactly once: each needle emits one key and
    each haystack's keys are distinct, so no dedup pass is needed."""
    from liken_spark.ids import with_row_id
    from liken_spark.operators import cc as cc_mod
    from liken_spark.operators.textdedup import SubstringSpec

    needle = "the quick brown fox jumps over the lazy dog"
    rows = [(needle,), (" | ".join([needle] * 4),), ("nothing in common with the other rows at all",)]
    d = with_row_id(spark.createDataFrame(rows, "t string"))
    try:
        got = [(r["src"], r["dst"]) for r in SubstringSpec(30, winnow=winnow).gen_pairs(d, "t", []).collect()]
    finally:
        cc_mod.release_scoped_persists()
    assert got == [(0, 1)]


def test_simhash_operator(spark):
    # simhash bit flips scale with the *fraction* of tokens changed, so use
    # a long document with one edited token
    from liken_spark.sources.audio import VOCAB

    base = " ".join(VOCAB)  # 216 tokens
    toks = base.split()
    toks[100] = "zzzz"
    near = " ".join(toks)
    rows = [(0, base), (1, base), (2, near), (3, "totally unrelated words here xyz")]
    df = spark.createDataFrame(rows, "uid long, text string")
    out = lk.dedupe(df).apply({"text": lk.simhash(hamming=7, bands=8)}).canonicalize().collect()
    canon = [r[CANONICAL_ID] for r in out.collect()]
    assert canon[0] == canon[1] == 0
    assert canon[2] == 0  # near-dup within hamming budget
    assert canon[3] == 3
