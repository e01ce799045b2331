"""Structured-Streaming incremental dedup (stateful keep="first" online,
resumable via checkpointLocation)."""

from __future__ import annotations

from liken_spark.streaming.incremental import streaming_canonicalize


def _run_batch(spark, src_dir, ckpt_dir, out_dir):
    # parquet sink: supports checkpoint recovery (memory sink does not)
    stream = spark.readStream.schema("k string, uid string").parquet(src_dir)
    q = (
        streaming_canonicalize(stream, "k", "uid")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r["key"], r["uid"]): r["canonical_id"]
        for r in spark.read.parquet(out_dir).collect()
    }


def test_streaming_canonicalize_resumes_state(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", "u1"), ("a", "u2"), ("b", "u3")], "k string, uid string"
    ).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    got1 = _run_batch(spark, src, ckpt, out)
    assert got1[("a", "u1")] == "u1" and got1[("a", "u2")] == "u1"
    assert got1[("b", "u3")] == "u3"

    # second micro-run over NEW files only; state must survive the restart:
    # key "a" still canonicalizes to first-ever-seen u1
    spark.createDataFrame(
        [("a", "u9"), ("c", "u4")], "k string, uid string"
    ).write.mode("append").parquet(src)
    got2 = _run_batch(spark, src, ckpt, out)
    assert got2[("a", "u9")] == "u1"
    assert got2[("c", "u4")] == "u4"
