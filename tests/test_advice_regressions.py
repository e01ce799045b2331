"""Regression tests for review findings: the row-id stabilizing persist
under a memory-only input cache, and lang_id's per-language counters."""

from __future__ import annotations

from pyspark.storagelevel import StorageLevel

from liken_spark.ids import with_row_id


def _cached_levels(df) -> str:
    return df._jdf.queryExecution().withCachedData().toString()


def test_row_id_persists_over_memory_only_cache(spark):
    """A MEMORY_ONLY input cache can evict and recompute blocks, so it does
    not freeze row ids: with_row_id still adds its own MEMORY_AND_DISK
    persist. A disk-backed input cache is reused as is."""
    mem = spark.range(50).persist(StorageLevel.MEMORY_ONLY)
    disk = spark.range(60).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        plan = _cached_levels(with_row_id(mem))
        assert "StorageLevel(disk, memory" in plan
        plan = _cached_levels(with_row_id(disk))
        assert plan.count("StorageLevel(") == 1
        assert sorted(r[0] for r in with_row_id(mem).select("__lk_row_id").collect()) == list(range(50))
    finally:
        mem.unpersist()
        disk.unpersist()


def test_lang_id_counts_every_configured_language(spark, monkeypatch):
    """The vote counters are sized by the language table, not a literal."""
    from liken_spark.functions import text as text_mod

    markers = dict(text_mod._LANG_MARKERS)
    markers["xx"] = ("zork", "blip")
    monkeypatch.setattr(text_mod, "_LANG_MARKERS", markers)
    df = spark.createDataFrame([("zork blip zork",), ("the cat and the dog",)], "t string")
    got = [r[0] for r in df.select(text_mod.lang_id(df["t"])).collect()]
    assert got == ["xx", "en"]
