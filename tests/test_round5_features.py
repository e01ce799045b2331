"""Round-5 regressions: the SimHash collapse probe, the substring cap
observation, the tfidf self-row-free top-n, and dedup_corpus's exact class."""

from __future__ import annotations

import liken_spark as lk
from liken_spark.ids import with_row_id
from liken_spark.operators.cc import connected_components
from liken_spark.operators.dedupers import TfidfSpec
from liken_spark.operators.textdedup import SimHashSpec, SubstringSpec


def _comps(pairs_df, n_rows: int) -> dict[int, int]:
    """node -> component map with the self fallback for absent rows."""
    assign = {r["node"]: r["comp"] for r in connected_components(pairs_df).collect()}
    return {i: assign.get(i, i) for i in range(n_rows)}


def _mixed_corpus(spark, n_distinct: int = 40, n_dup: int = 3):
    rows = [
        (f"wholly distinct transcript number {i} with its own unrepeated tail {i * 7919}",)
        for i in range(n_distinct)
    ]
    rows += [("an identical duplicated transcript shared by a few rows",)] * n_dup
    return with_row_id(spark.createDataFrame(rows, "t string")), len(rows)


def test_simhash_collapse_paths_agree(spark):
    """collapse=True, collapse=False and the auto probe must produce the
    same connected components (the probe is a physical-plan choice only)."""
    d, n = _mixed_corpus(spark)
    d = d.persist()
    d.count()
    try:
        maps = [
            _comps(SimHashSpec(hamming=3, bands=4, collapse=c).gen_pairs(d, "t", []), n)
            for c in (True, False, None)
        ]
        assert maps[0] == maps[1] == maps[2]
        # the identical rows must be one cluster in every mode
        dup_ids = list(range(n - 3, n))
        assert len({maps[0][i] for i in dup_ids}) == 1
    finally:
        d.unpersist()


def test_simhash_probe_skips_collapse_on_distinct_corpus(spark):
    """A corpus of all-distinct signatures must take the skip path; a
    heavily duplicated one must collapse."""
    distinct_rows = [
        (f"wholly distinct transcript number {i} with its own unrepeated tail {i * 7919}",)
        for i in range(50)
    ]
    dup_rows = [("one single transcript repeated for every row of this corpus",)] * 50

    # the probe decision is visible in the scoped-persist registry: the
    # collapse path registers sig_groups on top of the signature frame
    # (2 scoped persists), the skip path registers only the signatures (1)
    probed = {}
    for name, rows in (("distinct", distinct_rows), ("dup", dup_rows)):
        d = with_row_id(spark.createDataFrame(rows, "t string"))
        from liken_spark.operators import cc as cc_mod

        before = len(cc_mod._SCOPED_PERSISTS)
        SimHashSpec(hamming=3, bands=4).gen_pairs(d, "t", [])
        probed[name] = len(cc_mod._SCOPED_PERSISTS) - before
        # release what this plan-build registered (no CC pass consumes it)
        cc_mod.release_scoped_persists()
    assert probed["distinct"] == 1  # skip path: only the signature frame
    assert probed["dup"] == 2  # collapse path: signatures + sig_groups


def test_simhash_skip_path_links_hot_identical_group_past_bucket_guard(spark):
    """In the skip path a hot identical-signature group larger than
    max_bucket_reps is dropped from cross-sig pairing (the explicit skew
    guard) but must STILL link internally via the linear star edges."""
    n = 12
    rows = [("the same hot transcript repeated many times over",)] * n
    d = with_row_id(spark.createDataFrame(rows, "t string"))
    pairs = SimHashSpec(hamming=3, bands=4, max_bucket_reps=4, collapse=False).gen_pairs(
        d, "t", []
    )
    comps = _comps(pairs, n)
    assert len(set(comps.values())) == 1


def test_substring_positional_third_arg_is_winnow():
    spec = SubstringSpec(40, None, 8)
    assert spec._winnow == 8
    assert spec._max_key_df == 10000


def test_substring_cap_observation_counts_dropped_keys(spark):
    """max_key_df firing must be observable (no-silent-caps): the
    Observation attached to the hot-keys frame reports how many window
    keys the anti-join removed, riding the consuming action for free."""
    hot = "a shared window of text that occurs in every single row here padded"
    rows = [(hot + f" tail {i}",) for i in range(8)]
    # plus a genuine containment pair on a NON-hot window, so the query
    # does not collapse to an empty relation (AQE empty propagation erases
    # the metrics node along with the rest of the plan — see
    # cap_fired_rows docstring)
    rows += [
        ("an entirely different unique sentence that is long enough to match",),
        ("prefix an entirely different unique sentence that is long enough to match suffix",),
    ]
    d = with_row_id(spark.createDataFrame(rows, "t string"))
    spec = SubstringSpec(min_len=30, winnow=None, max_key_df=3)
    pairs = spec.gen_pairs(d, "t", [])
    assert pairs.count() >= 1  # the action the observation rides
    assert spec.cap_fired_rows() > 0

    spec_cold = SubstringSpec(min_len=30, winnow=None, max_key_df=10000)
    pairs = spec_cold.gen_pairs(d, "t", [])
    pairs.count()
    assert spec_cold.cap_fired_rows() == 0

    spec_off = SubstringSpec(min_len=30, winnow=None, max_key_df=None)
    spec_off.gen_pairs(d, "t", []).count()
    assert spec_off.cap_fired_rows() is None


def test_tfidf_topn_without_self_rows_matches_reference_semantics(spark):
    """Three identical docs at topn=2: the third doc's self row is pushed
    out of the top-n by two exact-dup rows with lower j (ties break toward
    lower j), so it keeps BOTH candidates; the first doc's self row
    consumes a slot, so it keeps one. This is the k>=topn edge the
    self-row-free rank arithmetic must get right."""
    t = "abcdefghij distinctive content here"
    rows = [(t,), (t,), (t,), ("zzzz yyyy xxxx wwww",)]
    d = with_row_id(spark.createDataFrame(rows, "t string"))
    spec = TfidfSpec(threshold=0.3, ngram=3, topn=2)
    got = {(r["src"], r["dst"]) for r in spec.gen_pairs(d, "t", []).collect()}
    from liken_spark.operators import cc as cc_mod

    cc_mod.release_scoped_persists()
    assert got == {(0, 1), (1, 0), (2, 0), (2, 1)}


def test_dedup_corpus_exact_class_without_exact_pass(spark):
    """dedup_corpus has no exact pass: LSH alone (identical text, identical
    signature) must map a 6-copy exact class to its first member, whether
    row ids are recomputed per scan or frozen by a persist."""
    from liken_spark.jobs import dedup_corpus

    rows = [(f"clip{i}", f"some transcript body number {i} padded out for realism",) for i in range(40)]
    rows += [(f"dup{i}", "a repeated transcript shared by several clips in this corpus",) for i in range(6)]
    df = spark.createDataFrame(rows, "clip_id string, transcript string")

    for deterministic_source in (True, False):
        out = dedup_corpus(df, deterministic_source=deterministic_source)
        canon = {r["clip_id"]: r["canonical_id"] for r in out.collect()}
        assert {canon[f"dup{i}"] for i in range(6)} == {"dup0"}
