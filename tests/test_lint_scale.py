"""Static scale-hygiene checks over the engine source (not tests):

- no per-row ``iterrows`` in any kernel (Arrow batches must be consumed
  via ``.to_numpy()`` column access — iterrows materializes a Series per
  row and is the classic 10-100x pandas-UDF slowdown);
- no ``collect()`` loops in operator hot paths other than the documented
  driver-side aggregates (row-id offsets, CC convergence signature);
- one definition each of the repartition guard and the broadcast budget.
"""

from __future__ import annotations

from pathlib import Path

SRC = Path(__file__).resolve().parent.parent / "liken_spark"


def _sources() -> list[Path]:
    return sorted(SRC.rglob("*.py"))


def test_no_iterrows_in_engine():
    offenders = [
        str(p)
        for p in _sources()
        if ".iterrows(" in p.read_text(encoding="utf-8")
    ]
    assert offenders == [], f"iterrows found in engine source: {offenders}"


def test_no_toPandas_in_engine():
    # A driver-side toPandas is allowed ONLY on a line carrying an explicit
    # "bounded-collect:" pragma documenting the cardinality gate that bounds
    # it (e.g. cc.py's adaptive small-graph fast path, capped at
    # local_max_edges rows by the same-job signature count). Unmarked
    # toPandas = an undeclared full-materialization and fails here.
    offenders = [
        f"{p}:{i}"
        for p in _sources()
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if ".toPandas(" in line and "bounded-collect:" not in line
    ]
    assert offenders == [], f"driver-side toPandas found in engine source: {offenders}"


# The ONLY windows allowed in the engine are per-row-bounded top-n ranks:
# their partition key is one row's candidate list ("i" / "vec_id"), whose
# size is bounded by topn-candidate fan-in, never by user-key or canonical
# cluster cardinality. A window partitioned by a user key or canonical id
# ships an entire (possibly web-scale-hot) group into ONE task — the exact
# anti-pattern the round-3 de-windowing of drop_duplicates and the AND-step
# removed (groupBy+min_by/max_by+join instead). This lint fails if such a
# window is reintroduced.
_WINDOW_ALLOWLIST = {
    # (file name, partitionBy argument source text)
    ("operators/dedupers.py", '"i"'),      # tfidf per-row top-n
    ("operators/ann.py", '"vec_id"'),      # ANN per-row top-k (2 sites)
}


def test_windows_only_per_row_bounded():
    import re

    offenders = []
    for p in _sources():
        text = p.read_text(encoding="utf-8")
        rel = str(p.relative_to(SRC))
        for m in re.finditer(r"Window\.partitionBy\(([^)]*)\)", text):
            arg = m.group(1).strip()
            if (rel, arg) not in _WINDOW_ALLOWLIST:
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{rel}:{line} Window.partitionBy({arg})")
    assert offenders == [], (
        "non-allowlisted Window.partitionBy in engine source (hot-key "
        f"single-task risk — use groupBy+min_by/max_by+join): {offenders}"
    )


# One definition of each shared physical policy (both in session.py): the
# repartition guard (spread_to_cores) and the broadcast byte budget
# (fits_broadcast). A second copy of a policy drifts from the first.
def _occurrences(needle: str) -> list[str]:
    return [
        f"{p.relative_to(SRC)}:{i}"
        for p in _sources()
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if needle in line
    ]


def test_repartition_guard_defined_once():
    assert len(_occurrences("getNumPartitions() <")) == 1, _occurrences("getNumPartitions() <")


def test_broadcast_budget_defined_once():
    assert len(_occurrences("256 << 20")) == 1, _occurrences("256 << 20")
    assert _occurrences("broadcast_threshold") == []
