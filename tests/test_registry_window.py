"""The driver hard-checks only the first 50 registry entries (insertion
order) against its DuckDB oracle.  These invariants keep that window fully
checkable AND honestly rotated: every window slot must carry a SQL twin,
the current round's rotation slots must be queries that never had a
driver-green row before (so driver coverage grows monotonically instead of
re-showing known-green entries), every slot vacated by a rotation must
keep prior driver-GREEN evidence (actually-green rows, not mere name
presence — r6 ADVICE fix), and the registry must stay duplicate-free.

Round 8 (VERDICT r7 "Next round" #2): the pinned core shrank 30 → 10 and
the rotation doubled 20 → 40, so driver coverage grows twice as fast; the
21 vacated core slots are tracked in _CORE_VACATED_R8 and must each hold a
green row from r1–r7 (they hold seven).

Round 9 (VERDICT r8 "Next round" #1): _ROTATION_R9 rotates 40 more
never-driver-checked queries in (union 174 → ≥ 214); every _ROTATION_R8
slot it vacates is driver-green in CORRECTNESS_r08.json.

Round 10 (VERDICT r9 "Next round" #1): _ROTATION_R10 rotates 40 more in
(union 214 → ≥ 254) — the judge's seven named slate survivors plus the 33
oldest never-checked entries; every _ROTATION_R9 slot it vacates is
driver-green in CORRECTNESS_r09.json.

Round 11 (VERDICT r10 "Next round" #1 + #10): _ROTATION_R11 keeps the two
r10 slots whose array outputs crashed the driver's canonicalizer (their
twins now emit canonical strings) and rotates in 38 more never-checked
entries; every slate member passed the named form of tools/strict_sweep.py
(strict harness + driver-canon probe) at sf0.01 before entering the window."""

import json
import pathlib

from arrow_supercluster_spark.plans.registry import (
    _CORE_VACATED_R8,
    _ROTATION_R4,
    _ROTATION_R5,
    _ROTATION_R6,
    _ROTATION_R7,
    _ROTATION_R8,
    _ROTATION_R9,
    _ROTATION_R10,
    _ROTATION_R11,
    _WINDOW_CORE,
    REGISTRY,
)

# The two r10 window queries whose list-valued columns crashed the driver's
# pandas canonicalizer (CORRECTNESS_r10 err: "unhashable type: 'list'") —
# never green, re-slotted into _ROTATION_R11 with string-canonical twins.
_R10_CANON_CRASHES = {"q_label_centroids", "q_inverted_index"}

REPO = pathlib.Path(__file__).resolve().parent.parent


def _row_green(row: dict) -> bool:
    """The driver's green criterion: rows matched, no error, and the
    value hash matched whenever the driver computed one."""
    return bool(
        row.get("rows_match")
        and row.get("err") is None
        and row.get("hash_match") is not False
    )


def _driver_union(max_round: int) -> set:
    """Union of query names with a driver row in CORRECTNESS_r01..r{N}."""
    seen = set()
    for r in range(1, max_round + 1):
        p = REPO / f"CORRECTNESS_r{r:02d}.json"
        if p.exists():
            seen |= set(json.loads(p.read_text()))
    return seen


def _driver_green_union(max_round: int) -> set:
    """Union of query names with an actually-GREEN driver row in
    CORRECTNESS_r01..r{N} (r6 ADVICE: presence is not evidence)."""
    green = set()
    for r in range(1, max_round + 1):
        p = REPO / f"CORRECTNESS_r{r:02d}.json"
        if p.exists():
            for name, row in json.loads(p.read_text()).items():
                if _row_green(row):
                    green.add(name)
    return green


def test_first_50_all_sql_backed():
    window = list(REGISTRY)[:50]
    rows_only = [n for n in window if REGISTRY[n].sql is None]
    assert not rows_only, f"rows-only queries in the driver window: {rows_only}"


# Queries whose array-valued cells crash the driver's pandas `_canon` on
# both the Spark and the DuckDB side (tools/strict_sweep.py over every
# twin, VERIFY_FULL_r18.json); registry.py's _ROTATION_R11 note names them.
_DRIVER_CANON_FAILURES = {
    "q_embedding_quantize", "q_kmeans_step", "q_embedding_standardize",
    "q_regex_extract_all", "q_pq_encode",
}


def test_driver_canon_failures_stay_out_of_window():
    assert _DRIVER_CANON_FAILURES <= set(REGISTRY)
    assert not _DRIVER_CANON_FAILURES & set(list(REGISTRY)[:50])


def test_window_is_core_plus_rotation():
    assert len(_WINDOW_CORE) == 10
    assert len(_ROTATION_R11) == 40
    assert list(REGISTRY)[:50] == _WINDOW_CORE + _ROTATION_R11


def test_r4_rotation_was_never_checked_before_r4():
    """Historical invariant: the r4 rotation slots had no driver row in
    rounds 1-3 (driver coverage grew by exactly those 20 in r4)."""
    seen = _driver_union(3)
    already = [n for n in _ROTATION_R4 if n in seen]
    assert not already, f"r4 rotation slots wasted on already-checked: {already}"


def test_r5_rotation_was_never_checked_before_r5():
    seen = _driver_union(4)
    already = [n for n in _ROTATION_R5 if n in seen]
    assert not already, f"r5 rotation slots wasted on already-checked: {already}"


def test_r6_rotation_was_never_checked_before_r6():
    seen = _driver_union(5)
    already = [n for n in _ROTATION_R6 if n in seen]
    assert not already, f"r6 rotation slots wasted on already-checked: {already}"


def test_r7_rotation_was_never_checked_before_r7():
    seen = _driver_union(6)
    already = [n for n in _ROTATION_R7 if n in seen]
    assert not already, f"r7 rotation slots wasted on already-checked: {already}"


def test_r8_rotation_entries_never_driver_checked_before():
    seen = _driver_union(7)
    already = [n for n in _ROTATION_R8 if n in seen]
    assert not already, f"r8 rotation slots wasted on already-checked: {already}"


def test_r8_rotation_slots_disjoint_and_sql_backed():
    assert len(set(_ROTATION_R8)) == 40
    assert not set(_ROTATION_R8) & set(_WINDOW_CORE)
    assert not set(_ROTATION_R8) & set(_CORE_VACATED_R8)
    assert not set(_ROTATION_R8) & set(_ROTATION_R4)
    assert not set(_ROTATION_R8) & set(_ROTATION_R5)
    assert not set(_ROTATION_R8) & set(_ROTATION_R6)
    assert not set(_ROTATION_R8) & set(_ROTATION_R7)
    for n in _ROTATION_R8:
        assert REGISTRY[n].sql is not None, f"rows-only in rotation: {n}"


def test_r9_rotation_entries_never_driver_checked_before():
    seen = _driver_union(8)
    already = [n for n in _ROTATION_R9 if n in seen]
    assert not already, f"r9 rotation slots wasted on already-checked: {already}"


def test_r9_rotation_slots_disjoint_and_sql_backed():
    assert len(set(_ROTATION_R9)) == 40
    prior = (
        set(_WINDOW_CORE) | set(_CORE_VACATED_R8) | set(_ROTATION_R4)
        | set(_ROTATION_R5) | set(_ROTATION_R6) | set(_ROTATION_R7)
        | set(_ROTATION_R8)
    )
    assert not set(_ROTATION_R9) & prior
    for n in _ROTATION_R9:
        assert REGISTRY[n].sql is not None, f"rows-only in rotation: {n}"


def test_r10_rotation_entries_never_driver_checked_before():
    seen = _driver_union(9)
    already = [n for n in _ROTATION_R10 if n in seen]
    assert not already, f"r10 rotation slots wasted on already-checked: {already}"


def test_r10_rotation_slots_disjoint_and_sql_backed():
    assert len(set(_ROTATION_R10)) == 40
    prior = (
        set(_WINDOW_CORE) | set(_CORE_VACATED_R8) | set(_ROTATION_R4)
        | set(_ROTATION_R5) | set(_ROTATION_R6) | set(_ROTATION_R7)
        | set(_ROTATION_R8) | set(_ROTATION_R9)
    )
    assert not set(_ROTATION_R10) & prior
    for n in _ROTATION_R10:
        assert REGISTRY[n].sql is not None, f"rows-only in rotation: {n}"


def test_core_shrink_preserves_union_growth():
    """The r8 window converted exactly 40 never-checked queries (union
    134 → 174); the r9 rotation must keep growing it to ≥ 214."""
    seen7 = _driver_union(7)
    assert len(seen7) == 134, f"r1-r7 union drifted: {len(seen7)}"
    assert len(seen7 | set(_ROTATION_R8)) >= 174
    seen8 = _driver_union(8)
    assert len(seen8) == 174, f"r1-r8 union drifted: {len(seen8)}"
    assert len(seen8 | set(_ROTATION_R9)) >= 214
    seen9 = _driver_union(9)
    assert len(seen9) == 214, f"r1-r9 union drifted: {len(seen9)}"
    assert len(seen9 | set(_ROTATION_R10)) >= 254
    seen10 = _driver_union(10)
    assert len(seen10) == 254, f"r1-r10 union drifted: {len(seen10)}"
    # union of names with a driver row grows 254 → 292 (the two re-slotted
    # canon-crash queries already have r10 rows, just not green ones)
    assert len(seen10 | set(_ROTATION_R11)) >= 292


def test_r11_rotation_entries_never_driver_green_before():
    """r11 slots must be queries with no GREEN driver row yet (presence is
    not evidence): the two _R10_CANON_CRASHES re-enter deliberately — their
    r10 rows are comparator crashes, not certifications."""
    green = _driver_green_union(10)
    already = [n for n in _ROTATION_R11 if n in green]
    assert not already, f"r11 rotation slots wasted on already-green: {already}"


def test_r11_rotation_slots_disjoint_and_sql_backed():
    assert len(set(_ROTATION_R11)) == 40
    prior = (
        set(_WINDOW_CORE) | set(_CORE_VACATED_R8) | set(_ROTATION_R4)
        | set(_ROTATION_R5) | set(_ROTATION_R6) | set(_ROTATION_R7)
        | set(_ROTATION_R8) | set(_ROTATION_R9) | set(_ROTATION_R10)
    )
    # the only allowed overlap with prior windows is the two re-slotted
    # canon-crash queries (never green, so no evidence is re-shown)
    assert set(_ROTATION_R11) & prior == _R10_CANON_CRASHES
    for n in _ROTATION_R11:
        assert REGISTRY[n].sql is not None, f"rows-only in rotation: {n}"


def test_vacated_slots_all_have_prior_driver_green_rows():
    """Dropping a query from the window must not destroy evidence: every
    previously-windowed query that is no longer in the first 50 needs an
    actually-GREEN driver row (rows_match, hash when computed, no err) in
    some past round's record — not just a row by name (r6 ADVICE fix of
    the prior tautological form).  Includes the 21 core slots vacated by
    the round-8 core shrink."""
    green = _driver_green_union(10)
    window = set(list(REGISTRY)[:50])
    prior_windows = (
        set(_WINDOW_CORE)
        | set(_CORE_VACATED_R8)
        | set(_ROTATION_R4)
        | set(_ROTATION_R5)
        | set(_ROTATION_R6)
        | set(_ROTATION_R7)
        | set(_ROTATION_R8)
        | set(_ROTATION_R9)
        | set(_ROTATION_R10)
    )
    # 4 early-window rows-only slots (r1/r2 insertion-order windows)
    # were never green by design and were rotated out in r3; they are
    # covered by portable-hash siblings (COVERAGE.md) and tracked there.
    legacy_rows_only = {
        "q_dedup_minhash", "q_dedup_simhash", "q_cosine_topk_lsh",
        "q_doc_stats",
    }
    vacated = prior_windows - window - legacy_rows_only
    missing = sorted(n for n in vacated if n not in green)
    assert not missing, (
        f"vacated window slots with no driver-GREEN row: {missing}"
    )


def test_every_correctness_record_window_was_green():
    """Every recorded driver window row in r3+ must be green — a red row
    in any shipped CORRECTNESS record would mean a round regressed and
    the rotation carried on anyway.  Known exception: the two r10 rows
    where the driver's canonicalizer crashed on list cells before any
    comparison ran (VERDICT r10 #1) — fixed by string-canonical twins and
    re-slotted into _ROTATION_R11, and the driver-canon probe in
    tests/oracle_harness.py now catches the class pre-rotation."""
    known = {10: _R10_CANON_CRASHES}
    for r in range(3, 11):
        p = REPO / f"CORRECTNESS_r{r:02d}.json"
        if not p.exists():
            continue
        bad = [
            n for n, row in json.loads(p.read_text()).items()
            if not _row_green(row) and n not in known.get(r, set())
        ]
        assert not bad, f"non-green rows in round {r}: {bad}"


def test_registry_size_and_uniqueness():
    names = list(REGISTRY)
    assert len(names) == len(set(names))
    assert len(names) >= 313


def test_readme_query_count_matches_registry():
    """Doc-count drift guard (VERDICT r4 'What's wrong' #3): the README's
    claimed registry size must equal the loaded registry."""
    import re

    readme = (REPO / "README.md").read_text()
    m = re.search(r"registry\*\.py\s+(\d+) queries", readme)
    assert m, "README no longer states the registry query count"
    assert int(m.group(1)) == len(REGISTRY)
