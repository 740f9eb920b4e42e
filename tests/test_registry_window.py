"""The external driver's correctness gate checks only the FIRST 50 entries
of ``queries()`` (verified against CORRECTNESS_r03..r11: their keys were
exactly registry[:50]).  These tests pin the round-14 window composition:

* every registry query with NO past green driver CORRECTNESS row must be
  windowed (or carry an explicit exception naming a sibling that pins the
  same machinery);
* every windowed slot that *is* already green must be justified in RECHECK —
  a changed-since-green or stale-green rationale — so slots are spent
  deliberately, not by drift.

Structural de-fuse (VERDICT r6 item 1): ``_past_driver_green()`` reads ONLY
CORRECTNESS files from rounds strictly before ``WINDOW_ROUND``, so the
driver landing this round's (all-green) artifact cannot re-arm these tests
— the r5/r6 self-arming failure.  The simulation regression below runs
against a COPY of the artifacts in a temp directory (ADVICE r7: writing the
fake artifact into the live repo root risked leaving a forged driver file
behind on a hard kill).  Window rotation for r15 is a planning task (bump
WINDOW_ROUND, rewrite _DRIVER_WINDOW and RECHECK together; see
``scripts/check_parity.py --ages --before 15`` — the r11-green tier is
next, AND ts_rate_faithful / ts_rate_extrapolated MUST join the r15
window: they are the two r10-green rows displaced from r14 to make room
for promql_quantile_routed + maint_rollup_sql_door; their operators are
pinned in-window by the promql twins, but the wrappers' own gap becomes
5 rounds otherwise).
"""

from __future__ import annotations

import json
import os
import re

from cardinalsin_spark import queries as q

WINDOW = 50

# The round whose driver gate this window is aimed at.  _past_driver_green
# only reads CORRECTNESS files from rounds < WINDOW_ROUND, so the driver
# landing this round's artifact cannot re-arm these tests.
WINDOW_ROUND = 14

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _first_window() -> list[str]:
    return list(q.queries().keys())[:WINDOW]


def _past_driver_green(repo: str = _REPO) -> set[str]:
    """Names with a fully-green driver CORRECTNESS row in any round BEFORE
    the one this window targets (pinned — see module docstring)."""
    green: set[str] = set()
    for fname in sorted(os.listdir(repo)):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m or int(m.group(1)) >= WINDOW_ROUND:
            continue
        with open(os.path.join(repo, fname)) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                green.add(name)
    return green


# Queries deliberately left without driver coverage this round (window
# space): each must name the sibling — windowed or past-driver-green —
# that exercises the same machinery, and remains covered by the
# builder-side parity sweep.  Empty entering round 13.
WINDOW_EXCEPTIONS: dict[str, str] = {}


# Justification for every windowed slot that already has a green driver row.
# Keyed by query name → reason tag.  Reasons:
#   stale-r9-limit    — docs_containment: last green CORRECTNESS_r09,
#                       FIVE code rounds ago (the one row displaced from
#                       the r13 window) — at the 4-round rotation limit;
#                       VERDICT r13 item 1 names it the mandatory r14
#                       window leader.
#   stale-r10         — last green row is CORRECTNESS_r10, four code
#                       rounds ago; the oldest coverage tier entering
#                       round 14 (VERDICT r13 item 1 names this set;
#                       ts_rate_faithful / ts_rate_extrapolated are the
#                       two rows displaced — operators pinned in-window
#                       by promql_rate_faithful / promql_rate_extrapolated,
#                       which call the same timeseries functions through
#                       the transpiler — and must join the r15 window).
#   having-guard-r14  — maint_rollup_sql_door is r11-green, but the SQL
#                       HAVING route it proves gains the value-exactness
#                       manifest guard this round (VERDICT r13 item 3):
#                       the row that asserts routing still ENGAGES must
#                       be driver-checked while that gate churns.
RECHECK: dict[str, str] = {
    "docs_containment": "stale-r9-limit",
    "maint_rollup_sql_door": "having-guard-r14",
    "docs_clean_corpus": "stale-r10",
    "docs_contamination": "stale-r10",
    "docs_crossdup": "stale-r10",
    "docs_near_dedup_cc": "stale-r10",
    "docs_temperature_mixture": "stale-r10",
    "maint_downsample": "stale-r10",
    "media_audio_features": "stale-r10",
    "media_image_features": "stale-r10",
    "media_resize": "stale-r10",
    "promql_absent": "stale-r10",
    "promql_at_pinned": "stale-r10",
    "promql_at_start": "stale-r10",
    "promql_binary_ratio": "stale-r10",
    "promql_clamp": "stale-r10",
    "promql_cmp_vector": "stale-r10",
    "promql_count_values": "stale-r10",
    "promql_day_of_week": "stale-r10",
    "promql_delta_faithful": "stale-r10",
    "promql_histogram_quantile": "stale-r10",
    "promql_idelta": "stale-r10",
    "promql_instant_sum": "stale-r10",
    "promql_instant_topk": "stale-r10",
    "promql_irate_faithful": "stale-r10",
    "promql_label_replace": "stale-r10",
    "promql_mad_over_time": "stale-r10",
    "promql_offset_delta": "stale-r10",
    "promql_predict_linear": "stale-r10",
    "promql_quantile": "stale-r10",
    "promql_range_at_end": "stale-r10",
    "promql_range_sum_by": "stale-r10",
    "promql_rate_extrapolated": "stale-r10",
    "promql_rate_faithful": "stale-r10",
    "promql_rate_range": "stale-r10",
    "promql_resets": "stale-r10",
    "promql_scalar_fold": "stale-r10",
    "promql_set_or": "stale-r10",
    "promql_set_unless": "stale-r10",
    "promql_subquery_max_rate": "stale-r10",
    "tpch_q1": "stale-r10",
    "tpch_q13ish": "stale-r10",
    "tpch_q21ish": "stale-r10",
    "tpch_q9ish": "stale-r10",
    "ts_asof_join": "stale-r10",
    "ts_ewma": "stale-r10",
    "ts_irate_faithful": "stale-r10",
    "ts_moving_avg": "stale-r10",
    "ts_topk_by": "stale-r10",
}



def test_never_driver_checked_queries_are_windowed():
    """Every registry query must have driver coverage: a past green
    CORRECTNESS row, a slot in this round's window, or an explicit
    exception naming the sibling that pins its machinery."""
    window = set(_first_window())
    covered = window | _past_driver_green() | set(WINDOW_EXCEPTIONS)
    missing = [n for n in q.REGISTRY if n not in covered]
    assert not missing, f"queries with no driver coverage path: {missing}"
    for name, sibling in WINDOW_EXCEPTIONS.items():
        assert sibling in window or sibling in _past_driver_green(), (
            f"exception {name}: sibling {sibling} neither windowed nor green"
        )


def test_windowed_green_slots_are_justified():
    """A window slot spent on an already-green query must carry a RECHECK
    rationale; conversely RECHECK must not list unwindowed or stale names."""
    window = _first_window()
    green = _past_driver_green()
    unjustified = [n for n in window if n in green and n not in RECHECK]
    assert not unjustified, f"green window slots without rationale: {unjustified}"
    not_windowed = [n for n in RECHECK if n not in window]
    assert not_windowed == [], f"RECHECK entries not in window: {not_windowed}"


def test_past_green_ignores_current_round_artifact(tmp_path):
    """Regression guard for the r5/r6 self-arming failure: a CORRECTNESS
    file for WINDOW_ROUND (or later) must NOT influence the green set.
    The simulation runs against a tmp COPY of the repo's artifacts — never
    the live working tree (ADVICE r7: a hard kill mid-test must not leave
    a forged driver artifact behind)."""
    import shutil

    for fname in os.listdir(_REPO):
        if re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname):
            shutil.copy(os.path.join(_REPO, fname), tmp_path / fname)
    before = _past_driver_green(str(tmp_path))
    assert before == _past_driver_green()  # the copy is faithful
    # Simulate the driver landing an all-green artifact for this round
    # (and a future one): the green set must not change.
    for rnd in (WINDOW_ROUND, WINDOW_ROUND + 1):
        fake = {
            name: {"rows_match": True, "schema_match": True, "hash_match": True}
            for name in q.REGISTRY
        }
        with open(tmp_path / f"CORRECTNESS_r{rnd:02d}.json", "w") as f:
            json.dump(fake, f)
    assert _past_driver_green(str(tmp_path)) == before


def test_window_entries_all_have_oracles():
    oracles = q.oracle_sql()
    missing = [n for n in _first_window() if n not in oracles]
    assert not missing, f"windowed queries without oracle SQL: {missing}"


def test_window_entries_have_list_free_schemas():
    """The driver's pandas canonicalizer crashes on array-typed output
    columns (r4's emb_centroids red row). Static guard: no windowed query
    may declare an array/map/struct column. Checked lazily — schemas via
    the sf0.001 fixtures without collecting."""
    import pytest

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("fixtures missing")
    from cardinalsin_spark.session import get_spark

    spark = get_spark()
    bad = []
    for name in _first_window():
        fn, _ = q.REGISTRY[name]
        df = fn(spark, sf_dir)
        for f_ in df.schema.fields:
            t = f_.dataType.simpleString()
            if t.startswith(("array", "map", "struct")):
                bad.append((name, f_.name, t))
    assert not bad, f"windowed queries with non-scalar columns: {bad}"


def test_registry_has_no_duplicates_and_all_callable():
    names = list(q.REGISTRY.keys())
    assert len(names) == len(set(names))
    for name, (fn, _) in q.REGISTRY.items():
        assert callable(fn), name


def test_bench_order_covers_registry():
    """Every registry query must run in bench (appended if not explicitly
    ordered), and BENCH_ORDER must not carry stale names."""
    import bench

    names = set(q.queries())
    seq = bench._bench_sequence(q.queries())
    assert set(seq) == names
    assert len(seq) == len(names)
    stale = [n for n in bench.BENCH_ORDER if n not in names]
    assert not stale, f"stale BENCH_ORDER entries: {stale}"


def test_bench_printed_key_set_is_fixed():
    """OPTIMIZATION r15 (VERDICT r14 item 6): the bench's printed
    per-query dict has a FIXED key set — the r14 anchor list — so two
    consecutive runs (and rounds) produce identical keys regardless of
    timing noise, the anchors are real registry queries, and the line
    stays inside the driver's stdout budget."""
    import json
    import random

    import bench

    names = set(q.queries())
    missing = [n for n in bench.BENCH_PRINT_ANCHORS if n not in names]
    assert not missing, f"anchor names not in registry: {missing}"
    assert len(set(bench.BENCH_PRINT_ANCHORS)) == len(bench.BENCH_PRINT_ANCHORS)

    r = random.Random(7)
    base = {n: 0.2 + 2.0 * r.random() for n in names}
    detail = {
        "metric": "total_query_sec", "value": 1.0, "unit": "sec",
        "sf": 0.1, "queries": base,
        "write_path": {"rows": 100000, "sec": 1.5,
                       "rows_per_sec": 66000.0, "granularity": "date"},
        "calibration": {"head_sec": 0.82, "drift": 0.99},
    }
    line1 = bench._compact_line(detail)
    jittered = dict(detail, queries={
        n: v * (0.5 + r.random()) for n, v in base.items()
    })
    line2 = bench._compact_line(jittered)
    k1, k2 = set(json.loads(line1)["queries"]), set(json.loads(line2)["queries"])
    assert k1 == k2 == set(bench.BENCH_PRINT_ANCHORS)
    assert len(line1) <= bench.OUTPUT_BUDGET
    assert len(line2) <= bench.OUTPUT_BUDGET


def test_bench_line_overflow_raises_instead_of_dropping_anchors():
    """ADVICE bench.py:430: a line over the stdout budget must fail
    loudly; trimming anchors would silently shrink the fixed key set."""
    import pytest

    import bench

    detail = {
        "metric": "total_query_sec", "value": 1.0, "unit": "sec", "sf": 0.1,
        "queries": {n: 1.0 for n in bench.BENCH_PRINT_ANCHORS},
        "write_path": {"rows": 1, "note": "x" * bench.OUTPUT_BUDGET},
        "calibration": {"head_sec": 0.82, "drift": 0.99},
    }
    with pytest.raises(ValueError, match="budget"):
        bench._compact_line(detail)


def test_registry_rotation_age_and_size():
    """VERDICT r13 item 7: the registry sits at the 4-round/50-slot cycle
    limit. Two invariants keep the rotation honest: (1) no row may be
    older than 4 rounds unless THIS window re-checks it — last green
    round >= WINDOW_ROUND - 4, or a slot in the current window; (2) the
    registry stays <= 205 rows so the cycle length never silently grows
    (new rows displace bench-tail slots, not extend the cycle)."""
    assert len(q.REGISTRY) <= 205, len(q.REGISTRY)
    last_green: dict[str, int] = {}
    for fname in sorted(os.listdir(_REPO)):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m or int(m.group(1)) >= WINDOW_ROUND:
            continue
        with open(os.path.join(_REPO, fname)) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                last_green[name] = max(last_green.get(name, 0), int(m.group(1)))
    window = set(_first_window())
    too_old = [
        (n, last_green.get(n))
        for n in q.REGISTRY
        if n not in window and last_green.get(n, WINDOW_ROUND) < WINDOW_ROUND - 4
    ]
    assert not too_old, f"rows past the 4-round rotation limit: {too_old}"
