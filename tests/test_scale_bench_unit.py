"""Unit guards for scale_bench.py (the measurement harness itself).

The bench runs out-of-band (round-close, SCALE_BENCH.json artifact);
these tests pin the pieces that silently rot: the exponent fit math and
the replica key map's coverage of the fixture schema.
"""

from __future__ import annotations

import math

from scale_bench import (
    FIXTURE_ARM,
    REPLICA_ARM,
    SHIFT_COLS,
    fit_exponent,
    replica_suffix,
)


def test_fit_exponent_recovers_known_slopes():
    scales = [1.0, 2.0, 5.0]
    for e in (0.5, 1.0, 1.5, 2.0):
        times = [0.7 * s**e for s in scales]
        got = fit_exponent(scales, times)
        assert got is not None and abs(got - e) < 1e-6, (e, got)


def test_fit_exponent_flat_is_zero():
    got = fit_exponent([1.0, 10.0, 100.0], [0.3, 0.3, 0.3])
    assert got is not None and abs(got) < 1e-9


def test_fit_exponent_overhead_biases_down_never_up():
    """A fixed overhead must shrink the fitted slope (conservative for
    super-linearity flags), never inflate it."""
    scales = [1.0, 2.0, 5.0]
    pure = [0.5 * s for s in scales]
    with_overhead = [2.0 + t for t in pure]
    assert fit_exponent(scales, with_overhead) < fit_exponent(scales, pure)


def test_shift_cols_cover_fixture_tables():
    """Every fixture table must have a replica rule, and shifted columns
    must look like key columns (id/key suffixed) — a schema change that
    adds an unshifted FK would silently break replica disjointness."""
    expected = {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert set(SHIFT_COLS) == expected
    for table, cols in SHIFT_COLS.items():
        for c in cols:
            assert c.endswith(("key", "_id", "id")), (table, c)


def test_arm_membership_disjoint_on_content_ops():
    """Content-coupled dedup/similarity operators must NOT be in the
    replica arm (verbatim copies plant quadratic cross-replica
    near-dups); q84b is the one deliberate overlap (volume-linearity
    probe, justified in SCALE.md)."""
    content_prefixes = ("q72", "q74", "qp5", "qc39")
    for name in REPLICA_ARM:
        assert not name.startswith(content_prefixes), name
    assert "q84b_triangle_count" in FIXTURE_ARM
    assert "q84b_triangle_count" in REPLICA_ARM


def test_exponent_fit_handles_zero_time():
    assert fit_exponent([1.0, 2.0], [0.0, 0.0]) is not None or True
    # clamped at 1e-3 internally — must not raise
    math.isfinite(fit_exponent([1.0, 2.0], [0.0, 1.0]))


def test_round9_heavies_in_replica_arm():
    for name in (
        "q28d_countmin_sketch",
        "q22b_percentile_within_group",
        "ml34_bootstrap_auc_ci",
        "q65b_asof_tolerance",
    ):
        assert name in REPLICA_ARM, name


def test_arm_record_insufficient_calm_policy():
    """Round-9 verdict item #1 + round-10 advice #1: a super-linear
    flag is downgraded to insufficient_calm only when the flag VANISHES
    on the clean points alone — a flag the clean subset still raises is
    driven by clean evidence and must stand even if an unrelated point
    was contaminated.  An unflagged curve never carries the marker."""
    from scale_bench import arm_record, fitted_curve_flag

    # flag driven by the contaminated extreme -> downgraded
    rec = arm_record(
        [1.0, 2.0], [1.0, 5.0], [2.0, 11.0], [False, True], 2.3, True,
        flag_fn=fitted_curve_flag,
    )
    assert rec["flag"] is False and rec["insufficient_calm"] is True
    # all points clean -> flag stands
    rec = arm_record(
        [1.0, 2.0], [1.0, 5.0], [2.0, 3.0], [False, False], 2.3, True,
        flag_fn=fitted_curve_flag,
    )
    assert rec["flag"] is True and "insufficient_calm" not in rec
    # unflagged curve never carries the marker
    rec = arm_record(
        [1.0, 2.0], [1.0, 2.0], [9.0, 9.0], [True, True], 1.0, False,
        flag_fn=fitted_curve_flag,
    )
    assert rec["flag"] is False and "insufficient_calm" not in rec


def test_arm_record_clean_driven_flag_survives_contamination():
    """Round-10 advice #1 regression: a genuinely super-linear curve on
    CLEAN extremes (x1 clean 1 s -> x5 clean 30 s, e >> 1.25) must stay
    flagged even when an unrelated mid-curve point (x2) was measured
    under contamination — the old any(contaminated) rule excused it."""
    from scale_bench import arm_record, fitted_curve_flag, weak_spread_flag

    rec = arm_record(
        [1.0, 2.0, 5.0], [1.0, 9.9, 30.0], [2.0, 11.0, 2.0],
        [False, True, False], 2.1, True, flag_fn=fitted_curve_flag,
    )
    assert rec["flag"] is True
    assert rec["flag_on_clean_points_only"] is True
    assert "insufficient_calm" not in rec

    # same shape for the weak-scale spread rule: clean min and clean
    # max spread >1.6x, one contaminated middle point
    rec = arm_record(
        [1.0, 2.0, 5.0], [5.0, 40.0, 9.0], [2.0, 15.0, 3.0],
        [False, True, False], None, True, flag_fn=weak_spread_flag,
    )
    assert rec["flag"] is True and "insufficient_calm" not in rec
    # ...but when the spread-defining MAX is the contaminated point,
    # the clean subset is flat -> insufficient_calm
    rec = arm_record(
        [1.0, 2.0, 5.0], [5.0, 40.0, 5.5], [2.0, 15.0, 3.0],
        [False, True, False], None, True, flag_fn=weak_spread_flag,
    )
    assert rec["flag"] is False and rec["insufficient_calm"] is True


def test_measure_point_single_reading_is_not_blown_twice(monkeypatch):
    """Round-10 advice #4: when the retry is skipped because the wait
    budget is exhausted (calm entry, budget 0), a single trend-blowing
    reading must NOT mark the point contaminated — the documented
    policy requires two calm-window measurements to both exceed the
    trend."""
    import scale_bench as sb

    monkeypatch.setattr(sb, "_WAIT_BUDGET_S", [0.0])
    # calm entry (below CALM_LOAD1), hot exit, reading 10x the trend
    loads = iter([3.0, 20.0])
    monkeypatch.setattr(sb.os, "getloadavg", lambda: (next(loads), 0, 0))
    t, load_start, contaminated = sb.measure_point(
        lambda: 10.0, trend_hint=1.0
    )
    assert t == 10.0
    assert contaminated is False  # one reading, no second calm window


def test_measure_point_two_blown_calm_windows_is_contaminated(monkeypatch):
    """The two-window policy's positive case: calm entries on BOTH
    windows, both readings blow the trend, hot exits -> contaminated."""
    import scale_bench as sb

    monkeypatch.setattr(sb, "_WAIT_BUDGET_S", [1500.0])
    # entry1, exit1, entry2 (wait_for_calm), exit2 — all via getloadavg
    loads = iter([3.0, 20.0, 3.0, 20.0])
    monkeypatch.setattr(sb.os, "getloadavg", lambda: (next(loads), 0, 0))
    t, load_start, contaminated = sb.measure_point(
        lambda: 10.0, trend_hint=1.0
    )
    assert t == 10.0
    assert contaminated is True


def test_round10_new_heavies_in_arms():
    """q28e/ml49 are volume-coupled (full-data shard rank, GK
    approxQuantile pass) -> replica arm; q84l's wedge cost tracks
    co-purchase graph density (content) -> fixture arm, never replica
    (verbatim copies would plant cross-replica shared contexts)."""
    for name in ("q28e_mergeable_quantile_digest", "ml49_quantile_discretizer"):
        assert name in REPLICA_ARM, name
        assert name not in FIXTURE_ARM, name
    assert "q84l_distributional_similarity" in FIXTURE_ARM
    assert "q84l_distributional_similarity" not in REPLICA_ARM


def test_replica_tokens_never_collide():
    """Content replicas stay lexically disjoint: no suffixed token equals
    a base token or another replica's token, even for alphanumeric base
    tokens that end like a suffix ("ar1" = "a" + "r1" without the
    separator)."""
    base = {"a", "ar1", "ar11", "a1", "row", "spark"}
    seen = set(base)
    for r in range(1, 13):
        tokens = {t + replica_suffix(r) for t in base}
        assert not tokens & seen, (r, sorted(tokens & seen))
        seen |= tokens
