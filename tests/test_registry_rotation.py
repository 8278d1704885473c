"""Structural enforcement of the registry rotation policy.

The round driver verifies only the first ~WINDOW oracle-checkable
registry entries, so a query's official correctness row goes stale
unless the ordering rotates it back into the window every few rounds.
That rotation was maintained by hand through round 4 and went stale
twice; this test makes it a build failure instead: it replays the
recorded driver rounds (CORRECTNESS_r*.json), simulates the NEXT
round over the current registry ordering, and fails if any query
would end the round with a row more than MAX_STALE rounds old (or no
row at all while sitting outside the window).
"""

from __future__ import annotations

from pathlib import Path

from gh_archive_clickhouse_spark.plans.registry import (
    QUERIES,
    WINDOW,
    recorded_rounds,
)

REPO = Path(__file__).resolve().parent.parent
# A green row may be at most this many rounds old after the simulated
# round completes (window capacity 50/round over ~120 queries makes a
# ≤2-round guarantee achievable for every query).
MAX_STALE = 2


def _recorded_rounds() -> dict[int, set[str]]:
    # The registry's own artifact parser — the simulation must audit
    # the freshness map the shipped head was actually computed from,
    # never a second parse that could drift.
    return recorded_rounds(REPO)


def test_no_query_exceeds_staleness_budget():
    rounds = _recorded_rounds()
    assert rounds, "no CORRECTNESS_r*.json recorded yet"
    freshest: dict[str, int] = {}
    for r in sorted(rounds):
        for n in rounds[r]:
            freshest[n] = r
    next_round = max(rounds) + 1
    window = list(QUERIES)[:WINDOW]
    for name in window:
        freshest[name] = next_round
    floor = next_round - MAX_STALE
    violations = sorted(
        f"{n} (freshest row r{freshest.get(n, 0) or 'NONE'})"
        for n in QUERIES
        if freshest.get(n, 0) < floor
    )
    assert not violations, (
        f"registry ordering leaves {len(violations)} queries with rows "
        f"older than {MAX_STALE} rounds after the next driver round — "
        f"rotate them into the first {WINDOW} entries: {violations}"
    )


def test_autorotation_keeps_budget_with_no_manual_edits():
    """The auto-computed head (plans/registry.compute_head) must keep
    every query within the staleness budget across FUTURE driver
    rounds with NO registry edits: round N+1 runs the real committed
    head, then each later round lands its artifact and recomputes the
    head with an empty changed list.  Also stressed with a changed
    list consuming the sustainable per-round slack — at N queries, a
    W-slot window and an S-round budget, each (S+1)-round cycle has
    (S+1)*W - N spare slots, so burning more than that many per cycle
    on already-fresh queries must eventually overflow (that bound is
    the real scoping rule for per-round changed+new work)."""
    from gh_archive_clickhouse_spark.plans.registry import (
        QUERIES as _Q,
        compute_head,
    )

    rounds = _recorded_rounds()
    assert rounds
    sustainable = ((MAX_STALE + 1) * WINDOW - len(_Q)) // (MAX_STALE + 1)
    # Round 8 spent the judge-directed new rows (qx62/qx63/qs14);
    # at 140 queries the registry is at 140/150 of the hard
    # (staleness*window) capacity and the per-round changed+new
    # budget is 3. The guard floor is 3: one more round of query
    # growth breaks sustainability — add queries ONLY on an explicit
    # judge ask, and retire one elsewhere if this trips.
    assert sustainable >= 3, (
        f"window slack exhausted: {len(_Q)} queries leave only "
        f"{sustainable} sustainable changed-list slots per round — "
        f"stop adding queries or widen the driver window"
    )
    for burn_slack in (0, sustainable):
        freshest: dict[str, int] = {}
        for r in sorted(rounds):
            for n in rounds[r]:
                freshest[n] = r
        cur = max(rounds)
        # Round N+1: the real committed ordering.
        for n in list(_Q)[:WINDOW]:
            freshest[n] = cur + 1
        # Rounds N+2..N+7: artifact lands, head recomputes untouched
        # (changed list = the `burn_slack` freshest queries, modeling
        # a round that touches code whose rows were just refreshed).
        for future in range(cur + 2, cur + 8):
            fresh_first = sorted(
                _Q, key=lambda n: -freshest.get(n, 0)
            )[:burn_slack]
            head = compute_head(tuple(fresh_first), freshest)
            for n in head:
                freshest[n] = future
            floor = future - MAX_STALE
            late = sorted(
                n for n in _Q if freshest.get(n, 0) < floor
            )
            assert not late, (
                f"auto-rotation (slack burn {burn_slack}) lets "
                f"{len(late)} queries exceed the budget by simulated "
                f"round {future}: {late[:5]}..."
            )


def test_changed_pins_expire_once_driver_verifies_them():
    """A _CHANGED pin exists because recorded rows predate the code
    change; it must expire per query as soon as a row from
    _CHANGED_ROUND or later lands (and not a round earlier), so a
    no-code round needs no registry edit and stale pins can't burn
    window slots forever."""
    from gh_archive_clickhouse_spark.plans.registry import (
        _CHANGED,
        _CHANGED_ROUND,
        active_changed,
    )

    # Synthetic names: active_changed is a pure ordering function, and
    # real _CHANGED lists can have a single entry (which would alias
    # the two-sided scenario).
    two = ("stale_row_q", "fresh_row_q")
    freshest = {two[0]: _CHANGED_ROUND - 1, two[1]: _CHANGED_ROUND}
    live = active_changed(two, _CHANGED_ROUND, freshest)
    assert two[0] in live, "row older than the change must keep the pin"
    assert two[1] not in live, "row at the change round must drop the pin"
    # Rows from LATER rounds expire too (artifact naming can skip
    # rounds if a driver round records nothing).
    assert active_changed(two[:1], _CHANGED_ROUND, {two[0]: _CHANGED_ROUND + 3}) == ()
    # Unrecorded queries (never verified) always stay pinned.
    assert active_changed(two[:1], _CHANGED_ROUND, {}) == two[:1]
    assert _CHANGED  # the head-leading check below relies on real names
    # As the repo sits (rows through _CHANGED_ROUND-1 at most for the
    # changed set), every pin must still be live and lead the window.
    rounds = _recorded_rounds()
    if max(rounds) < _CHANGED_ROUND:
        assert list(QUERIES)[: len(_CHANGED)] == list(_CHANGED)


def test_head_degrades_without_artifacts_and_caps_changed_list(tmp_path):
    """A package copy WITHOUT the repo-root artifacts (installed
    wheel, the zip shipped to executors) must still import: with no
    readable CORRECTNESS file every query is 'never verified', the
    capacity guard stays quiet, and only the ordering degrades.  A
    changed list longer than the window, by contrast, must raise —
    entries past the window would keep stale rows standing in for
    changed code."""
    import pytest

    from gh_archive_clickhouse_spark.plans.registry import (
        _CHANGED,
        compute_head,
        recorded_freshness,
    )

    assert recorded_freshness(tmp_path) == {}
    head = compute_head(_CHANGED, {})
    assert head[: len(_CHANGED)] == list(_CHANGED)
    assert len(head) == WINDOW
    overlong = tuple(list(QUERIES)[: WINDOW + 1])
    with pytest.raises(AssertionError, match="exceeds"):
        compute_head(overlong, recorded_freshness(REPO))


def test_compute_head_randomized_invariants():
    """Randomized freshness maps and changed lists: the head must
    always (1) be exactly WINDOW entries, (2) start with the deduped
    changed list, (3) contain every never-verified query (or raise
    the capacity guard), and (4) order the unpinned remainder
    stalest-first with declaration order breaking ties — for ANY
    artifact history, not just the committed one."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gh_archive_clickhouse_spark.plans.registry import (
        _DECLARED,
        compute_head,
    )

    names = list(_DECLARED)

    @given(
        freshest_rounds=st.lists(
            st.integers(min_value=0, max_value=9),
            min_size=len(names),
            max_size=len(names),
        ),
        changed_idx=st.lists(
            st.integers(min_value=0, max_value=len(names) - 1),
            max_size=12,
        ),
    )
    @settings(max_examples=50, deadline=None)
    def run(freshest_rounds, changed_idx):
        freshest = {
            n: r for n, r in zip(names, freshest_rounds) if r > 0
        }
        changed = tuple(names[i] for i in changed_idx)
        try:
            head = compute_head(changed, freshest)
        except AssertionError:
            # capacity guard: only legitimate when never-verified
            # queries genuinely outnumber the unpinned slots
            pinned = list(dict.fromkeys(changed))
            never = [n for n in names if freshest.get(n, 0) == 0]
            assert freshest and len(set(never) | set(pinned)) > WINDOW
            return
        pinned = list(dict.fromkeys(changed))
        assert head[: len(pinned)] == pinned
        assert len(head) == WINDOW
        assert len(set(head)) == WINDOW
        index = {n: i for i, n in enumerate(names)}
        rest = head[len(pinned):]
        keys = [(freshest.get(n, 0), index[n]) for n in rest]
        assert keys == sorted(keys)
        # stalest-first means nothing OUTSIDE the head is staler than
        # anything inside the unpinned tail
        outside = [n for n in names if n not in set(head)]
        if rest and outside:
            assert max(keys) <= min(
                (freshest.get(n, 0), index[n]) for n in outside
            )

    run()


def test_never_verified_queries_lead_the_window():
    """A query with NO driver row ever must sit inside the window —
    otherwise it ships a round late for no reason."""
    rounds = _recorded_rounds()
    seen = set().union(*rounds.values()) if rounds else set()
    window = set(list(QUERIES)[:WINDOW])
    missing = sorted(
        n for n in QUERIES if n not in seen and n not in window
    )
    assert not missing, (
        f"never-driver-verified queries outside the window: {missing}"
    )
