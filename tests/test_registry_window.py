"""Gate-window rotation guard (VERDICT r9 ask #8).

The driver's correctness gate only hashes the first 50 entries of
``__spark_entry__.queries()`` each round, so a registry row the window
never reaches keeps a stale (or no) driver verdict forever.
``tools/gen_provenance.py`` now emits the mechanical "stalest 50"
proposal; this test audits the live dynamic ordering against it so rotation
can't silently drift:

- every query with NO driver verdict at all must be in the window —
  or, when MORE than 50 queries are pending (possible when a round's
  driver verify did not record a CORRECTNESS file while authoring
  continued), every window slot must at least be spent on a pending or
  rows-only query, never wasted re-checking a hash-verdicted one;
- every ORACLED query whose only driver verdict is rows-only must be in
  the window (its hash has never been gate-checked);
- at least 40 of the stalest-50 must be in the window (the remaining
  slots are for deliberate additions: queries authored this round, or a
  targeted refresh the round's VERDICT asked for).

No SparkSession needed — this is pure registry + JSON-record logic.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from gen_provenance import collect, stalest_window  # noqa: E402

from pyspark_excel_datasource_spark.plans.registry import (  # noqa: E402
    ORACLES,
    load_all_queries,
)

WINDOW_SIZE = 50


def _window() -> list[str]:
    return list(load_all_queries())[:WINDOW_SIZE]


def test_window_contains_every_never_verdicted_query():
    queries = load_all_queries()
    best = collect()
    window = _window()
    pending = [n for n in queries if n not in best]
    if len(pending) <= WINDOW_SIZE:
        missing = [n for n in pending if n not in set(window)]
        assert not missing, (
            f"never-driver-verdicted queries outside the gate window: {missing}"
        )
    else:
        # more pending than slots: full coverage is impossible this
        # round, so the invariant degrades to "no slot wasted" — every
        # window entry is either pending or an oracled rows-only
        # refresh; the overflow drains over subsequent rotations
        # a slot is wasted only on a query that already carries a
        # driver HASH verdict; rows-only records (oracled or native)
        # are legitimate refresh targets
        wasted = [
            n for n in window if best.get(n, ("", ""))[0] == "driver hash"
        ]
        assert not wasted, (
            f"{len(pending)} queries pending but window slots are spent "
            f"on already-hash-verdicted queries: {wasted}"
        )


def test_window_contains_every_rows_only_oracled_query():
    queries = load_all_queries()
    best = collect()
    window = set(_window())
    unhashed = [
        n
        for n in queries
        if n in ORACLES and n in best and best[n][0] == "driver rows-only"
    ]
    missing = [n for n in unhashed if n not in window]
    assert not missing, f"oracled-but-never-hash-checked queries outside the window: {missing}"


def test_window_mostly_matches_stalest_50():
    queries = load_all_queries()
    best = collect()
    window = set(_window())

    def cls(name: str) -> int:
        if name not in best:
            return 0
        kind, _rnd = best[name]
        # anything short of a driver HASH verdict (rows-only on oracled
        # OR native queries, error records) is a legitimate refresh
        # target — the same notion as the no-wasted-slot rule above
        return 2 if kind == "driver hash" else 1

    n_maximally_stale = sum(1 for n in queries if cls(n) <= 1)
    if n_maximally_stale > WINDOW_SIZE:
        # more maximally-stale queries (pending / unhashed-oracled)
        # than slots: the stalest-50 tiebreak among them is alphabetical
        # (no staleness information), so ANY window drawn entirely from
        # that pool is an equally valid stalest-50 — require exactly
        # that instead of overlap with the arbitrary subset
        outside = [n for n in window if cls(n) > 1]
        assert not outside, (
            f"{n_maximally_stale} maximally-stale queries but the window "
            f"spends slots on fresher ones: {outside}"
        )
    else:
        stalest = stalest_window(queries, best, n=WINDOW_SIZE)
        overlap = sum(1 for n in stalest if n in window)
        assert overlap >= 40, (
            f"gate window shares only {overlap}/50 slots with the "
            f"stalest-50 proposal; rotation has drifted from staleness. "
            f"Stalest entries missing: {[n for n in stalest if n not in window]}"
        )


def test_future_driver_drop_rotates_window():
    """The r10 lesson, pinned forever: when a (synthetic) future
    CORRECTNESS drop hash-verdicts the pinned names, they must dissolve
    out of the window head automatically and the stalest greens take
    their slots — a driver doing its job can never redden the suite."""
    from pyspark_excel_datasource_spark.plans.registry import (
        _PIN,
        driver_verdicts,
        gate_order,
    )

    queries = load_all_queries()
    best_now = driver_verdicts()
    order_now = gate_order(queries, best_now)
    # today: every pin lacking a hash verdict leads, in pin order
    expected_head = [
        n for n in _PIN if best_now.get(n, ("", 0))[0] != "driver hash"
    ]
    assert order_now[: len(expected_head)] == expected_head

    # simulate the next driver drop: everything in today's window goes
    # hash-green at round 99
    best_next = dict(best_now)
    for n in order_now[:50]:
        best_next[n] = ("driver hash", 99)
    order_next = gate_order(queries, best_next)
    window_next = set(order_next[:50])
    # no freshly-verdicted pin occupies a window slot anymore...
    assert not (set(expected_head) & window_next)
    # ...and the window is exactly the 50 stalest of the new state
    from pyspark_excel_datasource_spark.plans.registry import stalest_order

    assert order_next[:50] == stalest_order(queries, best_next)[:50]


def test_rows_only_verdict_on_oracled_query_stays_maximally_stale():
    """An oracled query whose only driver verdict is rows-only has never
    had its hash checked — it must outrank ANY hash-verdicted query in
    the rotation regardless of round recency."""
    from pyspark_excel_datasource_spark.plans.registry import (
        ORACLES,
        stalest_order,
    )

    queries = load_all_queries()
    names = list(queries)[:60]
    oracled = [n for n in names if n in ORACLES]
    assert len(oracled) >= 2
    best = {n: ("driver hash", 3) for n in names}
    best[oracled[0]] = ("driver rows-only", 98)  # recent but unhashed
    order = stalest_order(names, best)
    assert order[0] == oracled[0]
