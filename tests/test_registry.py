"""Registration-order invariants for the driver correctness gate.

The external driver hash-compares only the first ``CHECK_WINDOW`` = 50
keys of ``ALL_QUERIES`` against their oracles; round 1 proved this the
hard way, when 16 late-registered extension queries got no driver row.
``check_order`` sorts the registry at import over the recorded
``CORRECTNESS_r*.json`` files: never checked or red at the latest row
first, then oldest latest recorded round, ties in registration order.
These tests pin that rule on synthetic records, bound how stale any
query's latest row may be (four recorded rounds: 200 names = 50 x 4),
and check that landing green records rotates the window through every
name with no list to edit in lockstep.
"""

from __future__ import annotations

from remap_spark.queries import (
    ALL_ORACLES,
    ALL_QUERIES,
    EXTENSION_IMPORT_ERRORS,
    check_order,
    correctness_records,
    is_green,
)

# how many leading keys of ALL_QUERIES the external driver checks
CHECK_WINDOW = 50
WINDOW = list(ALL_QUERIES)[:CHECK_WINDOW]

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {**GREEN, "hash_match": False}


def _stale(window: list[str], records: list[dict]) -> list[str]:
    """Registered queries outside ``window`` with no row in the last FOUR
    recorded correctness rounds (the driver writes a record when a
    round's verify step completes; round 5's never landed, so 'recorded
    rounds' and 'rounds' are not the same clock)."""
    recent = {name for record in records[-4:] for name in record}
    return [q for q in ALL_QUERIES if q not in window and q not in recent]


def test_no_extension_module_failed_to_import():
    """register_extensions keeps the core DQ set alive through a broken
    extension module (the production contract) but records the failure —
    a silent pass here would shrink the registry and the driver window
    by that module's queries with no signal until the round's
    CORRECTNESS record came back short."""
    assert not EXTENSION_IMPORT_ERRORS, EXTENSION_IMPORT_ERRORS


def test_red_latest_rows_inside_window():
    """A registered query whose LATEST driver row is red has no valid
    green signal at any staleness — it must re-enter the window every
    round until a green row lands (the r7 lesson: the two array-canon
    crashes burned their first check and re-greened in r8)."""
    latest: dict[str, bool] = {}
    for record in correctness_records():
        latest.update({name: is_green(row) for name, row in record.items()})
    red = [q for q in ALL_QUERIES if q in latest and not latest[q]]
    missing = [q for q in red if q not in WINDOW]
    assert not missing, f"red-latest queries outside driver window: {missing}"


def test_max_staleness_four_recorded_rounds():
    """Every registered query is either in the upcoming driver window
    or has a row within the last FOUR recorded correctness rounds.
    Four is the tightest sustainable bound: the registry holds 200
    queries against a 50-slot window, so a full re-verification cycle
    needs ceil(200/50) = 4 records."""
    stale = _stale(WINDOW, correctness_records())
    assert not stale, f"queries >4 recorded rounds stale and outside window: {stale}"


def test_window_queries_all_have_oracles():
    # Inside the window every query should get the full rows+schema+hash
    # check; a no-oracle query there wastes a slot on a rows-only row.
    no_oracle = [q for q in WINDOW if q not in ALL_ORACLES]
    assert not no_oracle, f"window queries without oracles: {no_oracle}"


def test_oracles_reference_registered_queries():
    unknown = [q for q in ALL_ORACLES if q not in ALL_QUERIES]
    assert not unknown, f"oracles for unregistered queries: {unknown}"


def test_registry_at_the_200_name_ceiling():
    """The registry sits exactly at the 50x4 ceiling (CHECK_WINDOW x the
    4-recorded-round staleness bound). One more registration without a
    retirement would make the staleness invariant unsatisfiable."""
    assert len(ALL_QUERIES) == CHECK_WINDOW * 4, len(ALL_QUERIES)


# sha256 of the sorted registered names, one per line; the query and
# oracle registries hold the same 200 names
REGISTERED_NAMES_SHA256 = (
    "9338cb5c8edea4bc33586af86c88bd68354571dde74d86c60db0cf079e5db54c"
)


def test_registered_name_set_is_pinned():
    """A deletion or a module move must keep every registered query and
    oracle name: the driver's records and the correctness window are
    keyed by them. The ceiling test above only counts names. A
    deliberate rename or retirement updates the digest in the same
    change."""
    import hashlib

    for registry in (ALL_QUERIES, ALL_ORACLES):
        names = "\n".join(sorted(registry))
        digest = hashlib.sha256(names.encode()).hexdigest()
        assert digest == REGISTERED_NAMES_SHA256, sorted(registry)


def test_retired_names_absent_from_rotation_lists():
    """Retired rows must not linger in the rotation: the recorded rounds
    still hold their rows, and a retired name carried into the computed
    order would take a window slot the driver then skips (the name is
    no longer registered) and under-fill the driver window."""
    from remap_spark.queries.retired import RETIRED_QUERIES

    order = check_order(ALL_QUERIES, correctness_records())
    assert len(order) == len(ALL_QUERIES)
    for name in RETIRED_QUERIES:
        assert name not in order
        assert name not in WINDOW


def test_check_order_rule():
    names = ["new1", "old", "mid", "dup", "red", "new2", "tie"]
    # no records: plain registration order
    assert check_order(names, []) == names
    records = [
        {"old": GREEN, "dup": GREEN, "gone": GREEN},
        {"mid": GREEN, "red": GREEN, "tie": GREEN},
        {"dup": GREEN, "red": RED, "tie": GREEN},
        # a repeated round (r12 = r13): latest occurrence wins
        {"dup": GREEN, "red": RED, "tie": GREEN},
    ]
    # never checked and red-latest first (registration order), then
    # oldest latest round (old: r0, mid: r1, dup and tie: r3 — dup's
    # r0 row does not count), ties in registration order; "gone" is
    # recorded but not registered and is ignored
    assert check_order(names, records) == [
        "new1", "red", "new2", "old", "mid", "dup", "tie",
    ]
    # every failing row kind is red; a check that was not run is not
    for bad in (
        {**GREEN, "err": "boom"},
        {**GREEN, "rows_match": False},
        {**GREEN, "schema_match": False},
        {"rows_match": None, "schema_match": None, "hash_match": None, "err": "x"},
    ):
        record = {"bad": bad, "ok": GREEN}
        assert check_order(["ok", "bad"], [record]) == ["bad", "ok"]
    rows_only = {"rows_match": True, "schema_match": None, "hash_match": None}
    assert check_order(["b", "a"], [{"a": GREEN}, {"b": rows_only}]) == ["a", "b"]
    # a red row that re-greens leaves the due group
    regreened = [{"a": GREEN}, {"b": RED}, {"b": GREEN}]
    assert check_order(["a", "b"], regreened) == ["a", "b"]


def test_window_rotates_through_every_name():
    """Land four green records, each exactly the then-current window:
    every registered name enters the window exactly once, and the
    staleness bound holds after each landing — with no list edited in
    lockstep (the step the r13 rotation skipped)."""
    records = correctness_records()
    assert list(ALL_QUERIES) == check_order(ALL_QUERIES, records)
    window = WINDOW
    entered: list[str] = []
    for _ in range(4):
        entered += window
        records = records + [{name: GREEN for name in window}]
        window = check_order(ALL_QUERIES, records)[:CHECK_WINDOW]
        stale = _stale(window, records)
        assert not stale, f"stale after {len(records)} records: {stale}"
    assert sorted(entered) == sorted(ALL_QUERIES)
