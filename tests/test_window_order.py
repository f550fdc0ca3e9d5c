"""Driver correctness-window ordering (VERDICT r4 #1).

The driver checks the first ~50 registry entries per round. The order is
generated from CORRECTNESS_r*.json history: entries whose latest driver
row failed first, then never-driver-checked entries (statically
deprioritized degenerate twins at the back of that tier), then
previously-checked entries oldest-round first. These tests
pin the generated-order invariants so registry growth can never again
push unchecked entries past the window.
"""

from whoosh_spark.entry_queries import (
    _WINDOW_DEPRIORITIZE,
    _correctness_history,
    _driver_window_order,
    registry,
)


def _failed(row):
    return (False in (row.get("hash_match"), row.get("rows_match"), row.get("schema_match"))
            or row.get("err") not in (None, "no_oracle"))


def _tier(last, demoted, name):
    if name not in last:
        return 0.5 if name in demoted else 0.0
    rnd, row = last[name]
    return -1.0 if _failed(row) else rnd


def test_registry_order_is_monotone_in_check_history():
    names = list(registry())
    last = _correctness_history()
    demoted = set(_WINDOW_DEPRIORITIZE)
    tiers = [_tier(last, demoted, n) for n in names]
    assert tiers == sorted(tiers), "registry order must be never-checked first, then oldest-checked"


def test_never_checked_entries_lead_the_window():
    names = list(registry())
    last = _correctness_history()
    if not last:  # fresh checkout: fallback order, nothing to assert
        return
    failed = [n for n in names if n in last and _failed(last[n][1])]
    never = [n for n in names if n not in last and n not in set(_WINDOW_DEPRIORITIZE)]
    # every non-demoted never-checked entry sits right behind the failed
    # ones — i.e. before anything already checked and passed.
    assert set(names[: len(failed)]) == set(failed)
    assert set(names[len(failed): len(failed) + len(never)]) == set(never)


def test_deprioritized_twins_follow_the_never_checked_tier():
    names = list(registry())
    last = _correctness_history()
    if not last:
        return
    demoted_present = [n for n in _WINDOW_DEPRIORITIZE if n in names and n not in last]
    checked_positions = [i for i, n in enumerate(names)
                         if n in last and not _failed(last[n][1])]
    for n in demoted_present:
        assert names.index(n) < min(checked_positions, default=len(names))


def test_fallback_order_without_history():
    # no history: every entry is never-checked (tier 0) and the
    # deprioritized twins are tier 0.5 — registration order, twins last
    names = list(registry())
    order = _driver_window_order(names, {})
    demoted = set(_WINDOW_DEPRIORITIZE)
    assert order == ([n for n in names if n not in demoted]
                     + [n for n in names if n in demoted])


def test_order_is_a_permutation():
    names = list(registry())
    order = _driver_window_order(names, _correctness_history())
    assert sorted(order) == sorted(names)


def test_failed_rows_lead_the_window_synthetic_history():
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    history = {
        "old_green": (1, ok),
        "new_green": (5, ok),
        "hash_red": (5, {**ok, "hash_match": False}),
        "rows_red": (2, {**ok, "rows_match": False}),
        "schema_red": (3, {**ok, "schema_match": False}),
        "errored": (4, {**ok, "hash_match": None, "err": "Py4JJavaError"}),
        "rows_only": (2, {**ok, "hash_match": None, "err": "no_oracle"}),
    }
    demoted = _WINDOW_DEPRIORITIZE[0]
    names = ["old_green", "fresh", "hash_red", "new_green", demoted,
             "rows_only", "rows_red", "errored", "schema_red"]
    assert _driver_window_order(names, history) == [
        # failed last time, registration order among them
        "hash_red", "rows_red", "errored", "schema_red",
        # never checked, then the demoted never-checked twin
        "fresh", demoted,
        # checked and passed (or rows-only), oldest round first
        "old_green", "rows_only", "new_green",
    ]

