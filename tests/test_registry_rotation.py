"""Gate-rotation ordering (VERDICT r5 #5): never-green queries lead, then
greens whose implementing modules changed since their last green gate row,
then untouched greens stalest-first."""

from __future__ import annotations

from eth_dspa_2019_spark.plans import registry as R


def test_ordering_groups_and_staleness():
    names = ["a", "b", "c", "d", "e"]
    last_green = {"b": 3, "c": 1, "d": 5, "e": 1}
    # c and d's modules changed since their green rounds
    stale = {"c", "d"}
    got = R._ordered_names(names, last_green, stale)
    # a: never green -> first. Then changed greens by round (c r1, d r5).
    # Then untouched greens by round (e r1, b r3).
    assert got == ["a", "c", "d", "e", "b"]


def test_ordering_defining_change_outranks_dep_only_staleness():
    """An edit to a shared helper marks many greens tier-2 stale; queries
    whose own plan module changed (tier 1) must outrank them all even
    when their green round is more recent — otherwise a hashing.py touch
    starves the directly-edited queries out of the 50-slot gate."""
    names = ["a", "b", "c", "d"]
    last_green = {"a": 2, "b": 6, "c": 1, "d": 6}
    # b's DEFINING module changed (tier 1, green r6); a and c are stale
    # only via a transitive import (tier 2); d untouched.
    stale = {"b": 1, "a": 2, "c": 2}
    got = R._ordered_names(names, last_green, stale)
    assert got == ["b", "c", "a", "d"]


def test_stale_detection_uses_module_and_gate_times():
    specs = {
        n: R.QuerySpec(n, fn, None)
        for n, fn in {
            "fresh": (lambda s, d: None),
            "edited": (lambda s, d: None),
        }.items()
    }
    specs["fresh"].spark.__module__ = "mod_fresh"
    specs["edited"].spark.__module__ = "mod_edited"
    last_green = {"fresh": 4, "edited": 4}

    files = {"mod_fresh": {"f_fresh.py"}, "mod_edited": {"f_edited.py"}}
    times = {
        "CORRECTNESS_r04.json": 100.0,  # gate committed at t=100
        "f_fresh.py": 50.0,             # untouched since before the gate
        "f_edited.py": 200.0,           # edited after the gate
    }
    stale = R._stale_greens(
        last_green,
        specs,
        module_files=lambda m: files[m],
        commit_ts=lambda p: times[p],
        defining_file=lambda m: f"f_{m.split('_')[1]}.py",
    )
    assert stale == {"edited": 1}
    # the same edit seen only as a transitive import -> tier 2
    stale2 = R._stale_greens(
        last_green,
        specs,
        module_files=lambda m: files[m],
        commit_ts=lambda p: times[p],
        defining_file=lambda m: "somewhere_else.py",
    )
    assert stale2 == {"edited": 2}


def test_uncommitted_edit_counts_as_changed_now():
    specs = {"q": R.QuerySpec("q", (lambda s, d: None), None)}
    specs["q"].spark.__module__ = "m"
    stale = R._stale_greens(
        {"q": 5},
        specs,
        module_files=lambda m: {"f.py"},
        commit_ts=lambda p: (
            float("inf") if p == "f.py" else 100.0  # dirty working tree
        ),
        defining_file=lambda m: "f.py",
    )
    assert stale == {"q": 1}


def test_module_files_follow_plan_to_operator_imports():
    """plans/social.py builds its queries on operators/resolve.py and
    sources/activity.py — a change there must pull social's queries
    forward."""
    files = R._module_files("eth_dspa_2019_spark.plans.social")
    assert "eth_dspa_2019_spark/plans/social.py" in files
    assert any("/operators/" in f or "/sources/" in f for f in files), files


def test_live_order_is_a_permutation_of_registry():
    qs = R.all_queries()
    assert set(qs) == set(R._REGISTRY)

def test_stalest_green_quota_survives_crowding():
    """VERDICT r8 #1: with 60 priority entries (never-green + stale),
    the 50-slot gate window must still carry the STALEST_QUOTA stalest
    untouched greens — re-certification cannot be starved
    indefinitely. (Quota raised 12 → 16 in r10 per VERDICT r9 #5; the
    test keys off the constant, not a literal.)"""
    q = R.STALEST_QUOTA
    pri = [f"new{i}" for i in range(60)]            # never green
    unt = [f"old{i}" for i in range(20)]            # untouched greens
    names = pri + unt
    last_green = {n: 1 + (i % 7) for i, n in enumerate(unt)}
    got = R._ordered_names(names, last_green, set())
    window = got[:50]
    # (50 - quota) priority slots, then the quota stalest greens
    assert window[: 50 - q] == pri[: 50 - q]
    expect_unt = sorted(unt, key=lambda n: (last_green[n], names.index(n)))
    assert window[50 - q :] == expect_unt[:q]
    # nothing lost: still a permutation
    assert sorted(got) == sorted(names)


def test_quota_is_noop_when_gate_uncrowded():
    """With fewer entries than the gate window, ordering is unchanged
    from the pure group/staleness sort (existing tests' regime)."""
    names = ["a", "b", "c", "d", "e"]
    last_green = {"b": 3, "c": 1, "d": 5, "e": 1}
    got = R._ordered_names(names, last_green, {"c", "d"})
    assert got == ["a", "c", "d", "e", "b"]
