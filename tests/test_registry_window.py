"""The driver verifies only the first 50 ``queries()`` entries per round, so
ordering IS the correctness-coverage budget.  These pins keep the window
self-staging: slots go to entries without a green CORRECTNESS row and green
entries pad the rest stalest-first."""

from __future__ import annotations

import __spark_entry__ as m
from __spark_entry__ import _WINDOW_SIZE, _green_rounds, _ordered_names
from sql_query_engine_rs_spark.queries import QUERIES


def _assert_window_invariants():
    """The era-invariant window contract (r10 verdict item 1).

    While unchecked entries remain, no window slot may go to an
    already-green entry.  Once the registry is fully driver-green (residue
    zero), the leftover slots pad with green entries STALEST-FIRST —
    asserted as a property of the per-entry latest-green-round map (not
    against a static cohort list, which went stale at grading time two
    rounds running: every new CORRECTNESS file re-greens entries and
    reshuffles the true staleness order)."""
    rounds = _green_rounds()
    green = set(rounds)
    window = _ordered_names()[:_WINDOW_SIZE]
    residue = [n for n in QUERIES if n not in green]
    outside_unchecked = [n for n in residue if n not in set(window)]
    if outside_unchecked:
        # an unchecked entry was displaced: no green entry may hold a slot
        wasted = [n for n in window if n in green]
        assert not wasted, f"green entries occupying window slots: {wasted}"
        return
    # every unchecked entry is in the window; leftover slots pad with GREEN
    # entries stalest-first
    pad = [n for n in window if n in green]
    # 1. pad entries are green (residue zero => everything is) and sorted
    #    stalest-first within the pad itself;
    pad_rounds = [rounds[n] for n in pad]
    assert pad_rounds == sorted(pad_rounds), (
        f"pad not stalest-first: {list(zip(pad, pad_rounds))[:8]}..."
    )
    # 2. nothing staler was left outside: every green entry not in the
    #    window is at least as fresh as the freshest padded entry.
    outside = [n for n in green if n in QUERIES and n not in set(window)]
    if pad_rounds and outside:
        assert max(pad_rounds) <= min(rounds[n] for n in outside), (
            "a staler green entry was left outside the window"
        )


def test_window_spends_slots_on_unchecked_entries():
    _assert_window_invariants()


def test_window_invariants_survive_next_round_file_landing(tmp_path, monkeypatch):
    """Simulate the NEXT driver round's CORRECTNESS file landing (the exact
    event that broke the static-cohort assertion at r9 and r10 grading
    time): copy the real artifacts, add a synthetic r{latest+1} that
    greens the current window, and re-assert every window invariant."""
    import glob
    import json
    import os
    import shutil

    for path in glob.glob(os.path.join(m._ROOT, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path / os.path.basename(path))
    latest = max(m._correctness_rows(), default=0)
    fake = {
        name: {"rows_match": True, "schema_match": True,
               "hash_match": True, "err": None}
        for name in _ordered_names()[:_WINDOW_SIZE]
    }
    (tmp_path / f"CORRECTNESS_r{latest + 1:02d}.json").write_text(json.dumps(fake))
    monkeypatch.setattr(m, "_ROOT", str(tmp_path))
    assert max(m._correctness_rows()) == latest + 1
    # the just-greened entries must sink to the pad tail, not lead it
    rounds = _green_rounds()
    for name in fake:
        assert rounds[name] == latest + 1
    _assert_window_invariants()
    names = _ordered_names()
    assert len(names) == len(set(names)) == len(QUERIES)


def test_window_is_full_while_unchecked_entries_remain():
    green = set(_green_rounds())
    unchecked = [n for n in QUERIES if n not in green]
    window = _ordered_names()[:_WINDOW_SIZE]
    assert len(window) >= min(_WINDOW_SIZE, len(unchecked))


def test_ordering_is_a_permutation_of_the_registry():
    names = _ordered_names()
    assert len(names) == len(set(names)) == len(QUERIES)
    assert set(names) == set(QUERIES)


def test_green_parser_tolerates_missing_files(tmp_path, monkeypatch):
    """A fresh checkout (no CORRECTNESS artifacts) must not break ordering."""
    monkeypatch.setattr(m, "_ROOT", str(tmp_path))
    assert m._correctness_rows() == {}
    assert _green_rounds() == {}
    assert m._stalest_pad() == []
    names = _ordered_names()
    assert names == list(QUERIES)


def test_register_raises_on_duplicate_name():
    """A silent re-registration once shadowed a driver-verified definition
    (pipe_sequence_packing, rounds 2-6): the old green rows kept pinning
    the entry as checked while the live code had never seen the driver.
    register() now refuses duplicates at import time."""
    import pytest

    from sql_query_engine_rs_spark.queries import register

    with pytest.raises(ValueError, match="duplicate query registration"):
        @register("v0_scan", None)
        def shadow(spark, sf_dir):  # pragma: no cover - never runs
            raise AssertionError

    # the guard must reject BEFORE mutating the registry
    from sql_query_engine_rs_spark.queries import QUERIES as _q

    assert _q["v0_scan"].build.__name__ != "shadow"


def test_sequence_packing_registered_once_and_is_the_live_definition():
    """The surviving definition is the per-source greedy form (round 6);
    its oracle partitions by source, not by doc_id%8 shard."""
    from sql_query_engine_rs_spark.queries import QUERIES

    spec = QUERIES["pipe_sequence_packing"]
    assert "PARTITION BY source" in spec.oracle
    assert "shard" not in spec.oracle
