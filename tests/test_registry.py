"""Registry/rotation discipline (no Spark needed).

The driver records ~50 correctness rows per round in registry order,
so the ordering IS the verification plan: every key that has never
had a driver correctness row must sit inside the first 50 positions,
or it stays unverified another round (the round-5 failure mode — nine
keys added after the window closed went a full round without a driver
row)."""

from __future__ import annotations

import glob
import json
import os

from machine_learning_algorithm_sparkml__spark import workload

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def _last_checked() -> dict[str, int | None]:
    rounds = {}
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnum = int(p.rsplit("_r", 1)[1].split(".")[0])
        with open(p) as f:
            rounds[rnum] = json.load(f)
    keys = list(workload.all_queries())
    return {k: max((r for r in rounds if k in rounds[r]), default=None) for k in keys}


def test_priority_keys_all_exist():
    qs = workload.all_queries()
    missing = [k for k in workload.PRIORITY_KEYS if k not in qs]
    assert not missing, f"PRIORITY_KEYS not in registry: {missing}"


def test_priority_keys_lead_the_registry():
    keys = list(workload.all_queries())
    n = len(workload.PRIORITY_KEYS)
    assert keys[:n] == workload.PRIORITY_KEYS


def test_never_checked_keys_inside_window():
    last = _last_checked()
    window = set(list(workload.all_queries())[:WINDOW])
    stranded = [k for k, r in last.items() if r is None and k not in window]
    assert not stranded, (
        f"keys with no driver correctness row outside the ~{WINDOW}-key "
        f"window: {stranded} — add them to PRIORITY_KEYS "
        "(workload/__init__.py) or they stay unverified another round"
    )


def test_oracle_ordering_matches_query_ordering():
    """The driver may iterate either dict; priority keys must lead both."""
    qs, os_ = list(workload.all_queries()), list(workload.all_oracles())
    oracle_priority = [k for k in workload.PRIORITY_KEYS if k in set(os_)]
    assert os_[: len(oracle_priority)] == oracle_priority


def test_rotation_tool_orders_never_then_oldest():
    """tools/rotation.py is the rotation planner: never-checked keys
    must lead its proposal, followed by strictly non-decreasing
    last-checked rounds (registry order breaking ties)."""
    import subprocess
    import sys

    qs_n = len(workload.all_queries())
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "rotation.py"), str(qs_n)],
        capture_output=True, text=True, check=True,
    ).stdout
    keys = [
        line.strip().strip('",')
        for line in out.splitlines()
        if line.strip().startswith('"')
    ]
    qs = workload.all_queries()
    assert set(keys) == set(qs), "proposal must cover the whole registry"
    last = _last_checked()
    rounds_seq = [-1 if last[k] is None else last[k] for k in keys]
    assert rounds_seq == sorted(rounds_seq), "must be never-first then oldest-first"


def test_staleness_tool_runs_and_flags_nothing_stranded():
    """tools/staleness.py must execute and, given the current
    PRIORITY_KEYS, report no never-checked key outside the window."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "staleness.py")],
        capture_output=True, text=True, check=True,
    ).stdout
    assert "| last driver row |" in out
    assert "WARNING" not in out, out


def test_doc_counts_match_registry():
    """README.md and PARITY.md state the key/oracle totals; they must
    equal the live registry (the r7 verdict's doc-drift item, made
    permanent). Update both files when adding keys."""
    import re

    qs, os_ = workload.all_queries(), workload.all_oracles()
    readme = open(os.path.join(REPO, "README.md")).read()
    m = re.search(r"(\d+) driver-contract query keys, (\d+) of them checked value-exact", readme)
    assert m, "README totals line missing"
    assert (int(m.group(1)), int(m.group(2))) == (len(qs), len(os_)), (
        f"README says {m.groups()}, registry has {len(qs)}/{len(os_)}"
    )
    parity = open(os.path.join(REPO, "PARITY.md")).read()
    m = re.search(r"Totals: (\d+) query keys, (\d+) DuckDB-oracle-checked, (\d+) rows-only", parity)
    assert m, "PARITY totals line missing"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        len(qs), len(os_), len(qs) - len(os_),
    ), f"PARITY says {m.groups()}, registry has {len(qs)}/{len(os_)}/{len(qs)-len(os_)}"


def test_self_verified_keys_are_registered():
    """bench.py records SELF_VERIFIED_KEYS as the keys whose timings
    exclude an in-query truth pass; an entry naming no registered key
    (say, after a re-point or a merge) would misreport silently."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import SELF_VERIFIED_KEYS

    qs = workload.all_queries()
    missing = [k for k in SELF_VERIFIED_KEYS if k not in qs]
    assert not missing, f"SELF_VERIFIED_KEYS not in registry: {missing}"
    assert len(set(SELF_VERIFIED_KEYS)) == len(SELF_VERIFIED_KEYS)


def test_rows_only_ann_keys_have_oracle_checked_siblings():
    """Each rows-only ANN/SemDeDup key runs its ``*_portable``
    sibling's builder plus a verdict column, so the sibling must stay
    registered AND oracle-checked: that oracle is the value-level
    evidence behind the rows-only key."""
    qs, os_ = workload.all_queries(), workload.all_oracles()
    for key in (
        "simsearch_lsh",
        "simsearch_ivf",
        "simsearch_pq",
        "simsearch_ivfpq",
        "embedding_neardup",
        "semantic_dedup",
    ):
        assert key in qs and key not in os_, key
        assert f"{key}_portable" in qs and f"{key}_portable" in os_, key
