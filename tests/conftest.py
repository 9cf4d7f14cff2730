from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TEST_SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pytest_addoption(parser):
    parser.addoption(
        "--parity-report",
        action="store",
        nargs="?",
        const=os.path.join(_REPO_ROOT, "PARITY.json"),
        default=None,
        metavar="PATH",
        help=(
            "Persist per-entry parity evidence (rows + driver-style "
            "value hash) from test_parity.py, merged into PATH keyed "
            "by the TEST_SF_DIR scale. Each record carries the digest "
            "of the entry's dependency files taken at session start; "
            "the run writes nothing and fails if those files change "
            "before it ends. Run it as the last step before the "
            "commit, once per scale directory (sf0.001, sf0.01, "
            "sf0.1): TEST_SF_DIR=<data root>/sf<N> python -m pytest "
            "tests/test_parity.py --parity-report"
        ),
    )


@pytest.fixture(scope="session")
def parity_recorder(request):
    """Collects {entry: evidence} during a test_parity run; merged into
    the --parity-report JSON (keyed by scale) at session end. A no-op
    callable when the flag is absent.

    Each record carries the entry's `tree_digest`
    (`coverage_ledger.entry_digests`), taken at session start from the
    working tree: the proof is tied to the exact bytes it ran on, and
    `tests/test_coverage_ledger.py` fails once the checked-out tree no
    longer matches. If any dependency file changes while the sweep
    runs, the digests no longer name the tree that was proved, so the
    session fails at teardown and nothing is written."""
    path = request.config.getoption("--parity-report")
    if not path:
        yield lambda name, evidence: None
        return

    import json
    from datetime import datetime, timezone

    from coverage_ledger import entry_dependency_files, entry_digests

    digests, shas = entry_digests(entry_dependency_files())
    records: dict[str, dict] = {}

    def _now() -> str:
        # Full UTC timestamp, not just a date: a reader of the ledger
        # can tell a same-day refresh from the standing evidence.
        # Freshness itself is proved by tree_digest, not by this time.
        return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")

    def record(name: str, evidence: dict) -> None:
        # Per-entry stamp: a merged file can hold records proved at
        # different times, so file-level "generated" alone can't speak
        # for each entry's freshness (ADVICE r8).
        records[name] = dict(evidence, proved=_now(), tree_digest=digests[name])

    yield record
    if not records:
        return
    digests_now, shas_now = entry_digests(entry_dependency_files())
    if digests_now != digests:
        changed = sorted(
            f for f in shas.keys() | shas_now.keys()
            if shas.get(f) != shas_now.get(f)
        )
        pytest.fail(
            "dependency files changed during the parity sweep; "
            f"{path} not written — re-run the sweep: {changed}"
        )

    merged = {}
    if os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)
    scales = merged.setdefault("scales", {})
    # MERGE with any prior record for this scale (don't assign): a
    # filtered run (`pytest -k x --parity-report`) must refresh only
    # the entries it actually re-proved, not silently shrink the
    # standing evidence for the rest of the catalog. But PRUNE records
    # whose catalog entry no longer exists, so renamed/removed queries
    # can't inflate n_entries with stale evidence (ADVICE r8).
    from trace_data_pipeline_spark.plans import get_catalog

    live = set(get_catalog())
    entries = {
        k: v
        for k, v in scales.get(TEST_SF_DIR, {}).get("entries", {}).items()
        if k in live
    }
    entries.update(records)
    scales[TEST_SF_DIR] = {
        "generated": _now(),
        "n_entries": len(entries),
        "n_oracle_backed": sum(1 for r in entries.values() if r["oracle"]),
        "entries": dict(sorted(entries.items())),
    }
    merged["note"] = (
        "Local replica of the driver's DuckDB-oracle differential gate "
        "(tests/parity.py: canonicalize, compare, then hash the "
        "driver-style rendering). Every listed entry PASSED — a "
        "mismatch fails the pytest run before this file is written. "
        "oracle=false rows are the documented rows-only checks."
    )
    with open(path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)


@pytest.fixture(scope="session")
def spark():
    from trace_data_pipeline_spark.session import get_spark

    s = get_spark(
        app_name="trace-spark-tests",
        cpus=8,
        shuffle_partitions=8,
        driver_memory="8g",
    )
    yield s
