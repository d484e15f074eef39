"""Repo hygiene guards.

Round 11 accidentally committed 146 MB of generated sf1 parquet under a
directory literally named ``--help/`` (a generator invocation treated
the flag as an output path, then a blanket ``git add -A`` swept it up).
These guards make that class of accident a test failure: no tracked blob
may exceed the size cap, and no tracked parquet may live outside the
declared fixture paths (test fixtures are tiny goldens; scale data is
regenerated on demand by scripts/make_sf1.py).

Sessions are built in one place: ``bench.py`` and ``scripts/`` call
``session.get_spark``, so a hand-built session there is a test failure
too.
"""

from __future__ import annotations

import os
import re
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MAX_TRACKED_BYTES = 5 * 1024 * 1024

# directories where small binary fixtures are legitimate
FIXTURE_PREFIXES = ("tests/fixtures/", "tests/goldens/")

# the only modules that may build a SparkSession themselves: the engine's
# factory, tier-1's small fixed session, and the benchmark's session
# (scratch paths inside its work directory)
SESSION_BUILDERS = {
    "simple_anonymizer_spark/session.py", "tests/conftest.py", "perfbench/harness.py",
}
_BUILDER = re.compile(r"SparkSession\s*\.\s*builder")


def _tracked_files() -> list[tuple[str, int]]:
    out = subprocess.run(
        ["git", "ls-files", "-z"], cwd=REPO, check=True,
        capture_output=True, text=True,
    ).stdout
    files = [p for p in out.split("\0") if p]
    sized = []
    for p in files:
        full = os.path.join(REPO, p)
        if os.path.isfile(full):
            sized.append((p, os.path.getsize(full)))
    return sized


def test_no_tracked_blob_exceeds_size_cap():
    oversized = [(p, s) for p, s in _tracked_files() if s > MAX_TRACKED_BYTES]
    assert not oversized, (
        f"tracked files over {MAX_TRACKED_BYTES >> 20} MB — generated data "
        f"must be regenerated (scripts/make_sf1.py), never committed: "
        f"{[(p, f'{s >> 20} MB') for p, s in oversized]}"
    )


def test_no_tracked_parquet_outside_fixture_paths():
    strays = [
        p for p, _ in _tracked_files()
        if p.endswith((".parquet", ".orc"))
        and not p.startswith(FIXTURE_PREFIXES)
    ]
    assert not strays, (
        f"tracked parquet/orc outside declared fixture paths: {strays}"
    )


def test_sessions_are_built_only_by_the_session_factory():
    hand_built = []
    for p, _ in _tracked_files():
        if p.endswith(".py") and p not in SESSION_BUILDERS:
            with open(os.path.join(REPO, p), encoding="utf-8") as fh:
                if _BUILDER.search(fh.read()):
                    hand_built.append(p)
    assert not hand_built, (
        f"hand-built SparkSessions (use simple_anonymizer_spark.session."
        f"get_spark): {hand_built}"
    )
