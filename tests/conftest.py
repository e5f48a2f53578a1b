from __future__ import annotations

import os
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _autoheal_witness_manifest() -> None:
    """Refresh WITNESS_MANIFEST.json when a newer CORRECTNESS_r*.json exists.

    The driver writes CORRECTNESS_rN.json AFTER the end-of-round snapshot
    commit, so at the next round's start the manifest is always one round
    stale. Auto-refresh is safe ONLY while HEAD is still exactly the source
    the driver executed: package tree clean AND no package commit newer
    than the newest CORRECTNESS file. Otherwise refreshing would stamp an
    unwitnessed edit with a witness digest (laundering), so we skip and
    let test_manifest_covers_all_witnessed_names surface the gap.
    """
    import glob
    import re
    import subprocess

    manifest = os.path.join(REPO_DIR, "WITNESS_MANIFEST.json")
    rounds: list[tuple[int, str]] = []
    for p in glob.glob(os.path.join(REPO_DIR, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    if not rounds:
        return
    newest_path = max(rounds)[1]
    if os.path.exists(manifest) and os.path.getmtime(manifest) >= os.path.getmtime(
        newest_path
    ):
        return
    # Safety gate is CONTENT-based, not mtime-based (git does not preserve
    # mtimes, so commit-time-vs-mtime comparisons fail open after any
    # checkout/touch): refresh only while the package tree at HEAD is
    # byte-identical to the tree at the commit that recorded the newest
    # CORRECTNESS artifact — i.e. HEAD still IS the source the driver
    # executed — and both the package and the artifact are clean.
    pkg = ["odni_apache_beam_consumer_spark", "__spark_entry__.py"]
    try:
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--", *pkg, newest_path],
            capture_output=True, text=True, cwd=REPO_DIR, timeout=30,
        ).stdout.strip()
        art_commit = subprocess.run(
            ["git", "log", "-1", "--format=%H", "--", newest_path],
            capture_output=True, text=True, cwd=REPO_DIR, timeout=30,
        ).stdout.strip()
        pkg_differs = bool(art_commit) and (
            subprocess.run(
                ["git", "diff", "--quiet", art_commit, "HEAD", "--", *pkg],
                capture_output=True, cwd=REPO_DIR, timeout=30,
            ).returncode
            != 0
        )
    except Exception:
        return
    if dirty or not art_commit or pkg_differs:
        return
    subprocess.run(
        [sys.executable, os.path.join(REPO_DIR, "tools", "witness_manifest.py")],
        cwd=REPO_DIR, check=False, timeout=300,
    )


_autoheal_witness_manifest()


# Test-session core count (r14, VERDICT item 1 — suite runtime): the
# fixtures are KB-sized, so on local[32] every tiny shuffle stage pays 32
# task launches and the suite is dominated by scheduler constants, not
# work.  Measured on a quiet box (tests/test_stats_battery.py): local[32]
# 82 s, local[8] 48 s, local[4] 62 s — 8 is the sweet spot.  Queries are
# partition-count-invariant by contract (that is what the oracle hashes
# prove), so this changes no result; it is also an extra every-run check
# that nothing silently depends on the bench's 32-way layout.  The bench
# itself is untouched (bench.py still honors $SPARK_GRAFT_CPUS).
TEST_CPUS = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))

# Test-session driver heap: the session's 48g default lets the JVM grow
# past a 15 GB box's memory until the kernel's OOM killer stops it, and
# every Spark test after that fails.  The suite's peak is the fleet-wide
# plan gate in test_plans.py (about 2.5 GB live after GC at local[8]); an
# uncapped run there reached 7-12 GB RSS.  6g is the perfbench default
# and holds the sf0.1 sweep; an explicit setting still wins.  Set before
# any session launches, and inherited by the tests' subprocesses.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    from odni_apache_beam_consumer_spark.session import get_spark

    s = get_spark(
        app_name="engine-tests",
        master=f"local[{TEST_CPUS}]",
        shuffle_partitions=TEST_CPUS,
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
