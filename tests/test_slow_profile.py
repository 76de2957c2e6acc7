"""The ``slow`` marker set is committed in tests/slow_tests.txt: the
default profile skips slow tests, so a new multi-minute test must not
join that set without the list (and its review) changing too."""

import os
import subprocess
import sys

TESTS = os.path.dirname(os.path.abspath(__file__))


def test_slow_marker_set_matches_committed_list():
    done = subprocess.run(
        [
            sys.executable, "-m", "pytest", "--collect-only", "-q",
            "-m", "slow", "-p", "no:cacheprovider", "tests",
        ],
        cwd=os.path.dirname(TESTS),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stdout + done.stderr
    got = sorted(line for line in done.stdout.splitlines() if "::" in line)
    with open(os.path.join(TESTS, "slow_tests.txt"), encoding="utf-8") as fh:
        want = sorted(fh.read().split())
    assert got == want
