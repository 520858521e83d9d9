"""Driver-coverage insurance: the per-round driver gate checks ~50 of
the catalog's queries; this wraps the FULL oracle sweep
(`tools/check_correctness.py`, the same harness) as a pytest target so a
regression can't hide in the driver-unchecked queries between rounds.

Opt-in (several minutes at sf0.01):

    MOONSHOT_SWEEP=1 python -m pytest -m sweep -q
"""

import os
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.sweep
@pytest.mark.skipif(not os.environ.get("MOONSHOT_SWEEP"),
                    reason="full-catalog sweep: set MOONSHOT_SWEEP=1")
def test_full_catalog_oracle_sweep():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_SWEEP",
                            "/root/testdata/sf0.01")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_correctness.py"),
         sf_dir],
        capture_output=True, text=True, timeout=3600)
    tail = "\n".join(proc.stdout.splitlines()[-30:])
    assert proc.returncode == 0, (
        f"full sweep failed (exit {proc.returncode}):\n{tail}\n{proc.stderr[-2000:]}")


def _code_tree() -> str:
    """Git tree hash of ``moonshot_spark`` as it is on disk, committed or
    not: the hash ``git rev-parse HEAD:moonshot_spark`` gives once those
    files are committed (built in a scratch index, so the real index is
    untouched)."""
    with tempfile.TemporaryDirectory() as tmp:
        env = dict(os.environ, GIT_INDEX_FILE=os.path.join(tmp, "index"))

        def git(*args):
            return subprocess.run(["git", *args], cwd=REPO, env=env,
                                  check=True, capture_output=True,
                                  text=True).stdout.strip()
        git("add", "-A", "moonshot_spark")
        return git("write-tree", "--prefix=moonshot_spark/")


@pytest.mark.skipif(not os.path.exists(os.path.join(REPO, ".git")),
                    reason="sweep artifacts are matched by git tree hash")
def test_latest_sweep_artifact_covers_registry():
    """The local sweep JSONs recorded on the current ``moonshot_spark``
    tree must exist and contain EVERY registered query — the round-7
    judge found two queries that landed after the final sweep refresh
    and were absent from the round's own artifacts.  Artifacts are
    matched by the tree hash ``tools/check_correctness.py --json``
    records, not by file mtime, which a fresh clone scrambles; so any
    library change without a sweep refresh is a visible failure."""
    import glob
    import json

    import __spark_entry__ as entry_mod

    tree = _code_tree()
    refresh = ("commit, then run `python tools/check_correctness.py "
               "<sf_dir> --json CORRECTNESS_local_sf<N>.json` for sf0.01 "
               "and sf0.1")
    current = []
    for path in sorted(glob.glob(os.path.join(REPO,
                                              "CORRECTNESS_local_*.json"))):
        with open(path) as f:
            sweep = json.load(f)
        if sweep.get("code_tree") == tree:
            current.append((path, sweep))
    assert current, (
        f"no sweep artifact was recorded on moonshot_spark tree {tree}; "
        f"{refresh}")
    registered = set(entry_mod.queries())
    for path, sweep in current:
        missing = sorted(registered - set(sweep["queries"]))
        assert not missing, (
            f"{path} lags the registry by {len(missing)} queries "
            f"(e.g. {missing[:5]}); {refresh}")
