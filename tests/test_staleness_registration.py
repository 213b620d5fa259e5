"""``tools/staleness.py``: the driver's round epoch, the call-path
fingerprints that decide which CORRECTNESS rows still certify a query, and
the committed per-round snapshots of them (``FINGERPRINTS.json``)."""

import json
import subprocess

from tools import staleness

ROOT = staleness.repo_root()


def test_current_round_survives_judge_seam(tmp_path):
    """VERDICT r6 task 1: the driver drops CORRECTNESS_r{N}.json BEFORE the
    ``round N:`` marker commit lands.  In that window the audit must still
    say "round N" (the round the artifact just closed), not N+1 — otherwise
    every round-N registration looks one round behind at exactly the moment
    the judge runs pytest."""
    subprocess.run(["git", "-C", str(tmp_path), "init", "-q"], check=True)
    env_args = ["-c", "user.email=t@t", "-c", "user.name=t"]
    (tmp_path / "f").write_text("x")
    subprocess.run(
        ["git", "-C", str(tmp_path), *env_args, "add", "."], check=True
    )
    subprocess.run(
        ["git", "-C", str(tmp_path), *env_args, "commit", "-q", "-m",
         "round 5: verdict/advice/correctness/bench"],
        check=True,
    )
    # Judge seam: the round-6 artifact exists, the round-6 marker does not.
    (tmp_path / "CORRECTNESS_r06.json").write_text("{}")
    assert staleness.current_round(tmp_path) == 6
    # Marker lands -> the epoch advances with the diff base, in lockstep.
    subprocess.run(
        ["git", "-C", str(tmp_path), *env_args, "add", "."], check=True
    )
    subprocess.run(
        ["git", "-C", str(tmp_path), *env_args, "commit", "-q", "-m",
         "round 6: verdict/advice/correctness/bench"],
        check=True,
    )
    assert staleness.current_round(tmp_path) == 7
    assert staleness.base_commit(tmp_path) is not None


def test_current_round_fallback_without_marker(tmp_path):
    """Round 1 (no driver marker yet): fall back to the artifact count."""
    subprocess.run(["git", "-C", str(tmp_path), "init", "-q"], check=True)
    assert staleness.current_round(tmp_path) == 1
    (tmp_path / "CORRECTNESS_r01.json").write_text("{}")
    assert staleness.current_round(tmp_path) == 2


def test_mid_round_snapshot_does_not_advance_epoch(tmp_path):
    """r10 seam: when a session is interrupted, the driver commits
    ``round N: end-of-round snapshot`` MID-round and building continues
    after it (observed r4 and r10).  The snapshot is not a verification
    event — the round-N driver check still lies ahead — so it must advance
    neither the epoch nor the diff base: edits after it belong to round N
    (the check that will verify them), and edits it committed must stay
    visible to the changed-files audit."""
    subprocess.run(["git", "-C", str(tmp_path), "init", "-q"], check=True)
    env_args = ["-c", "user.email=t@t", "-c", "user.name=t"]

    def commit(msg):
        (tmp_path / "f").write_text(msg)
        subprocess.run(
            ["git", "-C", str(tmp_path), *env_args, "add", "."], check=True
        )
        subprocess.run(
            ["git", "-C", str(tmp_path), *env_args, "commit", "-q", "-m", msg],
            check=True,
        )

    commit("round 9: verdict/advice/correctness/bench")
    verdict_sha = subprocess.run(
        ["git", "-C", str(tmp_path), "rev-parse", "HEAD"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    assert staleness.current_round(tmp_path) == 10
    commit("builder work, session 1")
    commit("round 10: end-of-round snapshot (33 turns, 979s)")
    # Building continues in a restarted session: still round 10, still
    # diffing against the round-9 verdict.
    assert staleness.current_round(tmp_path) == 10
    assert staleness.base_commit(tmp_path) == verdict_sha


def test_body_verdict_mention_does_not_advance_epoch(tmp_path):
    """r10 ADVICE: ``git log --grep`` matches any line of the MESSAGE, so a
    snapshot commit whose BODY quotes "round N: verdict ..." is selected by
    the grep while its subject is still a snapshot.  The subject parse must
    reject it and keep scanning to the most recent GENUINE verdict commit —
    neither advancing the epoch (the old loose parse matched
    ``round (\\d+):`` against the snapshot subject) nor losing the diff
    base to the fallback."""
    subprocess.run(["git", "-C", str(tmp_path), "init", "-q"], check=True)
    env_args = ["-c", "user.email=t@t", "-c", "user.name=t"]

    def commit(msg):
        (tmp_path / "f").write_text(msg)
        subprocess.run(
            ["git", "-C", str(tmp_path), *env_args, "add", "."], check=True
        )
        subprocess.run(
            ["git", "-C", str(tmp_path), *env_args, "commit", "-q", "-m", msg],
            check=True,
        )

    commit("round 9: verdict/advice/correctness/bench")
    verdict_sha = subprocess.run(
        ["git", "-C", str(tmp_path), "rev-parse", "HEAD"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    # Snapshot whose body quotes the verdict marker on a line of its own:
    # the --grep hit lands on this commit, but its subject is a snapshot.
    commit(
        "round 10: end-of-round snapshot (12 turns)\n\n"
        "round 10: verdict still pending; carrying the r9 task list."
    )
    assert staleness.current_round(tmp_path) == 10
    assert staleness.base_commit(tmp_path) == verdict_sha




def test_fingerprint_manifest_is_fresh():
    """Every round with a CORRECTNESS file has a snapshot in
    ``FINGERPRINTS.json``, and the latest one recomputes identically from
    its verdict commit (catches a changed fingerprint algorithm that was
    never regenerated).  Fix: ``python -m tools.staleness``.  A round whose
    verdict commit has not landed yet (the driver writes the CORRECTNESS
    file first) cannot have a snapshot and is not due."""
    manifest = json.loads((ROOT / staleness.MANIFEST).read_text())
    rounds = staleness.correctness_rounds(ROOT)
    try:
        commits = dict(reversed(staleness.verdict_commits(ROOT)))
    except (subprocess.CalledProcessError, FileNotFoundError):
        commits = None  # no git history: every round is due
    due = sorted(r for r in rounds if commits is None or r in commits)
    missing = [r for r in due if not isinstance(manifest.get(str(r)), dict)]
    assert not missing, (
        f"{staleness.MANIFEST} has no snapshot for round(s) {missing}; "
        "run python -m tools.staleness"
    )
    if commits and due:
        latest = due[-1]
        assert manifest[str(latest)] == staleness.snapshot(
            ROOT, commits[latest], rounds[latest]
        ), f"round {latest} snapshot is stale; run python -m tools.staleness"
