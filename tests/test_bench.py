"""bench.py: a failed same-session reference replay is reported with its
reason in the JSON line, never dropped silently."""

from __future__ import annotations

import subprocess

import pytest

import bench


@pytest.mark.parametrize(
    "error, expected",
    [
        (
            subprocess.CalledProcessError(128, ["git"], stderr="fatal: dirty worktree\n"),
            "fatal: dirty worktree",
        ),
        (subprocess.TimeoutExpired(["git"], 60), "TimeoutExpired"),
    ],
)
def test_failed_replay_reason_reaches_the_payload(monkeypatch, error, expected):
    def fail(*args, **kwargs):
        raise error

    monkeypatch.setattr(subprocess, "run", fail)
    payload: dict = {}
    detail: dict = {}
    bench._attach_ref(payload, detail, {"q01_pricing_summary": 1.0}, "/data/sf0.1")
    assert "ref" not in payload and detail == {}
    assert expected in payload["ref_skipped"]


def test_stale_reference_worktree_is_force_checked_out(monkeypatch, tmp_path):
    """An existing `.bench_ref` pinned to another commit is re-checked out
    with --force, so uncommitted files there cannot block the replay,
    and the replay's JSON line comes back."""
    (tmp_path / ".bench_ref").mkdir()
    (tmp_path / ".bench_ref" / "bench.py").write_text("")
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    calls: list[list[str]] = []

    def fake_run(argv, **kwargs):
        calls.append(list(argv))
        if argv[:2] == ["git", "rev-parse"]:
            out = "old\n" if argv[2] == "HEAD" else "new\n"
        elif argv[1:] == ["bench.py"]:
            out = '{"value": 1.0, "queries": {}}\n'
        else:
            out = ""
        return subprocess.CompletedProcess(argv, 0, stdout=out, stderr="")

    monkeypatch.setattr(subprocess, "run", fake_run)
    ref, reason = bench._replay_reference("/data/sf0.1")
    assert reason is None and ref == {"value": 1.0, "queries": {}}
    assert ["git", "checkout", "--detach", "--force", bench._REF_COMMIT] in calls
