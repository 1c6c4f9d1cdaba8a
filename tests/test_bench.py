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
