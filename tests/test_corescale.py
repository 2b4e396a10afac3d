"""tools/corescale.py surfaces a crashed child run instead of failing on
its empty output."""

from __future__ import annotations

import json
import subprocess

import pytest

from tools import corescale


def test_child_failure_raises_with_stderr_and_completed_rounds(monkeypatch):
    calls = []

    def fake_run(args, **kwargs):
        calls.append(args)
        if len(calls) == 1:
            return subprocess.CompletedProcess(args, 0, json.dumps({"cell": 1.0}) + "\n", "")
        return subprocess.CompletedProcess(args, 1, "", "java.lang.OutOfMemoryError")

    monkeypatch.setattr(corescale.subprocess, "run", fake_run)
    monkeypatch.setattr(corescale.sys, "argv", ["corescale.py", "8", "4"])
    monkeypatch.setenv("CORESCALE_ROUNDS", "1")
    with pytest.raises(RuntimeError, match="OutOfMemoryError") as err:
        corescale.main()
    assert '"cell": 1.0' in str(err.value)    # the completed round is kept
