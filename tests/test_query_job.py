"""Argument checks of the query CLI (jobs/query_job.py): a bad value is
refused with a usage error before any Spark session (and so any JVM)
starts."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

JOB = os.path.join(os.path.dirname(__file__), "..", "jobs", "query_job.py")


@pytest.mark.parametrize(
    "args, message",
    [
        (["--query", "spark", "--skip", "-1"], "--skip must be >= 0"),
        (["--query", "spark", "--top", "-1"], "--top must be >= 0"),
        (["--query", "spark", "--bm25", "phrase"], "--bm25 phrase needs >= 2 terms"),
    ],
)
def test_bad_arguments_exit_before_spark(args, message):
    # a JAVA_HOME that cannot start a JVM: reaching Spark would fail with
    # a gateway error (exit 1), not argparse's usage error (exit 2)
    env = {**os.environ, "JAVA_HOME": "/nonexistent-java-home"}
    out = subprocess.run(
        [sys.executable, JOB, "--index", "/nonexistent-index", "--fields", "content", *args],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert out.returncode == 2, out.stderr
    assert message in out.stderr
