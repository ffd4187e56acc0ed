"""Command-line contract of the run harness (``harness.py``)."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_query_name_exits_2_before_the_jvm(tmp_path):
    """An unknown name is rejected with ``UNKNOWN [...]`` and exit 2 before
    any session exists. SPARK_HOME points at an empty directory, so had the
    harness started the JVM first it would die launching spark-submit
    (exit 1) instead."""
    env = dict(os.environ, SPARK_HOME=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "harness.py"), "iso", "no_such_query"],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert proc.stdout.strip() == "UNKNOWN ['no_such_query']"
