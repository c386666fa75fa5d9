"""Multi-executor parity: tools/cluster_check.py in a subprocess (it
needs its own SparkSessions — local AND local-cluster — which cannot
coexist with the suite's session fixture in one process).

local-cluster[2,2,1024] spawns two real executor JVMs: broadcasts
serialize over the wire, shuffle blocks cross process boundaries, Python
workers run per executor with their own PYTHONPATH. Any operator that
secretly relies on single-JVM locality fails here first."""

from __future__ import annotations

import os
import subprocess
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def test_local_cluster_matches_local():
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "cluster_check.py")],
        capture_output=True,
        text=True,
        timeout=540,
    )
    tail = "\n".join(proc.stdout.splitlines()[-12:])
    assert proc.returncode == 0, f"cluster parity failed:\n{tail}\n{proc.stderr[-2000:]}"
    assert "ALL OK" in proc.stdout
