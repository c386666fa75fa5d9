"""Oracle-free identity checks (tools/self_check.py) in-suite: the
incremental-equals-batch and two-CC-algorithms-agree identities that
certify the heavy-oracle dedup family at scales where the brute-force
DuckDB replay is impractical (run standalone at sf1 in round 5 — all
hold; see SCALE.md)."""

from __future__ import annotations

import os
import subprocess
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def test_identities_hold_at_smoke_sf(sf_dir):
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "self_check.py"), sf_dir],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-1000:]
    assert "ALL OK" in proc.stdout
