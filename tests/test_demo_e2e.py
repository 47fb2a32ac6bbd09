"""Smoke test for the end-to-end walkthrough script: datagrams →
transport codec → decode → enrich → store/rollups → routed query →
sankey/widget assembly must run clean in one pass."""

from __future__ import annotations

import os
import sys


def test_demo_e2e_runs(spark, tmp_path, capsys):
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    )
    import demo_e2e

    assert demo_e2e.main(str(tmp_path)) == 0
    out = capsys.readouterr().out
    assert "0. demo exporter:" in out and "decoded wire rows" in out
    assert "demo BMP session:" in out and "flows routed" in out
    assert "decoded 40 flows" in out
    assert "flows_300s" in out  # rollups built
    assert "router:" in out and "@ 300s" in out  # routed to a rollup
    assert "sankey:" in out
