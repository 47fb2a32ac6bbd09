"""Session-scoped oracle materializations (the ``flows_v`` parquet view
and the rollup ``FlowStore``) live in temp dirs that must not outlive
their session: a process that registers both leaves nothing behind in
its temp dir when it exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = f"""
import json, os, sys, tempfile
sys.path.insert(0, {REPO!r})
from akvorado_spark.oracle.flows_view import register_spark_view
from akvorado_spark.oracle.rollup_queries import get_store
from akvorado_spark.session import get_spark

spark = get_spark("tempdirs", cpus=1)
register_spark_view(spark, {SF_DIR!r})
get_store(spark, {SF_DIR!r})
print(json.dumps(sorted(os.listdir(tempfile.gettempdir()))))
"""


def _ours(names):
    return sorted(n for n in names if n.startswith(("akvorado_flows_", "akvorado_rollups_")))


def test_view_and_store_tempdirs_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _CHILD],
        env=env, capture_output=True, text=True, timeout=600, check=True,
    )
    during = _ours(json.loads(out.stdout.strip().splitlines()[-1]))
    assert [n.split("_")[1] for n in during] == ["flows", "rollups"], during
    assert _ours(os.listdir(tmp_path)) == []
