"""The package zip shipped to executors lives only as long as the
process that wrote it."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import os, sys, types
sys.path.insert(0, sys.argv[1])
from cli_rag_spark.deploy import ensure_package_on_executors
shipped = []
sc = types.SimpleNamespace(applicationId="app-1", addPyFile=shipped.append)
ensure_package_on_executors(types.SimpleNamespace(sparkContext=sc))
assert len(shipped) == 1 and os.path.isfile(shipped[0]), shipped
print(shipped[0])
"""


def test_package_zip_removed_at_process_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, ROOT],
        env=env, capture_output=True, text=True, check=True,
    )
    zpath = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(zpath) == str(tmp_path)
    assert not os.path.exists(zpath)
    assert not [f for f in os.listdir(tmp_path) if f.startswith("cli_rag_spark_pkg_")]
