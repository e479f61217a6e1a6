"""get_spark from a driver started outside the checkout, without PYTHONPATH:
the worker daemon shim must still import on the workers."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from landlensdb_spark.session import get_spark

spark = get_spark("worker-path", master="local[1]")
assert spark.conf.get("spark.python.daemon.module") == "landlensdb_spark.pydaemon"
n = spark.range(100).mapInArrow(lambda it: it, "id long").count()
spark.stop()
print("rows", n)
"""


def test_python_stage_runs_from_outside_checkout(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env.pop("SPARK_GRAFT_NO_DAEMON_SHIM", None)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 100" in out.stdout
