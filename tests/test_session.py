"""session.get_spark: Python workers import the package whatever the
driver's working directory."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SCRIPT = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from treemachine_spark.api.v2 import long_id_to_string_id
from treemachine_spark.session import get_spark

spark = get_spark("worker-import")
try:
    print(spark.sparkContext.parallelize([5, 7], 2).map(long_id_to_string_id).collect())
finally:
    spark.stop()
"""


def test_workers_import_the_package_outside_the_repository(tmp_path):
    """A module-level library function runs on the workers when the driver
    starts outside the repository with no PYTHONPATH: only the driver's
    sys.path names the package, and the function is pickled by reference."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    done = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    assert done.stdout.strip().splitlines()[-1] == "['ott5', 'ott7']"
