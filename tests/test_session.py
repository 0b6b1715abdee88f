"""SparkSession factory contracts."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

from conftest import SF_SMALL

REPO = pathlib.Path(__file__).resolve().parent.parent

_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from etl_addresses_spark.registry import REGISTRY
from etl_addresses_spark.session import get_spark
spark = get_spark("foreign-cwd")
print("ROWS", REGISTRY["multimodal_decode"].query(spark, {sf!r}).count())
spark.stop()
"""


def test_python_workers_import_package_from_foreign_cwd(tmp_path):
    """A pandas-UDF row unpickles operator code inside Python worker
    processes, which must import the package whatever the driver's
    cwd is: get_spark puts the package's parent directory on the
    workers' PYTHONPATH.  The driver here runs from an empty temp dir
    with the package reachable only through its own sys.path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_SHUFFLE_PARTITIONS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    script = _FOREIGN_CWD_SCRIPT.format(repo=str(REPO), sf=SF_SMALL)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert int(proc.stdout.split("ROWS ")[1].split()[0]) > 0
