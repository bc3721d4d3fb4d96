"""Session defaults: sized from the host, usable without a user-set
PYTHONPATH."""

import os
import subprocess
import sys

from hail_spark.session import _default_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from hail_spark import get_spark
spark = get_spark("worker_path_probe")
print("WORKER:" + spark.sparkContext.parallelize([0], 1).map(lambda _: __import__("hail_spark").__name__).first())
spark.stop()
"""


def test_default_driver_memory_below_host():
    mem = _default_driver_memory()
    assert mem.endswith("m")
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(mem[:-1]) * 2**20 < host


def test_python_workers_import_package_without_pythonpath(tmp_path):
    # the child runs outside the repo with PYTHONPATH unset, so a worker
    # finds hail_spark only through the path the session ships
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "WORKER:hail_spark" in out.stdout, out.stderr[-3000:]
