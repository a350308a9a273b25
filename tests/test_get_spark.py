"""`get_spark`'s session defaults."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
from streamsurfer_spark.session import get_spark
spark = get_spark("get-spark-default-probe")
print(json.dumps([spark.sparkContext.master,
                  spark.conf.get("spark.sql.shuffle.partitions")]))
spark.stop()
"""


def test_default_threads_follow_host_cpus():
    """With $SPARK_GRAFT_CPUS unset, local mode takes one thread and one
    shuffle partition per CPU this process may run on. Runs in a fresh
    interpreter: the suite's own session is built with the variable set."""
    n = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    master, partitions = json.loads(out.stdout.strip().splitlines()[-1])
    assert master == f"local[{n}]"
    assert partitions == str(n)
