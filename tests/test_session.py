"""``session.get_spark`` and the process that calls it."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
before = dict(os.environ)
from pyspark.sql.functions import udf
from kafka_delta_ingest_spark.session import get_spark

spark = get_spark(cpus=1)

@udf("string")
def invalidation(_):
    import zipimport
    import kafka_delta_ingest_spark  # noqa: F401 — the package imports
    return zipimport.zipimporter.invalidate_caches.__qualname__

out = spark.range(1).select(invalidation("id")).first()[0]
after = dict(os.environ)
changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
spark.stop()
print(json.dumps({"udf": out, "changed": changed}))
"""


def test_get_spark_leaves_the_process_environment_alone(tmp_path):
    """A fresh process, run outside the repository with no PYTHONPATH:
    get_spark changes none of its environment, and a Python UDF still
    runs in a worker forked from ``kdi_pydaemon`` (whose zipimport
    patch it sees), with the package importable."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["udf"] == "_install.<locals>.invalidate_caches"
    # PySpark's own SparkContext exports these two for its workers
    assert set(res["changed"]) <= {"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}
