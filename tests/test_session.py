"""What ``get_spark`` hands to the JVM and to the Python workers.

Both checks need a fresh JVM, because the JVM of the pytest session is
already running, so one child process started outside the repository
makes a session and reports on it. Its working directory matters: the
JVM starts its Python workers there, and from the repository root the
workers would find the package on their ``sys.path`` by accident.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from etl4s_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json, sys
sys.path.insert(0, {repo!r})
from etl4s_spark.session import get_spark
from etl4s_spark.queries import QUERIES, load_all

spark = get_spark(
    "test_session", master="local[2]", shuffle_partitions=2,
    extra_conf={{"spark.driver.extraJavaOptions": "-Dx.y=1"}},
)
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
load_all()
rows = QUERIES["q_scan_python_datasource"](spark, {sf_dir!r}).count()
print(json.dumps({{"jvm_args": list(mx.getInputArguments()), "rows": rows}}))
spark.stop()
"""


@pytest.fixture(scope="module")
def child(tmp_path_factory, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO, sf_dir=sf_dir)],
        cwd=tmp_path_factory.mktemp("outside_repo"),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_driver_jvm_gets_jit_flags_before_caller_options(child):
    args = child["jvm_args"]
    for flag in session._JIT_OPTIONS:
        assert flag in args, f"{flag} missing from {args}"
    assert "-Dx.y=1" in args, args
    last_engine = max(args.index(flag) for flag in session._JIT_OPTIONS)
    assert args.index("-Dx.y=1") > last_engine, args


def test_python_worker_query_runs_outside_repo_cwd(child):
    # the data source's reader is pickled to the workers and imports
    # etl4s_spark there; without the executor PYTHONPATH that import
    # fails with ModuleNotFoundError
    assert child["rows"] > 0
