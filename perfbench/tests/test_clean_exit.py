"""A benchmark run leaves no process and no file behind, also when the
workload raises.

Each test starts the benchmark in a subprocess whose environment carries a
unique tag; every process it starts (the Spark JVM, its Python workers)
inherits the tag, so leftovers are found in /proc whoever their parent is.
Run from the checkout root: python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid

from perfbench.engine import marked_pids
from perfbench.run import WORK_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TAG = "PERFBENCH_TEST_TAG"


def run_tagged(args: list[str]) -> tuple[subprocess.CompletedProcess, str]:
    tag = uuid.uuid4().hex
    env = dict(os.environ, **{TAG: tag})
    proc = subprocess.run(
        [sys.executable, *args], cwd=ROOT, env=env, capture_output=True,
        text=True, timeout=600,
    )
    return proc, tag


def test_run_ends_every_process_and_removes_its_files():
    proc, tag = run_tagged(
        [
            "perfbench/run.py", "--workload", "near_dup_clusters",
            "--seed", "1", "--seconds", "1", "--trace", "0",
        ]
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 2
    assert marked_pids(TAG, tag) == []
    assert not os.path.exists(os.path.join(ROOT, WORK_DIR))


RAISING = """
import sys
sys.path[0] = {root!r}
from perfbench import run, workloads

def boom(self, engine, seconds, traced):
    engine.spark.range(1000).selectExpr("sum(id)").collect()
    raise RuntimeError("injected failure")

workloads.MainDag.run = boom
sys.argv = ["run.py", "--workload", "main_dag", "--seed", "1",
            "--seconds", "1", "--trace", "1"]
sys.exit(run.main())
"""


def test_failing_workload_still_ends_every_process():
    proc, tag = run_tagged(["-c", RAISING.format(root=ROOT)])
    assert proc.returncode != 0
    assert "injected failure" in proc.stderr
    lines = proc.stdout.strip().splitlines()
    assert not lines or not lines[-1].startswith("{")
    assert marked_pids(TAG, tag) == []
    assert not os.path.exists(os.path.join(ROOT, WORK_DIR))
