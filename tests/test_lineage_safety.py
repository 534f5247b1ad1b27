"""Executor loss costs a recompute, not the job.

One subprocess starts its own ``local-cluster[2,1,1024]`` session (two
executor JVMs under a standalone Worker), collects the candidates and the
consensus stage once, SIGKILLs every executor, waits for the Worker to
launch replacements and collects the same DataFrames again.  A stage that
shares a subtree through ``localCheckpoint`` fails the second collect with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``: the checkpoint's blocks died with
the executors, and there is no lineage to rebuild them from.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRILL = r'''
import os, re, signal, time
from pyspark.sql import SparkSession
from levsim import candidates, consensus

spark = (SparkSession.builder.master("local-cluster[2,1,1024]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
         .getOrCreate())
sc = spark.sparkContext
app = sc.applicationId.encode()


def executor_ids():
    return set(filter(None, sc._jsc.sc().getExecutorIds().mkString(",").split(",")))


def executor_pids():
    pids = set()
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().split(b"\0")
        except OSError:
            continue
        if b"org.apache.spark.executor.CoarseGrainedExecutorBackend" in cmd and app in cmd:
            pids.add(int(d))
    return pids


def wait(cond, what, timeout=300):
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(what)
        time.sleep(0.5)


def kill_executors():
    wait(lambda: len(executor_ids()) == 2 and len(executor_pids()) == 2, "two executors")
    old_ids, old_pids = executor_ids(), executor_pids()
    for pid in old_pids:
        os.kill(pid, signal.SIGKILL)
    # the Worker relaunches each executor under a new id
    wait(lambda: len(executor_ids() - old_ids) == 2 and not executor_ids() & old_ids,
         "two replacement executors")
    assert not executor_pids() & old_pids


def drill(name, df):
    first = sorted(map(tuple, df.collect()))
    kill_executors()
    try:
        again = sorted(map(tuple, df.collect()))
    except Exception as e:
        cls = re.findall(r"\[([A-Z_]+)\]", str(e))[:1]
        print(f"LEG {name} FAILED {type(e).__name__} {cls}", flush=True)
        return
    print(f"LEG {name} {'SAME' if again == first else 'DIFFERENT'} {len(first)}", flush=True)


blocks = spark.createDataFrame(
    [(f"d{i:03d}", "p", f"k{i % 7}") for i in range(300)],
    "doc_id string, block_pass string, block_key string")
drill("candidates", candidates.candidate_pairs(blocks, max_block_size=20))

clustered = spark.createDataFrame(
    [(f"c{i % 40}", f"d{i:03d}", f"text {i % 40} v{i % 3}") for i in range(300)]
    + [("solo", "s1", "alone")],
    "cluster_id string, doc_id string, norm_text string")
drill("consensus", consensus.elect_representatives(clustered))
spark.stop()
'''


@pytest.fixture(scope="module")
def drill_legs():
    if not os.path.isdir("/proc"):
        pytest.skip("the drill finds executor processes through /proc")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", DRILL], env=env, capture_output=True,
                         text=True, timeout=900)
    legs = {}
    for line in out.stdout.splitlines():
        if line.startswith("LEG "):
            _, name, rest = line.split(" ", 2)
            legs[name] = rest
    assert out.returncode == 0 and len(legs) == 2, (out.stdout[-2000:], out.stderr[-4000:])
    return legs


@pytest.mark.parametrize("leg", ["candidates", "consensus"])
def test_stage_survives_executor_loss(drill_legs, leg):
    verdict, *n = drill_legs[leg].split(" ", 1)
    assert verdict == "SAME", drill_legs[leg]
    assert int(n[0]) > 0
