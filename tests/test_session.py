"""The session recipe reaches the JVM: ``get_spark``'s JIT policy
(``session.JIT_JAVA_OPTIONS``) is in force in the driver JVM, set when the
VM was created, also when the caller passes its own
``spark.driver.extraJavaOptions`` on the submit line (as perfbench does).
Spark starts the JVM with ``-XX:+IgnoreUnrecognizedVMOptions``, so a
misspelled flag would be dropped silently; reading each flag back from
HotSpot catches that."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from levsim.session import JIT_JAVA_OPTIONS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# -XX:Name=Value -> {Name: Value}
WANT = dict(opt[len("-XX:"):].split("=", 1) for opt in JIT_JAVA_OPTIONS.split())

PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from test_session import vm_options
from levsim.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1)
probe = spark.sparkContext._jvm.java.lang.System.getProperty("levsim.probe")
print(json.dumps({"options": vm_options(spark), "probe": probe}))
spark.stop()
"""


def vm_options(spark) -> dict:
    """{flag: [value, origin]} for each flag of the JIT policy, read from
    the running JVM's HotSpotDiagnosticMXBean."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    out = {}
    for name in WANT:
        o = bean.getVMOption(name)
        out[name] = [o.getValue(), o.getOrigin().toString()]
    return out


def test_jit_policy_reaches_the_jvm(spark):
    assert len(WANT) == 4 and all(n.startswith("Tier4") for n in WANT), WANT
    assert vm_options(spark) == {n: [v, "VM_CREATION"] for n, v in WANT.items()}


def test_jit_policy_survives_caller_extra_java_options():
    """Submit args of perfbench's shape replace a builder-set
    ``spark.driver.extraJavaOptions``; ``defaultJavaOptions`` is prepended
    to theirs, so both the policy and the caller's option arrive."""
    env = {**os.environ,
           "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
           "PYSPARK_SUBMIT_ARGS":
               "--conf spark.driver.extraJavaOptions=-Dlevsim.probe=1 pyspark-shell",
           "LEVSIM_DRIVER_MEM": "1g"}
    out = subprocess.run([sys.executable, "-c", PROBE, os.path.join(ROOT, "tests")],
                         env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["probe"] == "1"
    assert got["options"] == {n: [v, "VM_CREATION"] for n, v in WANT.items()}
