"""SparkSession construction: the engine's one session recipe.

``ENGINE_CONF`` is the recipe: AQE on (runtime shuffle coalescing and
skew-join splitting, required by the north rule), Arrow with 10,000-row
batches for the pandas-UDF stages, and UTC.  ``get_spark`` applies it plus
the local-mode settings (master, shuffle partitions, driver memory,
console progress) and the JVM's JIT policy ``JIT_JAVA_OPTIONS``; the
spark-submit entry point ``scripts/run_pipeline.py`` applies it and nothing
else, so the submit line decides those (``--driver-java-options`` for the
JIT policy: that JVM is running before the script starts).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def iceberg_jar_path() -> str | None:
    """Probe for an Iceberg Spark runtime jar: $LEVSIM_ICEBERG_JAR first,
    then the pyspark distribution's jars directory.  Returns None when the
    environment ships no jar (this sandbox does — SURVEY.md §1), so callers
    can skip-not-silently."""
    p = os.environ.get("LEVSIM_ICEBERG_JAR")
    if p and os.path.exists(p):
        return p
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    try:
        for j in sorted(os.listdir(jars)):
            if j.startswith("iceberg-spark-runtime") and j.endswith(".jar"):
                return os.path.join(jars, j)
    except OSError:
        pass
    return None


ICEBERG_CATALOG = "levsim_ice"


# Every levsim session runs with these.  The AQE lines equal Spark's
# defaults and stay explicit: a spark-submit run can start from a
# spark-defaults file that turns them off.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
}


# The driver JVM's JIT policy: C2 (tier-4) thresholds at 10x HotSpot's
# defaults.  A Spark job over a thousand rows ends before the default C2
# compiles pay back, while hot code in a long run still reaches C2, later.
# Cold perfbench er_batch, seeds 1-10 on 4 vCPU: process-tree CPU median
# 50.8 -> 38.6 s, most of it saved on C2 compiler threads.  A warm
# 45k-page run takes 7% less CPU at about the same wall (C1 only,
# -XX:TieredStopAtLevel=1, made it 40% slower; x5 saved less, x30 lost the
# 45k run's CPU gain).  Under local[N] the tasks run in this JVM, so it
# covers every stage.  Passed as spark.driver.defaultJavaOptions, which
# Spark prepends to a caller's spark.driver.extraJavaOptions instead of
# being replaced by it.
JIT_JAVA_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=400000"
)


def get_spark(
    app_name: str = "levsim",
    master: str | None = None,
    shuffle_partitions: int = 64,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    """A local session: ``ENGINE_CONF`` plus master (default
    ``local[$SPARK_GRAFT_CPUS]``, else every core), shuffle width, driver
    memory (``$LEVSIM_DRIVER_MEM``, default 8g), no console progress and
    ``JIT_JAVA_OPTIONS`` (it replaces a spark-defaults
    ``spark.driver.defaultJavaOptions``; like the memory, it takes effect
    only when this call starts the JVM)."""
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    b = (
        SparkSession.builder.appName(app_name)
        .config(map=ENGINE_CONF)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("LEVSIM_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", JIT_JAVA_OPTIONS)
        .config("spark.ui.showConsoleProgress", "false")
    )
    if iceberg_warehouse is not None:
        # the real-catalog seam (BASELINE.json input_hint says Iceberg
        # tables): configured only when a runtime jar is actually present —
        # SnapshotTable's Parquet emulation stays the fallback
        jar = iceberg_jar_path()
        if jar is None:
            raise RuntimeError(
                "iceberg_warehouse requested but no iceberg-spark-runtime "
                "jar found (set LEVSIM_ICEBERG_JAR or install into the "
                "pyspark jars dir)"
            )
        b = (
            b.config("spark.jars", jar)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config(
                f"spark.sql.catalog.{ICEBERG_CATALOG}",
                "org.apache.iceberg.spark.SparkCatalog",
            )
            .config(f"spark.sql.catalog.{ICEBERG_CATALOG}.type", "hadoop")
            .config(
                f"spark.sql.catalog.{ICEBERG_CATALOG}.warehouse", iceberg_warehouse
            )
        )
    return b.getOrCreate()
