"""SparkSession factory.

The reference splits execution across a Snowflake warehouse (ODBC), a
single-threaded R process, and CSV files on disk
(reference: 1_snowflake_connection.R:54-63, 2_data_importing_cleaning.R:169).
Here a single SparkSession replaces all three layers; this module is the
one place engine-wide configuration lives.

Scale notes (local[32] test box vs. 1000-executor target):
* AQE is on so partition counts, join strategies, and skew handling are
  re-planned from runtime statistics — the settings below are starting
  points, not the plan.
* ``spark.sql.shuffle.partitions`` defaults to the local core count; on
  a real cluster AQE coalesces from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``, so a
  large initial value is safe.
* Session timezone is pinned to UTC so timestamp semantics don't depend
  on the host — mandatory for deterministic cross-engine comparison.
* PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
  is off. When on, every DataFrame and Column call captures its Python
  call site and sends it to the JVM: most of the py4j round trips spent
  building the cohort and BP stages, paid on every run.
  Errors keep their class, message and JVM stack; they lose only the
  Python ``file:line`` in the DataFrame query context.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "hypertension_dashboard_pipeline_spark"


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the engine SparkSession.

    Parameters are overridable for tests/bench; defaults target the
    local[N] harness while remaining valid for cluster submission
    (where ``master`` is supplied by spark-submit and must be None here).
    """
    cpus = cpu_count()
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")

    conf: dict[str, str] = {
        # --- memory: in local[N] mode the driver JVM hosts every
        # executor thread; Spark's 1g default heap causes spurious
        # spills/OOM with 32 threads. Only effective for the first
        # session in a process (pre-JVM-launch); harmless otherwise.
        # Cluster submissions override via spark-submit.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # --- determinism ---
        "spark.sql.session.timeZone": "UTC",
        # --- adaptive execution: runtime re-planning at any scale ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- shuffle sizing: small for local tests; AQE coalesces on a
        # cluster so an sf-appropriate initial number is cheap ---
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        # --- python<->jvm transfer is Arrow-batched, never row-at-a-time ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # --- scan parallelism: default 128m row-groups; local testdata is
        # tiny so splits barely matter, but keep the cluster default ---
        "spark.sql.files.maxPartitionBytes": "134217728",
        # quiet progress bars in test output
        "spark.ui.showConsoleProgress": "false",
        # --- no per-call Python origin capture on the driver ---
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
