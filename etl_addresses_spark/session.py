"""SparkSession factory.

Local-mode defaults sized for the test harness (local[32], single JVM)
but every knob here is the one you would set on a real cluster too:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
UTC session timezone (oracle comparison against DuckDB's UTC-naive
timestamps), Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The directory that holds the etl_addresses_spark package: Python
# workers import operator code (pandas UDFs, lambdas) by module path,
# so they need it on their path whatever the driver's cwd is.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "etl_addresses_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # parallelismFirst=true (the Spark default): AQE never coalesces
        # a shuffle below default parallelism.  false would spare small
        # shuffles some fixed per-task overhead, but AQE sizes partitions
        # in bytes and cannot see per-row CPU density: under false it
        # collapsed CPU-dense stages onto one core (r11:
        # minhash_lsh_pairs 3.66x, labelprop 1.9x).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        # Join-strategy envelope (guide §3.1/§9): preferSortMergeJoin
        # stays at Spark's default — the r14 A/B on the 14 join-bearing
        # headline rows measured the shuffled-hash-join planner
        # preference within noise on this fixture set (equi-joins here
        # either broadcast or carry sorted-side reuse).
        .config("spark.sql.join.preferSortMergeJoin", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # UI off by default (bench noise); SPARK_GRAFT_UI=1 enables it
        # so stress tools can read per-stage shuffle bytes from the
        # REST API (tools/stress_scale.py).
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
        .config("spark.ui.retainedStages", "2000")
        # ~128 MB parquet split targets; on a real cluster this keeps
        # task counts proportional to input bytes at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as raw nanos and normalize in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


class scoped_shuffle_partitions:
    """Scoped spark.sql.shuffle.partitions override for operators that
    size a shuffle from measured data (streaming state stores, the BPE
    trainer's vocab-sized pair counts).  The value only needs to hold
    while the scoped plan is CREATED/STARTED; the session default is
    restored for whatever runs next.  n=None is a no-op.

    SINGLE-THREADED-DRIVER assumption (r10 advice): the override
    mutates the session-global conf, so any query PLANNED concurrently
    on the same SparkSession (parallel driver threads, a streaming
    query started inside another scope) silently inherits the scoped
    width, and nested scopes restore correctly only in LIFO order.
    Every caller in this repo plans queries from one driver thread
    (the harness contract); a multi-threaded driver would need
    per-query overrides (e.g. a writeStream option) instead.  Note
    that EXECUTION may overlap freely — the width is baked into the
    physical plan at creation, which is all the scope protects."""

    _KEY = "spark.sql.shuffle.partitions"
    # A scoped width is a COUNT-DERIVED decision (loop state rows,
    # vocab size, stream volume); letting AQE's byte heuristic coalesce
    # below it re-introduces the serialization hazard the floor-4 rule
    # measured (r11: labelprop 1.9x when its loop rounds collapsed to
    # one partition under parallelismFirst=false).  So inside a scope
    # the chosen width is authoritative: parallelismFirst pins to true
    # for the scope's actions and the session default returns on exit.
    _KEY_PF = "spark.sql.adaptive.coalescePartitions.parallelismFirst"

    def __init__(self, spark: SparkSession, n: int | None):
        self._spark, self._n = spark, n

    def __enter__(self):
        if self._n is not None:
            self._old = self._spark.conf.get(self._KEY)
            self._old_pf = self._spark.conf.get(self._KEY_PF)
            self._spark.conf.set(self._KEY, str(self._n))
            self._spark.conf.set(self._KEY_PF, "true")
        return self

    def __exit__(self, *exc):
        if self._n is not None:
            self._spark.conf.set(self._KEY, self._old)
            self._spark.conf.set(self._KEY_PF, self._old_pf)
        return False
