"""SparkSession factory with defaults tuned for the 100 TB target.

Reference lifecycle analog (SURVEY.md §3): Pig's parse→logical→physical→
MR-compile pipeline is Catalyst's job here; this module only fixes the
session-level knobs that Pig exposed as job properties (combiner on,
skew handling on, parallelism) to their Spark equivalents.
"""

from __future__ import annotations

import os
import warnings

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: Runtime-settable confs applied to ANY session handed to us (including the
#: driver's).  Kept minimal and safe to set mid-session.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet is written with TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as long and convert in the catalog (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle comparisons (DuckDB) assume UTC wall-clock timestamps.
    "spark.sql.session.timeZone": "UTC",
    # AQE = runtime re-planning: coalesce post-shuffle partitions, convert
    # to broadcast join when a side turns out small, split skewed joins
    # (Pig's USING 'skewed' — SURVEY.md §2.3 — for free).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Respect the advisory partition size when coalescing instead of
    # stopping at default parallelism — the Spark docs' recommended
    # production setting.  Post-shuffle stages over small intermediates
    # run a handful of right-sized tasks rather than one tiny task per
    # core (measured r7: ~15% off the per-query constant on
    # floor-dominated queries at sf0.1, neutral on data-proportional
    # ones).  Iterative ops that must keep their per-round parallelism
    # under tiny test inputs pin it explicitly (plans/partitioning.py:
    # pin_partitions).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
}


#: Janino-compiled classes kept per JVM (Spark's default is 100).
#: perfbench's relational list generates 156 distinct classes and its
#: pipeline list 129, so at 100 the LRU evicted most of them before their
#: next use: every round recompiled 92-148 (relational) and 83-122
#: (pipeline) classes (x_apply_cdc alone: 35 per execution).  The whole
#: registry (258 queries) generates ~3300 classes at sf0.001; one pass
#: over it grows metaspace by ~150 MB, the worst case, which 4096 holds.
#: A static conf: it takes effect only on the builder, before the JVM
#: starts.
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 4096


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to an existing session, skipping any conf the
    session refuses to modify.  Warns when the session (e.g. the
    driver's) was built with a smaller codegen cache than get_spark's,
    which no runtime conf can change."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            pass  # conf not modifiable on this session — keep its value
    entries = int(spark.conf.get(CODEGEN_CACHE_CONF, "100"))
    if entries < CODEGEN_CACHE_ENTRIES:
        warnings.warn(
            f"{CODEGEN_CACHE_CONF}={entries} (< {CODEGEN_CACHE_ENTRIES}): "
            "generated code is evicted and recompiled on every query; it "
            "is a static conf and must be set before the JVM starts",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


def janino_compiles(spark: SparkSession) -> int:
    """Janino compiles so far in this JVM (a codegen-cache miss each)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def get_spark(
    app_name: str = "pigout_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    Local testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    master comes from spark-submit and these confs still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core is right for the test
        # scale; a 1000-executor cluster overrides via extra_conf/submit.
        try:
            shuffle_partitions = int(cpus) if cpus != "*" else 32
        except ValueError:
            shuffle_partitions = 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Arrow for pandas_udf / mapInPandas / toPandas (the slow-path
        # escape hatch must at least be batched).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Don't let tiny local files produce one giant partition each at
        # scale; 128m is the parquet-friendly default.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # getOrCreate may have returned a pre-existing session → re-apply.
    return apply_runtime_confs(spark)
