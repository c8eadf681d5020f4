"""SparkSession factory with scale-oriented defaults.

The same builder is used by tests, bench.py and the driver entry point so
every code path runs with identical semantics:

- AQE on (runtime join-strategy switching, skew-join splitting, partition
  coalescing) — the 100 TB design lever we rely on instead of hand-tuning.
- UTC session timezone — required for byte-identical timestamp comparison
  against the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for any Pandas-UDF escape hatches.
- ANSI mode OFF to keep permissive SQL semantics aligned with the oracle.
- Generated-code class cache sized to the engine's working set
  (``spark.sql.codegen.cache.maxEntries`` = `CODEGEN_CACHE_ENTRIES`).
  Spark's default of 100 entries is a segmented Guava LRU, so eviction
  starts below 100 and classes are recompiled on every pass. Measured in
  ``local[4]``, where driver and executors share one JVM: a warm
  perfbench ``iterative_graph`` pass recompiled 227 classes at the
  default and compiles 0 here; one sweep of the 314 declared queries at
  sf0.001 compiles ~3,500 distinct classes, and its second sweep went
  4,774 compiles / 71.6 s -> 163 / 56.1 s. Those 163 are not evictions
  (the cache is under half full): their source differs between sweeps.
  The cost was ~28 MB more metaspace plus compressed class space after
  that second sweep. The setting is a static conf, read once per JVM at
  the first codegen, so it only takes effect when this builder creates
  the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Above the ~3,500 distinct generated classes of one whole-surface sweep,
# with headroom for the Guava cache's per-segment caps.
CODEGEN_CACHE_ENTRIES = 8192


def merged_submit_args(mem: str, existing: str | None) -> str:
    """PYSPARK_SUBMIT_ARGS value honoring both the wrapper and
    SPARK_DRIVER_MEM: keep a pre-set value verbatim when it already pins
    --driver-memory, otherwise prepend ours (r2's setdefault silently
    ignored SPARK_DRIVER_MEM under any wrapper that pre-set the var)."""
    if existing is None:
        return f"--driver-memory {mem} pyspark-shell"
    if "--driver-memory" in existing:
        return existing
    return f"--driver-memory {mem} {existing}"


def get_spark(
    app_name: str = "openmrs-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale you would size this to data volume instead; AQE coalesces
    downward at runtime either way.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    # Driver heap must be fixed BEFORE the JVM launches — a builder .config()
    # is too late once getOrCreate has started the gateway. Route it through
    # PYSPARK_SUBMIT_ARGS, which the Python gateway reads at JVM launch.
    mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = merged_submit_args(
        mem, os.environ.get("PYSPARK_SUBMIT_ARGS")
    )
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        # events.ts is parquet TIMESTAMP(NANOS) — Spark has no ns timestamp;
        # read as long and convert in sources/parquet.py (µs-exact: the data
        # is µs-grained).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # generous broadcast threshold: our dims (region/nation/part at test
        # SF) are tiny; at 100 TB the dims are still << executor memory
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # caller overrides (e.g. tools/shuffle_audit.py re-enables the UI to
    # read per-stage shuffle metrics over the REST API)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compilations(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far.

    Reads Spark's JVM-wide ``CodegenMetrics`` compile-time histogram, so
    in ``local[N]`` it counts driver and executor compiles alike. Take
    the difference around a piece of work: a warm pass that finds all its
    classes in the cache adds 0.
    """
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
