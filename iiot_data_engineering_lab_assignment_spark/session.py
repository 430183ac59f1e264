"""SparkSession factory.

The reference builds its session at spark-jobs/timescale_to_deltalake.py:11-27
(Delta extension + Azure wasb configs). Here the session is tuned for the
engine itself:

* UTC session time zone so event-time semantics are deployment-independent
  (the reference stores TIMESTAMPTZ in Postgres; we normalize at the session).
* AQE on (runtime partition coalescing + skew-join splitting) - this is the
  scale story for 100 TB shuffles; at local[32] it also keeps tiny fixture
  shuffles from fragmenting into 200 empty tasks.
* Arrow on for any pandas-UDF path (extension operators only - the core
  surface is pure JVM expressions).
* ``spark.sql.legacy.parquet.nanosAsLong`` so that if the `events` fixture
  carries TIMESTAMP(NANOS) (one of the two layouts the generator has
  produced; the other is plain TIMESTAMP(MICROS)) Spark's vectorized
  reader accepts it as int64 instead of rejecting the file;
  sources.readers detects the layout at scan time and converts
  ns->microsecond TimestampType when needed, so downstream plans always
  see a plain timestamp column and row-group min/max skipping applies
  on either layout.
* ``spark.sql.codegen.cache.maxEntries`` = :data:`CODEGEN_CACHE_ENTRIES`
  (Spark's default is 100).  Spark caches the classes Janino compiles for
  whole-stage pipelines, projections and predicates in one JVM-wide LRU
  cache keyed by the generated source; a class evicted before its query
  comes back is generated and compiled again (and starts cold in the JIT).
  The constant is sized to the measured working set of generated classes,
  not guessed: the 13-query analyst mix of ``perfbench`` (12 registered
  analyst queries plus ``dedup_keep_best``) needs about 230 classes
  (227 at sf0.001), so at 100 entries every round of the mix re-ran
  370-380 Janino compilations (0 at this size); one ``iiot_nightly``
  pass plus its checks needs 72; all 288 registered queries in one
  session at sf0.001 need at least 3,645.
  4096 covers the whole registered surface, so the test suite and the
  oracle gate stop evicting too.  ``tools/check_oracles.py`` prints the
  compilations of a full run, which re-measures the surface's working set.
  The setting is static and JVM-wide: it applies only when ``get_spark``
  starts the SparkContext.  A session built elsewhere (a caller's own
  vanilla ``SparkSession.builder`` session, for one) keeps Spark's 100
  entries.

Delta Lake is the intended lake format at deployment (the reference writes
Delta 2.4, timescale_to_deltalake.py:33-37); the runtime here has no
delta-spark package, so the lifecycle layer (plans.lifecycle) targets
partitioned Parquet with the identical API shape and enables Delta
transparently when the package is importable.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "scratch_dir", "CODEGEN_CACHE_ENTRIES"]

#: Entries of Spark's generated-class cache; see the module docstring.
CODEGEN_CACHE_ENTRIES = 4096

_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """Per-process scratch allocator for streaming checkpoints / stores /
    sentinel dirs: every dir lives under ONE root that is removed at
    interpreter exit, so repeated bench/driver invocations of the
    streaming-replay queries no longer accumulate temp directories
    (r11 ADVICE).  Same contract as ``tempfile.mkdtemp`` — a fresh,
    private directory per call."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def get_spark(
    app_name: str = "iiot-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters default from the environment: ``SPARK_GRAFT_CPUS`` sizes
    local parallelism (driver contract), otherwise ``local[*]``.  On a real
    cluster, pass ``master=None`` with ``spark.master`` preset in the
    environment and these configs ride along unchanged.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # One shuffle partition per core locally; a cluster deployment
        # overrides via extra_conf (rule of thumb: 2-3x total cores, or
        # let AQE coalesce from a high initial count).
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TimestampType
        # (pre-3.4 behavior), not TIMESTAMP_NTZ: the engine normalizes all
        # event time to TimestampType under the UTC session timezone, and
        # inferring NTZ only forced a per-row cast above every events scan
        # (sources.readers applies the same conf defensively for
        # externally-built sessions).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if _delta_available():
        b = b.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
