"""SparkSession factory with scale-ready defaults.

Design notes (100 TB target):
- AQE on: runtime shuffle coalescing, skew-join splitting, and dynamic
  broadcast selection — essential at 1000-executor scale where static
  partition counts are always wrong for at least one stage.
- UTC session timezone: deterministic timestamp rendering (the reference
  stamps UTC strings — /root/reference/main.go:179) and oracle parity.
- shuffle.partitions is a *local* default sized to the thread count. On
  a real cluster, raise `spark.sql.adaptive.coalescePartitions.
  initialPartitionNum` (or pass `get_spark(shuffle_partitions=...)`) so
  partitions scale with data and AQE coalesces the small stages back
  down. Measured on this box (30× probe, ql54): 128 partitions cut a
  GC-bound linear-volume shuffle 40%, but blanket-raising
  initialPartitionNum to 256 SLOWED every fixture-scale query 1.5-2×
  (local-mode pre-coalesce reducer overhead) — so the wide default is a
  cluster setting, deliberately NOT baked in locally.
- Arrow enabled for every pandas interchange (vectorized UDF hot paths).
- Python tasks do not re-read unchanged zip archives. A pyspark worker
  calls `importlib.invalidate_caches()` at the start of every task
  (`worker_util.setup_spark_files`). On CPython 3.10.13, 3.11.7 and
  3.12.1 that makes every `zipimporter` re-parse its archive's directory
  at once: ~16 importers over pyspark.zip, the spark-core jar and py4j,
  0.21–0.24 s per task on a 4-CPU host, even on a reused worker (3.13.0
  only drops the cache and re-reads lazily). Importing this module wraps
  `zipimporter.invalidate_caches` so it delegates only when the
  archive's `(st_mtime_ns, st_size)` changed since that importer's last
  call, or the stat fails: a rewritten or removed archive is still
  re-read, so the invalidation contract holds (an importer's first call
  always re-reads, as its directory may predate any stat). It is an
  import-time hook, not a `spark.python.daemon.module`, because a daemon
  module must be importable when the daemon starts (which `--py-files`
  deployments are not) and would miss sessions built without
  `get_spark`; the package `__init__` imports this module, so every
  worker that unpickles engine code installs it, and its later tasks
  skip the re-read.
"""

from __future__ import annotations

import functools
import os
import zipimport
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def _skip_unchanged_archive_rereads() -> None:
    """Wrap `zipimporter.invalidate_caches` (see the module docstring).
    Idempotent: a second call, or a reload of this module, keeps one wrap."""
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if original is None or hasattr(original, "_archive_stat_gated"):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            seen = (st.st_mtime_ns, st.st_size)
        except OSError:
            seen = None
        if seen is None or seen != getattr(self, "_archive_stat_seen", None):
            # stat before the re-read: a rewrite during it shows next call
            original(self)
            self._archive_stat_seen = seen

    invalidate_caches._archive_stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_archive_rereads()

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "streamsurfer-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session used by the engine, tests, and bench.

    Local mode uses $SPARK_GRAFT_CPUS threads; on a cluster the same
    configuration is valid — nothing here assumes single-node.
    ``shuffle_partitions`` defaults to the thread count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # shuffle/spill block codec. Default = Spark's own default (lz4,
        # fastest); big single-box scale probes set zstd (~1.5-2× smaller
        # shuffle files) because their binding resource is scratch DISK,
        # not CPU — see tools/qp08_bounded_probe.py
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.ui.enabled", "false")
        # Python workers (UDF executors AND the Python streaming-source
        # runner) get 15 s by default to connect back to the JVM after
        # spawn; under co-tenant host contention a fork+import can exceed
        # that (observed once in the r13 driver's pytest run: a 23-minute
        # suite hit SocketTimeoutException inside the streaming source
        # runner). 120 s trades slower surfacing of a genuinely dead
        # worker for immunity to contention stalls; zero effect on any
        # healthy-path timing.
        .config("spark.python.authenticate.socketTimeout", "120s")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS) which parquet-mr rejects by
        # default; read as long and convert ns→µs in table() below.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


@contextmanager
def arrow_enabled(spark: SparkSession):
    """Run the block's pandas interchange (toPandas / createDataFrame from
    pandas) over Arrow, then restore the prior conf value.

    Runtime-settable, so the driver's vanilla session (no get_spark
    configs) takes the Arrow path too; the flip does not outlive the
    block, so later code relying on non-Arrow toPandas semantics is
    unaffected. A locked-down conf falls back to the Row path with
    nothing to restore.
    """
    conf = spark.conf
    key = "spark.sql.execution.arrow.pyspark.enabled"
    try:
        prev = conf.get(key, None)
        conf.set(key, "true")
    except Exception:
        prev = False
    try:
        yield
    finally:
        if prev is not False:
            try:
                if prev is None:
                    conf.unset(key)
                else:
                    conf.set(key, prev)
            except Exception:
                pass


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every fixture table and register it as a temp view.

    Plain `spark.read.parquet` so Catalyst sees a pruneable file scan:
    filters and projections push into the parquet reader (verify with
    .explain → PushedFilters / ReadSchema).
    """
    dfs = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            dfs[name] = df
    return dfs


def table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture table (no view registration)."""
    if name == "events":
        # Runtime-settable SQL conf — needed when the caller (e.g. the
        # driver) built the session without our factory.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # nanosAsLong surfaces ts as nanoseconds-since-epoch (LongType).
        # Integer `div` keeps full precision (double division would lose
        # bits above 2^53); truncation to µs matches DuckDB's ns→µs read.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
