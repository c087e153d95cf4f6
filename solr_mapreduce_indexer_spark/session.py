"""SparkSession factory tuned for the engine (local sandbox + cluster)."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_ZIP: str | None = None
_SHIPPED: set[int] = set()


def _package_zip() -> str:
    """Zip this package once per process (the spark-submit --py-files
    payload, built on demand so workers can import our UDF modules)."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        root = os.path.dirname(pkg_dir)
        path = os.path.join(tempfile.gettempdir(),
                            f"solr_mapreduce_indexer_spark_{os.getpid()}.zip")
        with zipfile.ZipFile(path, "w") as z:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, root))
        _PKG_ZIP = path
    return _PKG_ZIP


def ensure_shipped(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of cwd —
    idempotent per session; called from every public entry point so the
    engine also works under a SparkSession we didn't create (e.g. the
    driver's __spark_entry__ contract or a real cluster)."""
    key = id(spark)
    if key in _SHIPPED:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _SHIPPED.add(key)


def default_shuffle_partitions(master: str, cpus: int) -> int:
    """Shuffle partitions for a master URL, one per core: local[N] and
    local[N,F] (F = task retries) → N, local[*] → cpus,
    local-cluster[n,cores,mem] → n·cores. A cluster master has no core
    count in its URL, so it gets cpus; set it explicitly there (rule of
    thumb: >= 4x cores, mirroring the reference's 8x-slots
    over-decomposition, MorphlineEnabledIndexerTool.java:65-67)."""
    if "[" not in master:
        return cpus
    args = master[master.find("[") + 1:master.find("]")].split(",")
    if master.startswith("local-cluster"):
        return int(args[0]) * int(args[1])
    return cpus if args[0] == "*" else int(args[0])


def get_spark(app: str = "solr_mapreduce_indexer_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str | None = None,
              executor_memory: str | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions(master, cpus)
    b = (SparkSession.builder
         .master(master)
         .appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         # local-FS checksum sidecars (.crc) double the small-file op count
         # for zero value here; real clusters use HDFS/S3 committers anyway
         .config("spark.hadoop.fs.file.impl",
                 "org.apache.hadoop.fs.RawLocalFileSystem")
         # 1 MB shuffle write buffers: measured 1.6x faster 1M-turn build on
         # this sandbox's virtualized FS (default 32k causes a syscall per
         # 32k shuffle bytes, which gVisor-style hosts serialize)
         .config("spark.shuffle.file.buffer", "1m")
         .config("spark.shuffle.localDisk.file.output.buffer", "1m")
         .config("spark.ui.enabled", "false")
         # the reference disables speculative execution because duplicate
         # writers corrupt an index (IndexTool.java:129-131); our segment
         # writes are write-once + manifest commit, but keep parity:
         .config("spark.speculation", "false"))
    if driver_memory:
        # pre-size the heap: growing it lazily causes minutes of first-touch
        # page-fault noise on virtualized hosts, polluting benchmarks
        b = (b.config("spark.driver.memory", driver_memory)
              .config("spark.driver.extraJavaOptions", f"-Xms{driver_memory}"))
    if executor_memory:
        # local-cluster / real clusters: per-executor heap (local mode
        # executors live in the driver JVM and ignore this)
        b = b.config("spark.executor.memory", executor_memory)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
