"""SparkSession construction with engine defaults.

Centralizes the configs that matter at scale so jobs/tests/bench share
one tuned profile:
  - AQE on (runtime re-plan, skew-join backstop)
  - Arrow on (all our UDFs are pandas/Arrow — per-row Python is banned)
  - shuffle partitions sized by caller (local tests: cores; cluster:
    ~2-3x total cores via spark-submit conf)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else half
    of this host's memory — the cgroup limit when one is set, else
    physical RAM — capped at 8g and floored at 1g."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for limit in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(limit) as f:
                ram = min(ram, int(f.read()))
        except (OSError, ValueError):  # absent, or "max": no limit
            pass
    return f"{min(8192, max(1024, ram // 2 // 2**20))}m"


ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # our posting blocks target ~128KB rows; keep Arrow batches large
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.compression.codec": "zstd",
    # session timezone pinned for deterministic warc_ts round-trips
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": default_driver_mem(),
}

# shuffle/spill files on tmpfs — the sandbox stand-in for per-executor
# local disks (this VM's /tmp is one shared spinning vda; a cluster never
# funnels every executor's spill through one disk)
_local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
if _local_dir is None and os.path.isdir("/dev/shm"):
    _local_dir = "/dev/shm/spark-local"
if _local_dir:
    ENGINE_CONFS["spark.local.dir"] = _local_dir


def default_cpus() -> int:
    """Local-mode core count: ``SPARK_GRAFT_CPUS`` if set, else the CPUs
    this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app: str = "searchengine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Local session with ENGINE_CONFS. The repo root goes on
    ``PYTHONPATH`` before the JVM starts: Spark's Python workers inherit
    the JVM's environment, not the driver's ``sys.path``, and would
    otherwise import ``searchengine_spark`` only when started from the
    repo root."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root] + [p for p in paths if p])
    cpus = default_cpus()
    b = SparkSession.builder.appName(app)
    b = b.master(master or f"local[{cpus}]")
    for k, v in ENGINE_CONFS.items():
        b = b.config(k, v)
    b = b.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8))
    )
    b = b.config("spark.default.parallelism", str(cpus))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def job_spark(app: str) -> SparkSession:
    """Session for a ``jobs/`` entry point. Under ``spark-submit`` (its JVM
    gateway is announced in ``PYSPARK_GATEWAY_PORT``) the submitted master
    and ``--conf`` values stand and ENGINE_CONFS fill only the keys the
    submission left unset; a plain-python run gets ``get_spark``'s
    host-sized ``local[n]`` session, so ``SPARK_GRAFT_CPUS`` applies and
    the workers import the engine from the repo root
    (``spark-submit --py-files dist/engine.zip`` ships it instead)."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return get_spark(app)
    from pyspark import SparkConf, SparkContext

    # attach to spark-submit's JVM first, so SparkConf() loads the
    # submitted spark.* properties
    SparkContext._ensure_initialized()
    conf = SparkConf()
    conf.setIfMissing("spark.app.name", app)
    for k, v in ENGINE_CONFS.items():
        conf.setIfMissing(k, v)
    return SparkSession.builder.config(conf=conf).getOrCreate()
