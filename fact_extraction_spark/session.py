"""SparkSession factory with the engine's scale-oriented defaults.

The defaults are chosen for a multi-executor cluster reading ~100 TB of
pages (AQE on, skew-join splitting on, Arrow batching bounded so giant
pages cannot blow an executor), but work identically on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Bounded Arrow batches: a single "giant page" row can be multi-MB; batches
# of 2k rows keep per-batch memory well under typical executor headroom.
ARROW_MAX_RECORDS_PER_BATCH = 2048


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` for this host: ``$SPARK_DRIVER_MEM`` when
    set, else a heap derived from MemTotal. In local mode the driver IS the
    executor, so it takes a quarter of the host, and never so much that the
    OS, the host's other tenants and one Python worker per core (about
    512 MB each) lose their share."""
    override = os.environ.get("SPARK_DRIVER_MEM")
    if override:
        return override
    with open(meminfo) as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f
                        if line.startswith("MemTotal:"))
    cpus = len(os.sched_getaffinity(0))
    return f"{max(1024, min(total_mb // 4, total_mb - 2048 - 512 * cpus))}m"


def runs_engine_daemon(master: str) -> bool:
    """Whether a session on ``master`` starts its Python workers from
    ``worker_daemon``: only a local master, whose workers read the
    driver-local ``PYTHONPATH`` that holds the engine."""
    return master == "local" or master.startswith("local[")


def get_spark(
    app_name: str = "fact_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``. Under
    ``spark-submit`` (a Python driver launched by the JVM, which hands it
    ``PYSPARK_GATEWAY_PORT``) every key the submitter set, its master
    included, is kept: the defaults fill in only the rest.

    A local master runs one warm pool of Python workers, forked from
    ``fact_extraction_spark.worker_daemon``, which imports pandas, pyarrow
    and the engine's UDF modules once per pool and, on CPython < 3.13,
    guards the zip importers so a task does not re-read ``pyspark.zip``.
    Spark keys its pools by worker environment, and SQL runners add
    ``SPARK_SIMPLIFIED_TRACEBACK`` to it where the RDD runner behind
    ``createDataFrame(list)`` does not, so the simplified traceback is off:
    both then share the one pool, and a UDF error's text also carries
    pyspark's own frames. Other masters keep pyspark's own daemon, since
    the engine is on their workers' path only where the submitter put it.

    A local master's JVM that ``get_spark`` launches runs two JIT compiler
    threads (``-XX:CICompilerCount=2``, one C1 and one C2; HotSpot gives 4
    cores three): in local mode it is also the executor, and C2 compiling
    Spark itself was the largest CPU share of a cold extract, while what
    runs hot still gets C2 code. The key is
    ``spark.driver.defaultJavaOptions``, which the launcher puts ahead of
    ``extraJavaOptions`` (a caller's own JVM options keep both); an
    ``extra_conf`` value of ``""`` restores HotSpot's count. Not set under
    ``spark-submit``, whose JVM already runs. Against three threads on 4
    cores: a cold extract +21-25 % pages per CPU-s; learn + extract in one
    session (``jobs/run_pipeline.py``) -15 % CPU at no wall cost; tier-1
    and the 40 declared queries within the host's spread; a warm extract
    thin within 3 %, fat +6-20 % CPU.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    # Make the package importable inside Python workers regardless of the
    # driver's cwd. On a real cluster this is `spark-submit --py-files
    # fact_extraction_spark.zip`; locally, PYTHONPATH does the same job.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else ""))

    submitted: set[str] = set()
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # what spark-submit was given: the launching JVM's system
        # properties, which SparkConf reads once the gateway is connected
        SparkContext._ensure_initialized()
        submitted = {k for k, _ in SparkConf().getAll()}
    builder = SparkSession.builder.appName(app_name)
    if master is None and "spark.master" not in submitted:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    else:
        master = SparkConf().get("spark.master", "")

    if shuffle_partitions is None:
        # On a real cluster this should be ~2-3x total cores; locally match
        # core count so AQE coalescing has room without tiny-task overhead.
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    return builder.config(map=session_conf(
        master, shuffle_partitions, submitted, extra_conf)).getOrCreate()


def session_conf(master: str, shuffle_partitions: int, submitted=frozenset(),
                 extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """``get_spark``'s conf over ``master``, built without a JVM: engine
    defaults less every ``submitted`` key (empty unless ``spark-submit``
    launched the JVM), then ``extra_conf``. Reads PYTHONPATH and meminfo."""
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # AQE: runtime re-planning, shuffle coalescing, skew-join splitting.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for all pandas UDF traffic; bounded batches for giant rows.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(
            ARROW_MAX_RECORDS_PER_BATCH
        ),
        # 128 MiB scan splits — the parquet-friendly default; explicit so the
        # scale story is documented, not accidental.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Broadcast threshold: alias dictionaries and learned-pattern tables
        # are small dims; let Catalyst broadcast up to 64 MiB automatically.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        # In local mode the driver IS the executor: all task threads share
        # this one heap with the DataFrame cache, sized to the host; on a
        # real cluster this is spark-submit's --executor-memory and the
        # driver stays small.
        "spark.driver.memory": default_driver_memory(),
        "spark.ui.enabled": "false",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if runs_engine_daemon(master):
        conf.update({
            "spark.python.daemon.module": "fact_extraction_spark.worker_daemon",
            "spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled":
                "false",
        })
        if not submitted:   # get_spark launches this JVM
            conf["spark.driver.defaultJavaOptions"] = "-XX:CICompilerCount=2"
    conf = {k: v for k, v in conf.items() if k not in submitted}
    if extra_conf:
        conf.update(extra_conf)
    return conf
