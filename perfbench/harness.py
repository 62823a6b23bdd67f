"""Session and storage helpers shared by the workloads."""

from __future__ import annotations

import gc
import os
import sys

CORES = 4
MASTER = f"local[{CORES}]"


def prepare_env(root: str, work: str) -> None:
    """Pin the session shape and keep every file the run writes inside
    ``work``. Must run before the JVM starts; the JVM and the Python
    workers inherit the environment."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        raise SystemExit("run the benchmark with plain python3, not spark-submit")
    # get_spark derives local[N] and max(2N, 32) shuffle partitions from
    # this variable; setting it here overrides the caller's value
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # get_spark sets spark.driver.memory from this variable; drop the
    # caller's value so the engine default applies
    os.environ.pop("LASH_DRIVER_MEM", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def event_log_dir(work: str) -> str:
    return os.path.join(work, "eventlog")


def start_session(work: str, trace: bool):
    """The engine's session at local[4], only the master set; the traced
    run adds the uncompressed event log."""
    from lash_spark.session import get_spark

    extra = None
    if trace:
        os.makedirs(event_log_dir(work))
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log_dir(work),
        }
    spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)


def storage_mb(spark) -> float:
    """Block-manager storage (memory + disk) held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def release(spark) -> float:
    """Release caches the way a caller would (clearCache) and read what
    survives it (localCheckpoint blocks do); then drop every persisted RDD
    so the next job starts from the same state. Returns the surviving MB."""
    spark.catalog.clearCache()
    retained = storage_mb(spark)
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    gc.collect()
    return retained


def environment(spark, throttle_probe_s: float) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "throttle_probe_s": throttle_probe_s,
    }
