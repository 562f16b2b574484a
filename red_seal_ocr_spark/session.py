"""SparkSession factory with the engine's production settings.

Settings rationale (SURVEY.md section 4 / X-table):

- AQE on: runtime coalescing + skew-join mitigation belt-and-braces on top
  of the engine's explicit span-level salting.
- Arrow batch cap small (64): decoded images inflate ~10x over their PNG
  bytes inside the Python worker (X8 memory hygiene analog); 64 rows of
  ~1 MB media keeps worker RSS bounded.
- ``spark.python.worker.reuse``: the executor-side analog of the
  reference's OCR instance pool (X5) — kernel constants/templates stay
  loaded in a long-lived Python worker.
- ``OMP_NUM_THREADS=1``: one BLAS thread per Python worker so 32 parallel
  tasks don't oversubscribe cores (X7; reference caps cpu_threads).
- Coalesce floor 16 KiB (``coalescePartitions.minPartitionSize``): a
  Python task costs ~0.25 s before it does any work (measured on a 4-vCPU
  VM: pyspark's per-task ``importlib.invalidate_caches()`` re-reads the
  ``pyspark.zip`` directory), so the kernel stage must run about one task
  per slot on a small batch.  Spark's default 1 MB floor would collapse a
  ~0.5 MB kernel shuffle into ONE task on one slot; 16 KiB lets AQE's
  parallelism-first target (bytes / slots) decide.
"""

from __future__ import annotations

import os


def get_spark(app_name: str = "red-seal-ocr-spark", master: str | None = None,
              shuffle_partitions: int | None = None, extra: dict | None = None):
    from pyspark.sql import SparkSession

    os.environ.setdefault("OMP_NUM_THREADS", "1")
    # executor Python workers must import this package regardless of the
    # driver's cwd: local-mode workers inherit the JVM's environment, so
    # exporting PYTHONPATH before the session starts covers them; cluster
    # deployments ship the package via spark-submit --py-files instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # >= 4x max cores so N-vs-4N scaling runs are scheduler-bound,
        # never partition-starved (SURVEY.md section 7 last bullet)
        shuffle_partitions = max(32, 4 * cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.python.worker.reuse", "true")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
