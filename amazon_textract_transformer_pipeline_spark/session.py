"""SparkSession factory tuned for the extraction workload.

Local-mode defaults mirror what a 1000-executor cluster submit would set via
``spark-submit --conf``: AQE on (skew-join splitting + partition coalescing),
Arrow enabled for the pandas-UDF stages, shuffle partitions sized to cores
rather than the 200 default.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "attp_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` accepts an int (→ ``local[n]``) or a full master string.
    Defaults come from ``SPARK_GRAFT_CPUS`` (driver contract) or all cores.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark")) else f"local[{cores}]"
    n_cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cores)  # type: ignore[arg-type]
        except (TypeError, ValueError):
            shuffle_partitions = n_cores
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", os.environ.get("ATTP_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "256m")
    )
    # Codec-backend determinism (round-5 ADVICE): propagate the driver's
    # ATTP_CODEC_BACKENDS policy to every executor so decode behavior is
    # uniform fleet-wide — policy 'require' turns a missing system library
    # (libwebp/libheif/libde265) into a deployment error instead of silent
    # per-row degradation; 'none' pins library-less behavior everywhere.
    from .functions.backends import CODEC_BACKEND_ENV, codec_backend_report

    builder = builder.config(
        f"spark.executorEnv.{CODEC_BACKEND_ENV}",
        os.environ.get(CODEC_BACKEND_ENV, "auto"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Record the decode surface once per deployment: the active policy plus
    # which optional system libraries actually load on this host, so a
    # cluster run leaves evidence of the codec coverage it ran with. On
    # stderr: stdout belongs to the caller (bench.py prints one JSON line).
    print(f"[attp_spark] codec backends: {codec_backend_report()}",
          file=sys.stderr, flush=True)
    return spark
