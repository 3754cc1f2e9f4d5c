"""SparkSession factory with scale-appropriate defaults.

Local sandbox runs on ``local[$SPARK_GRAFT_CPUS]``; the same config block is
what we'd ship in ``spark-submit --py-files`` on a real cluster (AQE on,
Arrow on, sensible shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app: str = "evalidate-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the library's NULL contracts assume ANSI semantics (size(NULL)
        # = NULL, overflow = error) — the Spark 4 default, pinned here so
        # a 3.x deployment (ANSI off, size(NULL) = -1) cannot silently
        # flip NULL-text counts to -1 across the text/sampling surface
        .config("spark.sql.ansi.enabled", "true")
    )
    return builder.getOrCreate()


def _require_ansi(df: DataFrame) -> None:
    """Raise unless *df*'s session runs with ANSI mode on, which the
    library's NULL contracts assume (see :func:`get_spark`)."""
    if df.sparkSession.conf.get("spark.sql.ansi.enabled").lower() != "true":
        raise RuntimeError(
            "evalidate_spark needs spark.sql.ansi.enabled=true (its NULL "
            "contracts assume ANSI semantics: size(NULL) is NULL, overflow "
            "raises); this session has it off"
        )
