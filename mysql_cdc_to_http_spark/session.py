"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM with N threads; on a real cluster the same
configs hold (AQE, adaptive shuffle partitioning, Arrow for the pandas-UDF
paths). Shuffle partitions default to the local core count — AQE coalesces
at runtime, so on a 1000-executor cluster the same code path re-plans to
the data volume instead of a hardcoded constant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mysql_cdc_to_http_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Env knobs (driver contract): ``SPARK_GRAFT_CPUS`` sets local parallelism.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalesce + skew-join splitting — the scale path.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # UTC so timestamps compare cleanly against the DuckDB oracle
        # (duckdb timestamps are UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas UDF / toPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep the UI off in headless runs.
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # ANSI off: we want permissive casts (reference semantics are
        # fail-soft, e.g. bad date -> passthrough, main.go:150-153).
        .config("spark.sql.ansi.enabled", "false")
        # Parquet TIMESTAMP(NANOS) (events.ts) is unreadable by Spark 4
        # natively; read as long and convert in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Catalyst extension (SURVEY §4.2): rank-1-window → max_by aggregate
    # rewrite (extension/src). Loaded when the jar is built; every query
    # must stay correct WITHOUT it (the external harness session never
    # loads it) — it is an accelerator, validated by running the whole
    # test suite through it. Disable with SPARK_GRAFT_EXTENSION=0.
    _repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _ext_jar = os.path.join(_repo, "extension", "spark-graft-extension.jar")
    if (
        os.path.exists(_ext_jar)
        and os.environ.get("SPARK_GRAFT_EXTENSION", "1") != "0"
    ):
        builder = builder.config("spark.jars", _ext_jar).config(
            "spark.sql.extensions", "sparkgraft.SparkGraftExtensions"
        )
    conf = dict(extra_conf or {})
    # Python workers import the installed pyspark, not pyspark.zip, when
    # the versions match (vendor/pydaemon): task start-up no longer
    # re-reads the zip directories. Local masters only — the module must
    # exist at the same path on every worker host (MIGRATION.md §5).
    if master.startswith("local"):
        conf.setdefault("spark.python.daemon.module", "installed_pyspark_daemon")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p
            for p in (
                os.path.join(_repo, "vendor", "pydaemon"),
                conf.get("spark.executorEnv.PYTHONPATH"),
            )
            if p
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
