"""SparkSession factory with the engine's standard configuration.

Scale posture (SURVEY.md §4): AQE on (runtime coalesce / join-strategy switch
/ skew splitting), UTC session timezone so timestamp semantics match the
DuckDB oracle and are cluster-location-independent, Arrow enabled for the few
Pandas-UDF paths, and shuffle partitions sized to the local core count rather
than the 200 default (wrong for both 6k-row tests and 100 TB — on a real
cluster this is set per-job from input size; AQE coalesces down from a high
initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def parse_extra_conf(text: str) -> dict[str, str]:
    """Parse $SPARK_GRAFT_EXTRA_CONF: semicolon-separated ``key=value`` pairs
    for A/B experiments and per-host tuning without code edits.

    A value cannot contain ';' (there is no escape). Empty segments, such as
    a trailing ';', are skipped; any other segment without '=' is a typo and
    raises ValueError rather than silently running without its setting.
    """
    conf: dict[str, str] = {}
    for item in text.split(";"):
        if not item.strip():
            continue
        if "=" not in item:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF segment {item!r} is not key=value"
            )
        k, v = item.split("=", 1)
        conf[k.strip()] = v.strip()
    return conf


def get_spark(
    app_name: str = "dataselector_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. On a real cluster the
    ``master`` and memory settings come from the submitter; everything set
    here is safe cluster-side too.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r15 (guide §4.2): cap Arrow batches by BYTES, not the 10k-row /
        # 64 MB defaults — the multimodal mapInPandas passes carry multi-KB
        # binary cells per row, and 64 MB pandas frames cost allocation
        # churn and JVM->Python pipelining stalls. 1 MB batches measured
        # 25-40% faster on every Arrow entry (b16_image_dedup 4.65->2.76 s,
        # b16_phash256 2.90->1.86, b21_pandas_udaf 0.90->0.56) with no
        # regression on narrow-row entries (still thousands of rows per
        # batch). Data-shape-dependent, not cluster-size-dependent; env
        # knob for hosts where a different shape dominates.
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_MAX_BYTES", str(1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # ANSI off: the engine follows permissive SQL semantics (sentinel data
        # contains out-of-range values by design; oracle queries are written
        # to be ANSI-agnostic).
        .config("spark.sql.ansi.enabled", "false")
        # Streaming tests use small deterministic micro-batches.
        .config("spark.sql.streaming.schemaInference", "false")
    )
    # Env-driven conf overrides, applied BEFORE the caller's extra_conf so
    # explicit code wins.
    for k, v in parse_extra_conf(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
