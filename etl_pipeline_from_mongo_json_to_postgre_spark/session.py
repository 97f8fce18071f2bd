"""The one place that decides SparkSession configuration.

Contract: every session this project builds comes from ``get_spark``
(tests, bench, CLI, tools; only ``tools/parity_probe.py`` builds a plain
default session, on purpose, to mirror the driver). A session built by
someone else — the external driver hands its own default, ANSI-on
session to ``__spark_entry__`` — is tuned once per entry call at the
registry boundary (``__spark_entry__._ntz_outputs``) by
``tune_for_oracle``. Operators never tune the session themselves (a few
scope one conf around a single read or checkpoint and restore it).

Both functions read ``SQL_CONFS``: the runtime-settable confs every
query runs under. AQE is left at Spark's defaults (enabled, coalescing,
skew-join splitting); on a real cluster size
``spark.sql.shuffle.partitions`` to ~2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

SQL_CONFS = {
    # Oracle parity: UTC timestamps (DuckDB timestamps are UTC-naive)
    # and non-ANSI, NULL-on-failure casts — the reference's
    # error-capturing transform semantics.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # tz-less parquet timestamps read as TIMESTAMP (LTZ, UTC session),
    # not TIMESTAMP_NTZ — watermarks/unix_micros require TIMESTAMP; the
    # loader also casts defensively (sources/parquet.py)
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Perf-only (r9): accept SUBSET-key co-partitioning for shuffled
    # joins. When a join input is already hash-partitioned on a key
    # that is a pure function of the join key and appears in the
    # equi-join condition (mm_pack's shard layout), the default (true)
    # would re-shuffle both sides onto the full key set and then
    # shuffle AGAIN for any downstream window/aggregate keyed on the
    # subset — two wasted full-data exchanges. Only relaxes plans whose
    # children are ALREADY partitioned on a join-key subset; everything
    # else plans identically (plan pins + census budgets re-verified).
    # The subset key must carry enough distinct values for parallelism
    # — the caller's contract, see mm_pack.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}


def get_spark(app_name: str = "etl_pipeline_from_mongo_json_to_postgre_spark",
              cpus: int | None = None, master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's session: ``master`` defaults to
    ``local[cpus]``, and shuffle partitions are sized to ``cpus``."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = SparkSession.builder.master(master or f"local[{cpus}]").appName(app_name)
    spark = builder.config(map={
        **SQL_CONFS,
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
        # codegen-heavy plans (multi-format casts) generate a lot of JIT
        # code over a long suite; keep the code cache from filling
        "spark.driver.extraJavaOptions":
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply ``SQL_CONFS`` to a session someone else built.

    Shuffle partitions follow the session's real parallelism (at least
    8) instead of the 200 default: on a local[N] driver session the
    default costs ~6x task-launch overhead per shuffle, which compounds
    in iterative operators (dedup_components). Perf-only.
    """
    confs = dict(SQL_CONFS)
    try:
        cores = spark.sparkContext.defaultParallelism
        confs["spark.sql.shuffle.partitions"] = str(max(cores, 8))
    except PySparkException:
        pass  # no SparkContext to ask (Spark Connect): keep the host's
    for key, value in confs.items():
        try:
            spark.conf.set(key, value)
        except PySparkException:
            # a hosting session may pin a conf; only the UTC pin is
            # indispensable (casts also use the try_* forms)
            if key == "spark.sql.session.timeZone":
                raise
    return spark
