"""SparkSession factory tuned for the crawl workload.

Local testing runs on ``local[N]`` but every conf below is chosen for a
1000-executor / 100 TB deployment and merely *also* behaves well locally:

* AQE on (runtime re-plan, skew-join splitting for hot domains),
* Arrow transport on (all per-row logic is pandas UDFs),
* a generated-class cache sized above the round loop's working set,
* shuffle partitions sized by caller (tests: 32; cluster: ~2-3x total cores),
* small broadcast threshold left to AQE's runtime sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

# SQL defaults shared by get_spark and the spark-submit entry point
# (cli.main). Master, executors and memory stay with whoever launches the
# JVM. Static confs (the codegen cache) take effect only in a session these
# defaults create: getOrCreate over a running session applies the rest.
SESSION_DEFAULTS = {
    # AQE: runtime coalescing + skew-join splitting — first line of
    # defense against hot-domain skew (SURVEY.md §4.2).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transport for every pandas UDF (SURVEY.md §2.10).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timezone for warc_ts handling.
    "spark.sql.session.timeZone": "UTC",
    # JVM-wide LRU of compiled generated classes. The round loop runs the
    # same plan shapes every round: ≈ 145 classes per round, ≈ 260
    # distinct in one cold perfbench site_loop crawl. Spark's default of
    # 100 evicts each class before the next round asks for it again, so
    # every round recompiled all of them (2.5–2.9 s of a 12–13 s crawl).
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with crawl-engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``). On a real cluster, spark-submit supplies the master and
    this function only layers the SQL confs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    conf = {
        **SESSION_DEFAULTS,
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.ui.enabled": "false",
        # local mode: this IS the whole JVM heap (driver + executor). The
        # bench macro persists multiple multi-GB frames; an undersized heap
        # shows up as GC storms that read as poor core-count scaling.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        **(extra_conf or {}),
    }
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=conf)
        .getOrCreate()
    )
