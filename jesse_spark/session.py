"""SparkSession factory with scale-appropriate defaults.

AQE on (runtime re-plan + skew-join splitting), Arrow on (every pandas
UDF crosses the JVM↔Python boundary in Arrow batches), shuffle
partitions sized for the local harness (cluster deploys override via
spark-submit conf)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "jesse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # modest Arrow batches: the clips table carries ~10-100 KB binary
        # payloads per row, so 10k-row batches would materialize multi-GB
        # buffers per task and thrash memory (measured 3-10x slowdown)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # binary-payload rows are ~10-100 KB; the default 4096-row
        # columnar batch puts >100 MB per reader task on the heap and
        # OOMs at 32 concurrent tasks — 512 keeps batches ~tens of MB
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # per-call Python stack capture for error context costs 2 py4j
        # round trips + a frame walk on EVERY DataFrame/Column call —
        # ~15-20% of driver-side plan-construction time for the
        # compiled constraint suites (guide §1: measure first; profiled
        # in r6).  Debug contexts can be re-enabled ad hoc.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def ensure_parallelism(df):
    """Repartition UP when the scan yields fewer partitions than cores.

    A small single-row-group parquet file cannot be split by the
    reader, so expression-heavy per-row work (minhash signatures, LSH
    projections, trigram scoring) would serialize onto one task no
    matter how many cores the cluster has.  One round-robin shuffle of
    the narrow input fixes that.  At 100 TB this is a NO-OP: the scan
    already produces thousands of splits (>= defaultParallelism), so no
    shuffle is added — the guard only fires in the small-file regime
    where the shuffle is cheap by construction."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
