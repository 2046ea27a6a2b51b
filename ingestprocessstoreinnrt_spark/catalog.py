"""Table registry over the driver's deterministic parquet testdata.

The reference triple-declares every schema by hand (POJO + Kudu DDL + Solr
schema.xml -- SURVEY 1.3) and loads tables imperatively through a Kudu
facade (reference KuduContext.scala:165-178).  Here a table is just a
parquet directory read declaratively; Catalyst owns projection pruning and
predicate pushdown, so there is no hand-built column-projection string
(reference ConnectedCarStreaming.scala:217).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .planmemo import session_memo

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Temporal columns in the testdata parquet.  Generations of the testdata
# have stored these as TIMESTAMP(NANOS) (arrives as int64 nanos under
# spark.sql.legacy.parquet.nanosAsLong) or as TIMESTAMP(MICROS) without
# isAdjustedToUTC (arrives as TIMESTAMP_NTZ when NTZ inference is on).
# Both are normalized to plain TimestampType here so every downstream
# event-time expression (unix_micros, window(), hour()) sees one type; the
# session runs UTC, so the stored wall-clock micros ARE epoch micros and
# the DuckDB oracle (which reads them naively) agrees bit-for-bit.
_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's parquet DataFrame, memoized per session: building
    one costs ~100 ms of file listing + footer schema reads, and a
    40-query session re-loads the same immutable table dozens of times.
    The memoized object is a logical plan whose execution stays lazy."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Callers (the test driver included) may hand us a session built
    # without our defaults; both knobs are runtime-settable, so make
    # every load self-sufficient — on hits too.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    def build() -> DataFrame:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        for col in _TS_COLS.get(name, ()):
            dt = dict(df.dtypes).get(col)
            if dt == "bigint":  # nanos-as-long generation
                df = df.withColumn(
                    col, F.expr(f"timestamp_micros({col} DIV 1000)")
                )
            elif dt == "timestamp_ntz":  # NTZ slipped through (pre-set reader conf)
                df = df.withColumn(col, F.col(col).cast("timestamp"))
        return df

    return session_memo(spark, "load_table", sf_dir, name, build)


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism — but only
    when the source provides fewer partitions.

    Small single-file tables (documents.parquet is one ~600 KB file,
    often one parquet row group) scan as ONE partition, so a CPU-bound
    per-row stage (per-token md5, regex batteries, pair joins) runs on
    one core while the other 31 idle.  The repartition shuffle is the
    size of the (small) input — trivial next to the compute it unlocks.

    At 100 TB the scan already yields thousands of files, the condition
    is false, and this is a no-op — no accidental full-data shuffle on
    the scale path.  Use it only in front of compute-heavy stages; plain
    aggregations are better served by map-side partial aggregation on
    the scan partitioning.

    Parallelism is probed with inputFiles() (file-index metadata, ~ms)
    rather than rdd.getNumPartitions(), whose DataFrame->RDD plan
    conversion costs 0.1-1 s per call in PySpark.  File count
    undercounts partitions when single files span many row groups; the
    call sites are compute-bound by contract, so an occasionally
    redundant shuffle of their (small) input is the cheap side of the
    trade.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        est = len(df.inputFiles())
    except Exception:  # non-file source (e.g. in-memory test frame)
        return df
    if est and est < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql()."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
