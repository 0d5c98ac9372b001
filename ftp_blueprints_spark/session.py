"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design target (AQE on, skew-join
handling, partition coalescing) while remaining correct on local[N]
test runs. All settings are plain public Spark confs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# directory holding the ftp_blueprints_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "ftp-blueprints-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    - AQE enabled: runtime coalescing of shuffle partitions, automatic
      broadcast-join conversion, and skew-join splitting — these are the
      knobs that keep the same plan viable from sf0.001 to 100 TB.
    - UTC session timezone: deterministic date/time semantics that match
      the DuckDB oracle (naive timestamps).
    - Arrow enabled: vectorized pandas_udf / toPandas transfer.
    - Python workers import this package from any cwd:
      ``spark.executorEnv.PYTHONPATH`` is the package's parent
      directory, joined with any ``PYTHONPATH`` already set. Executor
      env is fixed when the SparkContext starts, so a pre-existing
      active session keeps its own worker ``PYTHONPATH``.
    - Reliable checkpoint files are cleaned when their RDD is garbage
      collected (``spark.cleaner.referenceTracking.cleanCheckpoints``):
      under ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` the per-micro-batch
      sites would otherwise grow the checkpoint dir without bound.
    - No console progress bar: its stderr fragments would interleave
      with the output of the tools that share this session.
    - No per-call DataFrame call-site capture
      (``spark.python.sql.dataFrameDebugging.enabled``): with it, every
      ``Column``/``DataFrame`` call makes extra py4j round trips to
      record where it was made. It is a static conf, so only a fresh
      session gets it.
    """
    pythonpath = os.pathsep.join(
        filter(None, [_PACKAGE_PARENT, os.environ.get("PYTHONPATH")])
    )
    sql_confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    if shuffle_partitions:
        sql_confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    active = SparkSession.getActiveSession()
    if active is not None:
        # master/memory are fixed at JVM start, but SQL confs are
        # runtime-settable: apply them so the engine defaults hold even
        # under a pre-existing session (e.g. the driver's plain one).
        # An explicit shuffle_partitions is honored too; the
        # fresh-session default of 32 is not forced on it.
        for k, v in sql_confs.items():
            active.conf.set(k, v)
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for k, v in {
        "spark.sql.shuffle.partitions": "32",
        **sql_confs,
        "spark.sql.parquet.filterPushdown": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": pythonpath,
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_checkpoint(df, eager: bool = True):
    """Cut lineage by materializing ``df`` — the engine's one choke
    point for the checkpoint fault-tolerance trade.

    Default backend is ``DataFrame.localCheckpoint``: blocks live
    UNREPLICATED on the executors that computed them — free of any
    durable-storage round trip, the right trade on local runs and on
    clusters where a retried query is acceptable.  The caveat at
    100 TB: past a localCheckpoint there is no lineage, so an executor
    loss mid-query FAILS the job instead of recomputing the lost
    blocks.  Deployments where that matters set
    ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` (and optionally
    ``SPARK_GRAFT_CHECKPOINT_DIR=<durable path>``): the same call
    sites then write a reliable ``checkpoint()`` — replicated,
    storage-backed, survives executor loss — at the cost of one write
    to the checkpoint dir.  A config switch, not a code change, per
    the scale-dependence rule.

    EVERY checkpoint in the engine routes through here (call sites use
    ``df.transform(local_checkpoint, ...)`` to keep method chains).
    Each routed frame is a linear, partition-distributed intermediate
    (edge lists, per-doc token/hash frames, fingerprints, K-row
    constants) — never a corpus×n-gram or pair-expanded stream — so
    either backend holds it comfortably; the r15-added sites were each
    A/B measured cheaper than recomputing their subtree
    (OPTIMIZATION_r15 items 3, 6-10).

    In reliable mode ``SPARK_GRAFT_CHECKPOINT_DIR`` wins over a dir the
    context already has (left by an earlier caller or set by the host
    app): a mismatch re-points the context, so checkpoints never land
    silently in an unintended place. Unset, an existing dir is kept and
    a ``local`` master gets a fresh temp dir. Any other master REQUIRES
    the variable: a driver-local temp dir is not shared with the
    executors, so the durability the flag promises would not exist."""
    if os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT") != "1":
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    want = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    have = sc.getCheckpointDir()
    if want:
        # Spark checkpoints into a fresh, qualified <dir>/<uuid>: know
        # the ones set here by that unique name, not by path parsing
        if have is None or _POINTED.get(have) != want:
            sc.setCheckpointDir(want)
            _POINTED[sc.getCheckpointDir()] = want
    elif have is None:
        if not sc.master.startswith("local"):
            raise RuntimeError(
                f"SPARK_GRAFT_RELIABLE_CHECKPOINT=1 on master {sc.master} "
                "needs SPARK_GRAFT_CHECKPOINT_DIR set to storage every "
                "executor shares (e.g. an hdfs:// or s3a:// path)"
            )
        import tempfile

        sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark_reliable_ck_"))
    return df.checkpoint(eager=eager)


_POINTED: dict[str, str] = {}  # checkpoint dir set here -> its env value


def normalize_timestamps(df):
    """Coerce every timestamp-typed column to session-zoned TIMESTAMP.

    The driver regenerates the parquet fixtures between rounds and the
    physical timestamp encoding has drifted (TIMESTAMP(NANOS) ->
    TIMESTAMP(MICROS)); Spark 4 reads the MICROS form as TIMESTAMP_NTZ,
    which `unix_micros()` and the windowing functions reject at
    analysis.  Under the UTC session timezone a plain cast from
    TIMESTAMP_NTZ to TIMESTAMP is value-identical to DuckDB's naive
    `epoch_us`, so normalizing here keeps every downstream call site
    (and the oracle comparison) agnostic to the fixture's encoding.
    """
    from pyspark.sql import functions as F

    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from parquet FOOTER metadata.

    Sizing decisions (e.g. corpus-adaptive LSH parameters) need ``n``
    but must not pay a full-scan ``df.count()`` job for it — parquet
    already stores per-file row counts in the footer, so this is O(#
    files) driver-side metadata reads, no Spark job, no data touched.
    Works for both the driver's single-file fixtures and Spark-written
    directories (the 10x scale-probe corpus). Memoized per path: the
    fixtures are immutable within a session (the probe writes its
    corpus once before querying it)."""
    return _table_rows_cached(os.path.join(sf_dir, f"{name}.parquet"))


def _table_rows_cached(path: str) -> int:
    if path not in _TABLE_ROWS:
        import pyarrow.dataset as _ds

        _TABLE_ROWS[path] = _ds.dataset(path, format="parquet").count_rows()
    return _TABLE_ROWS[path]


_TABLE_ROWS: dict[str, int] = {}


# ns -> µs truncation for events.ts read under the legacy nanos conf —
# the same truncation DuckDB applies. ONE definition: the batch reader
# and the streaming reader both decode through this expression.
EVENTS_NS_TO_US = "timestamp_micros(ts DIV 1000)"


def events_ts_dtype(spark: SparkSession, sf_dir: str) -> str:
    """Resolved physical dtype of ``events.ts`` under the legacy-nanos
    conf: 'bigint' for TIMESTAMP(NANOS) fixtures, 'timestamp_ntz' for
    TIMESTAMP(MICROS). Shared by load_table and the streaming reader
    (streaming/events.read_events_stream) so the NEXT fixture encoding
    drift is handled in one place, not fixed in batch and missed in
    streaming (or vice versa)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes)["ts"]


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-generated parquet tables.

    ``events.ts`` has been written as parquet TIMESTAMP(NANOS) (rounds
    1-3) and TIMESTAMP(MICROS) (round 4+); handle both: NANOS is read
    as a raw nanosecond LONG and truncated to microseconds (the same
    ns->us truncation DuckDB applies), and any TIMESTAMP_NTZ column —
    Spark 4's reading of plain TIMESTAMP(MICROS) — is cast to
    session-zoned TIMESTAMP via :func:`normalize_timestamps`.
    """
    if name == "events":
        from pyspark.sql import functions as F

        dtype = events_ts_dtype(spark, sf_dir)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dtype == "bigint":
            df = df.withColumn("ts", F.expr(EVENTS_NS_TO_US))
        return normalize_timestamps(df)
    return normalize_timestamps(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
