"""Manifest operators — the reference's file-dataflow pipeline (SURVEY.md
§2A: list -> classify -> filter -> project destination -> act) as pure
DataFrame operators over a manifest table:

    path STRING, folder STRING, name STRING, is_dir BOOLEAN, size LONG

A manifest comes from the FTP connector (sources/), from
spark.read.format('binaryFile') listings, or — for oracle-checkable
tests — from :func:`build_manifest`, which derives a deterministic file
tree from the `part` table (same construction mirrored in SQL by
plans/manifest_queries.py).

Match semantics preserved from the reference (behavioral parity only):
- F1 regex matches the BASENAME only   (download_file.py:174-184)
- F2 regex matches the FULL PATH       (upload_file.py:147-156)
- F3 exact match skips enumeration     (download_file.py:282-296)
- F4 dot-directories are excluded      (download_file.py:58-62)
- file numbering is 1-indexed; the reference leaves order to the FTP
  server — we DEFINE it as ORDER BY path (row_number), making fan-out
  deterministic (SURVEY.md §2A.4)
- move_file.py:171 suppresses numbering when exactly one file matches;
  download/upload always number (suppress_single flag)
"""

from __future__ import annotations

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

from ..errors import NoMatchesFound  # noqa: F401  (re-export: F7 guard, exit 200)
from ..functions import paths as P
from ..session import load_table, local_checkpoint


def build_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic file tree derived from `part`: messy raw
    folder strings (leading//duplicate/trailing slashes, './' segments)
    that exercise P2/P3, multi-dot and extension-less names for P4, plus
    directory and dot-directory rows for F4/F5."""
    part = load_table(spark, sf_dir, "part")
    ext = (
        F.when(F.col("p_partkey") % 4 == 0, ".csv")
        .when(F.col("p_partkey") % 4 == 1, ".csv.gz")
        .when(F.col("p_partkey") % 4 == 2, ".txt")
        .otherwise("")
    )
    fname = F.concat(
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")),
        F.lit("_"),
        F.col("p_partkey").cast("string"),
        ext,
    )
    raw_folder = (
        F.when(F.col("p_partkey") % 5 == 0, F.concat(F.lit("/data//"), F.col("p_brand"), F.lit("/")))
        .when(F.col("p_partkey") % 5 == 1, F.concat(F.lit("data/"), F.col("p_type")))
        .when(F.col("p_partkey") % 5 == 2, F.concat(F.lit("./archive/"), F.col("p_brand")))
        .when(F.col("p_partkey") % 5 == 3, F.lit(""))
        .otherwise(F.concat(F.lit("exports/deep/"), F.col("p_type")))
    )
    folder = P.clean_folder_name(raw_folder)
    files = part.select(
        P.combine_folder_and_file_name(folder, fname).alias("path"),
        folder.alias("folder"),
        fname.alias("name"),
        F.lit(False).alias("is_dir"),
        (F.col("p_size").cast("bigint") * 1000 + F.col("p_partkey")).alias("size"),
    )
    region = load_table(spark, sf_dir, "region")
    dirs = region.select(
        F.concat(F.lit("data/"), F.col("r_name")).alias("path"),
        F.lit("data").alias("folder"),
        F.col("r_name").alias("name"),
        F.lit(True).alias("is_dir"),
        F.lit(None).cast("bigint").alias("size"),
    )
    dots = spark.createDataFrame(
        [(f"data/{d}", "data", d, True, None) for d in (".", "..", "...")],
        "path string, folder string, name string, is_dir boolean, size bigint",
    )
    return files.unionByName(dirs).unionByName(dots)


def match_files(
    manifest: DataFrame,
    pattern: str | None = None,
    exact_path: str | None = None,
    scope: str = "basename",
    skip_dot_dirs: bool = True,
) -> DataFrame:
    """F1/F2/F3 filter operator over a manifest.

    ``pattern`` is an unanchored regex (re.search semantics == rlike);
    ``scope`` selects the reference's F1 (basename) vs F2 (full path)
    asymmetry. ``exact_path`` short-circuits to a single-key filter (the
    reference's 'pushdown': no enumeration)."""
    df = manifest.filter(~F.col("is_dir"))
    if skip_dot_dirs:
        df = df.filter(~P.is_dot_directory(F.col("name")))
    if exact_path is not None:
        return df.filter(F.col("path") == F.lit(exact_path))
    if pattern is None:
        raise ValueError("one of pattern/exact_path is required")
    target = F.col("name") if scope == "basename" else F.col("path")
    return df.filter(target.rlike(pattern))


def driver_rows(df: DataFrame) -> list | None:
    """The rows of ``df`` when they are held on the driver, else None.

    Rows are driver-held when the OPTIMIZED plan is a ``LocalRelation``:
    ``list_tree``'s Arrow-built manifest, with filters and projections
    over it folded in by the optimizer. ``collect`` then runs no Spark
    job. ``DataFrame.isLocal()`` is not the test: it reads the analyzed
    plan, so it turns False as soon as ``match_files`` filters the
    manifest. A DataSource manifest (past ``DRIVER_ROWS_THRESHOLD``)
    returns None and keeps the distributed path, so the regime follows
    the plan, not a row count."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    return df.collect()


def _numbered(matches: DataFrame) -> tuple[DataFrame, int]:
    """``matches`` plus ``file_number`` (1-indexed, ORDER BY path), and
    the number of matches; see :func:`with_file_numbers`."""
    rows = driver_rows(matches)
    if rows is not None:
        # Python orders str by code point, which equals UTF-8 byte
        # order, Spark's binary string order
        rows.sort(key=lambda r: r["path"])
        schema = StructType(
            [*matches.schema.fields, StructField("file_number", IntegerType())]
        )
        columns = [*zip(*rows)] or [()] * len(matches.columns)
        table = pa.Table.from_pydict(
            dict(zip(schema.names, [*columns, range(1, len(rows) + 1)])),
            schema=to_arrow_schema(schema),
        )
        return matches.sparkSession.createDataFrame(table, schema), len(rows)

    ranged = (
        matches.repartitionByRange("path")
        .withColumn("_pid", F.spark_partition_id())
        .transform(local_checkpoint)
    )
    counts = ranged.groupBy("_pid").count().collect()
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["count"]
    # an Arrow-built frame plans as a LocalRelation: the broadcast side
    # never round-trips through a Python worker
    offsets_df = matches.sparkSession.createDataFrame(
        pa.table(
            {
                "_pid": pa.array(list(offsets), pa.int32()),
                "_offset": pa.array(list(offsets.values()), pa.int64()),
            }
        ),
        "_pid int, _offset bigint",
    )
    w = Window.partitionBy("_pid").orderBy("path")
    numbered = (
        ranged.withColumn("_local_rn", F.row_number().over(w))
        .join(F.broadcast(offsets_df), "_pid")
        .withColumn(
            "file_number", (F.col("_offset") + F.col("_local_rn")).cast("int")
        )
        .drop("_pid", "_local_rn", "_offset")
    )
    return numbered, acc


def with_file_numbers(matches: DataFrame) -> DataFrame:
    """Deterministic 1-indexed fan-out numbering with ORDER BY path
    semantics, in one of two regimes (:func:`driver_rows` decides):

    - driver-held matches are collected (no job), sorted by path and
      numbered on the driver, and come back as one Arrow-built
      ``LocalRelation``;
    - otherwise numbering is computed scale-safely in two passes:

      1. range-partition by path (each partition holds a contiguous
         path range), number rows *within* each partition
         (partitioned window — parallel);
      2. count rows per partition (tiny: one row per partition), turn
         the counts into cumulative offsets driver-side, and add each
         partition's offset via a broadcast join.

      Equivalent to ``row_number() OVER (ORDER BY path)`` but no stage
      ever funnels all matches through a single task — a pattern that
      matches millions of files at 100x scale still numbers in
      parallel.

      The ranged partitioning MUST be materialized (localCheckpoint)
      before the counts job: repartitionByRange samples its boundaries
      with an RDD-id-derived seed, so re-executing the plan for the
      numbering job could place boundary rows in different partitions
      than the counts saw — duplicate and skipped file_numbers, i.e.
      silently colliding destination paths."""
    return _numbered(matches)[0]


def with_destination(
    matches: DataFrame,
    destination_folder_name: str = "",
    destination_file_name: str | None = None,
    suppress_single: bool = False,
) -> DataFrame:
    """P5/P6 destination projection with collision-avoiding enumeration.

    When a destination_file_name fans out over several matches each row
    gets '_{n}' inserted before its first dot (P4). ``suppress_single``
    gives move_file's behavior (no numbering when exactly one match);
    the match count comes from the numbering step, so it costs no job.

    Without a destination_file_name every row keeps its source basename
    and the enumeration is provably unused, so the numbering step is
    skipped entirely. file_number is still emitted (as NULL) so the
    output schema does not depend on the parameter. Over driver-held
    matches the result is again a ``LocalRelation``: the optimizer
    evaluates ``dest_path`` into it."""
    folder = P.clean_folder_name(F.lit(destination_folder_name))
    if destination_file_name is None:
        dest = P.determine_destination_name(folder, None, F.col("path"), None)
        return matches.withColumn(
            "file_number", F.lit(None).cast("int")
        ).withColumn("dest_path", dest)
    numbered, n_matches = _numbered(matches)
    file_number = (
        None if suppress_single and n_matches == 1 else F.col("file_number")
    )
    dest = P.determine_destination_name(
        folder, F.lit(destination_file_name), F.col("path"), file_number
    )
    return numbered.withColumn("dest_path", dest)


def require_matches(matches: DataFrame) -> DataFrame:
    """F7 guard: raise NoMatchesFound (exit 200) when nothing matched.
    ``isEmpty`` runs no job on driver-held matches and one on a
    DataSource manifest."""
    if matches.isEmpty():
        raise NoMatchesFound("no files matched the provided pattern")
    return matches
