"""Manifest operators — the reference's file-dataflow pipeline (SURVEY.md
§2A: list -> classify -> filter -> project destination -> act) as
operators over a manifest, held rows or a DataFrame of one schema:

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

Two regimes, decided by the manifest's type, with no option:

- held rows (a ``list`` of manifest tuples: ``listing.list_manifest``
  below ``DRIVER_ROWS_THRESHOLD``) are matched by :func:`search_files`
  with Python ``re.search``, the reference's matcher, and guarded,
  numbered and named in Python (``paths.destination_path``); no
  SparkSession is involved;
- an executor-walked manifest (a DataFrame) is matched by the same
  predicate in one Python pass on executors, and keeps the distributed
  numbering and the Catalyst P2–P6 expression
  (``paths.determine_destination_name``), as do the ``mf_*`` queries over
  :func:`build_manifest`. Those queries match with :func:`match_files`,
  Java's ``rlike``: their DuckDB oracles use RE2, and their patterns are
  written for both dialects (``[.]``, see ``functions/paths.py``).
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row, SparkSession, Window

from ..errors import BlueprintError, NoMatchesFound
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
    """F1/F2/F3 filter operator over a manifest frame, in Java regex.

    ``pattern`` is an unanchored ``rlike`` regex, which is not Python's
    dialect (Java has no ``(?P<name>...)``, its ``\\w`` is ASCII and its
    ``\\Z`` allows a final line terminator): only the ``mf_*`` queries
    match this way, with patterns valid in Java and RE2 alike.
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


def compile_pattern(pattern: str) -> re.Pattern:
    """``pattern`` compiled for :func:`search_files`. An invalid one is a
    ``BlueprintError`` (exit 1), so a caller that compiles before it
    lists fails before any round trip."""
    try:
        return re.compile(pattern)
    except re.error as e:
        raise BlueprintError(f"invalid regex {pattern!r}: {e}") from None


def search_files(
    manifest: list | DataFrame,
    regex: re.Pattern | None = None,
    exact_path: str | None = None,
    scope: str = "basename",
    skip_dot_dirs: bool = True,
) -> list | DataFrame:
    """The F1–F4 filter as the reference applies it: ``regex.search``
    (download_file.py:174-184) on the basename (F1) or full path (F2)
    per ``scope``, or ``path == exact_path`` (F3); directories never
    match, nor all-dots names when ``skip_dot_dirs`` (F4).

    Held rows (a list) are filtered on the driver. An executor-walked
    frame is filtered by the same predicate in one Python pass on
    executors and materialized once, so the guard, the numbering and
    the sink read the matches without matching again."""

    def keep(row) -> bool:
        path, name = row[0], row[2]
        if row[3] or (skip_dot_dirs and set(name) <= {"."}):
            return False
        if exact_path is not None:
            return path == exact_path
        return regex.search(name if scope == "basename" else path) is not None

    if isinstance(manifest, list):
        return [r for r in manifest if keep(r)]
    matched = manifest.sparkSession.createDataFrame(manifest.rdd.filter(keep), manifest.schema)
    return local_checkpoint(matched)


def _numbered_rows(rows: list):
    """``(file_number, row)`` for held ``rows``: 1-indexed in path order.
    Python orders str by code point, which equals UTF-8 byte order,
    Spark's binary string order, so both regimes number alike."""
    return enumerate(sorted(rows, key=lambda r: r[0]), start=1)


def _numbered(matches: DataFrame) -> tuple[DataFrame, int]:
    """An executor-walked ``matches`` plus ``file_number`` (1-indexed,
    ORDER BY path), and the number of matches; see
    :func:`with_file_numbers`."""
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
    semantics over a frame (held rows are numbered by
    :func:`_numbered_rows`), computed scale-safely in two passes:

    1. range-partition by path (each partition holds a contiguous path
       range), number rows *within* each partition (partitioned window
       — parallel);
    2. count rows per partition (tiny: one row per partition), turn the
       counts into cumulative offsets driver-side, and add each
       partition's offset via a broadcast join.

    Equivalent to ``row_number() OVER (ORDER BY path)`` but no stage
    ever funnels all matches through a single task — a pattern that
    matches millions of files at 100x scale still numbers in parallel.

    The ranged partitioning MUST be materialized (localCheckpoint)
    before the counts job: repartitionByRange samples its boundaries
    with an RDD-id-derived seed, so re-executing the plan for the
    numbering job could place boundary rows in different partitions
    than the counts saw — duplicate and skipped file_numbers, i.e.
    silently colliding destination paths."""
    return _numbered(matches)[0]


# A held row after with_destination: the manifest columns, then the two it adds.
_DESTINED = Row("path", "folder", "name", "is_dir", "size", "file_number", "dest_path")


def with_destination(
    matches: DataFrame | list,
    destination_folder_name: str = "",
    destination_file_name: str | None = None,
    suppress_single: bool = False,
) -> DataFrame | list[Row]:
    """P5/P6 destination projection with collision-avoiding enumeration:
    ``matches`` plus ``file_number`` and ``dest_path``.

    When a destination_file_name fans out over several matches each row
    gets '_{n}' inserted before its first dot (P4), n numbering the
    matches in path order. ``suppress_single`` gives move_file's
    behavior (no numbering when exactly one match). Without a
    destination_file_name every row keeps its source basename, the
    numbering step is skipped and file_number is NULL, so the output
    schema does not depend on the parameter.

    Held rows (a list) come back as rows, numbered and named in Python
    by ``paths.destination_path``. A frame gets the Catalyst P2–P6
    expression over the distributed numbering, whose match count costs
    no extra job."""
    if isinstance(matches, list):
        if destination_file_name is None:  # names are kept: no numbering
            numbered = [(None, r) for r in matches]
        else:
            numbered = _numbered_rows(matches)
        single = suppress_single and len(matches) == 1
        return [_DESTINED(*r, n, P.destination_path(
            destination_folder_name, destination_file_name, r[0], None if single else n))
            for n, r in numbered]
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


def require_matches(matches: DataFrame | list) -> DataFrame | list:
    """F7 guard: raise NoMatchesFound (exit 200) when nothing matched.
    Held rows are counted with ``len``; a frame is tested with
    ``isEmpty``, which runs one job on an executor-walked manifest."""
    empty = not matches if isinstance(matches, list) else matches.isEmpty()
    if empty:
        raise NoMatchesFound("no files matched the provided pattern")
    return matches
