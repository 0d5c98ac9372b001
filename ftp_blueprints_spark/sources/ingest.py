"""Ingestion pipeline: remote CSV/JSONL/parquet/ORC trees -> parquet,
Spark-native.

The reference's blueprints move files byte-for-byte; the natural next
step for an ETL engine is to land them as COLUMNS. Every ``ingest_*``
function is the same landing step (:func:`_land`) with its own parser:

    list_tree -> filter(~is_dir & rlike) -> fetch (+ gunzip) -> parse
        -> parquet (optionally partitionBy), counted by an Observation

Like the reference, ingest filters first and acts on matches only: the
manifest comes from ``listing.list_tree`` (the CLI's listing, with its
executor walk for large trees), Spark's ``rlike`` alone decides
what matches, and ``actions.fetch`` RETRs the matched files only, in at
most ``max_connections`` partitions with one FTP session each,
gunzipping any payload that starts with the gzip magic bytes. The row
count is observed on the written frame, so over a driver-held tree a
call runs one Spark job, the write, and each file's bytes cross from
Python into the JVM once.

CSV and JSONL share one line step (:func:`_nonempty_lines`: decode ->
split lines -> posexplode -> drop blank lines) and then parse with
``from_csv``/``from_json`` — Catalyst expressions, so no Python touches
row data and a 1000-executor ingest is bounded by FTP bandwidth, not
the driver. Parquet and ORC share one Arrow container parser
(:func:`_parse_container`), each passing in its own pyarrow reader.
Every output row keeps its provenance (source path + 1-based line or
row number) — the lineage columns a training-data pipeline audits by.

Header handling is per-file: with ``header=True`` the first non-empty
line of each CSV is dropped. Its index is computed once per file from
the file's leading blank lines, BEFORE the explode, so no per-line
window (and no shuffle) is needed: fetch -> parse -> parquet is one
shuffle-free stage per fetch partition.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

from ..operators.actions import fetch
from .connector import ClientSpec
from .listing import list_tree


def _land(
    spark: SparkSession,
    spec: ClientSpec,
    folder: str,
    pattern: str,
    parse: Callable[[DataFrame], DataFrame],
    dest: str,
    partition_cols: list[str] | None,
) -> int:
    """The one ingest body: every file under ``folder`` whose path
    matches ``pattern`` -> ``parse`` -> a parquet dataset at ``dest``
    (optionally partitioned); returns the row count written. The count
    is an ``Observation`` on the written frame, so the write is the
    call's only Spark job: nothing is read back."""
    mf = list_tree(spark, spec, folder)
    matched = mf.filter((~F.col("is_dir")) & F.col("path").rlike(pattern))
    written = Observation()
    out = parse(fetch(matched, spec)).observe(written, F.count(F.lit(1)).alias("rows"))
    writer = out.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(dest)
    return written.get["rows"]


def _nonempty_lines(files: DataFrame, *carry: str) -> DataFrame:
    """Binary ``content`` -> (src_path, *carry, idx, line) for every
    non-blank line; ``idx`` is the physical 0-based line index in its
    file and ``carry`` are per-file columns kept on each line."""
    return files.select(
        F.col("path").alias("src_path"),
        *carry,
        F.posexplode(
            F.split(F.decode("content", "UTF-8"), "\r?\n")
        ).alias("idx", "line"),
    ).filter(F.length(F.trim("line")) > 0)


def parse_csv_files(
    files: DataFrame, schema: str, header: bool = True, sep: str = ","
) -> DataFrame:
    """Binary ``content`` column -> typed rows (+ src_path, line_no).

    With ``header=True`` the FIRST NON-EMPTY line of each file is the
    header (a fixed ``idx > 0`` filter would leak the header as a data
    row whenever the file starts with a blank line, since blank lines
    are dropped but physical indices are not renumbered). ``line_no``
    is the physical line offset from the header (1 = first line after
    it), matching the pre-existing lineage contract.

    The header's index ``_hidx`` is found once per file, before the
    explode: it is the number of newlines in the file's leading run of
    blank lines. A line is blank when ``trim`` (ASCII spaces only)
    leaves nothing and ``split('\\r?\\n')`` consumes a CRLF pair's CR,
    so that run is exactly ``^( *\\r?\\n)*``. No window, so no shuffle."""
    if header:
        # its own projection BELOW the explode: in the posexplode select
        # Catalyst would re-evaluate it (decode + regex scan of the whole
        # file) once per exploded line
        lead = F.regexp_extract(F.decode("content", "UTF-8"), r"^((?: *\r?\n)*)", 1)
        files = files.withColumn(
            "_hidx", F.length(lead) - F.length(F.regexp_replace(lead, r"\n", ""))
        )
        lines = _nonempty_lines(files, "_hidx").filter(F.col("idx") != F.col("_hidx"))
        # offset from the header, not the physical idx: a file with a
        # leading blank line has its header at idx=1 and its first data
        # row at idx=2 — line_no must still be 1 there.
        line_no = F.col("idx") - F.col("_hidx")
    else:
        lines = _nonempty_lines(files)
        line_no = F.col("idx") + 1
    parsed = lines.select(
        "src_path",
        line_no.cast("bigint").alias("line_no"),
        F.from_csv("line", schema, {"sep": sep}).alias("r"),
    )
    return parsed.select("src_path", "line_no", "r.*")


def ingest_csv(
    spark: SparkSession,
    spec: ClientSpec,
    folder: str,
    schema: str,
    dest: str,
    pattern: str = r".*\.csv$",
    header: bool = True,
    sep: str = ",",
    partition_cols: list[str] | None = None,
) -> int:
    """Ingest every CSV under ``folder`` on the remote into a parquet
    dataset at ``dest``; returns the row count written."""
    parse = partial(parse_csv_files, schema=schema, header=header, sep=sep)
    return _land(spark, spec, folder, pattern, parse, dest, partition_cols)


def parse_jsonl_files(files: DataFrame, schema: str) -> DataFrame:
    """Binary ``content`` -> typed rows from JSON-Lines files (the
    LLM-corpus interchange format): decode, split lines, from_json per
    line — all Catalyst expressions, same lineage columns as the CSV
    path. Unparseable lines keep their lineage with null fields."""
    parsed = _nonempty_lines(files).select(
        "src_path",
        (F.col("idx") + 1).cast("bigint").alias("line_no"),
        F.from_json("line", schema).alias("r"),
    )
    return parsed.select("src_path", "line_no", "r.*")


def ingest_jsonl(
    spark: SparkSession,
    spec: ClientSpec,
    folder: str,
    schema: str,
    dest: str,
    pattern: str = r".*\.jsonl$",
    partition_cols: list[str] | None = None,
) -> int:
    """Ingest every JSONL file under ``folder`` into parquet at
    ``dest``; returns the row count written."""
    parse = partial(parse_jsonl_files, schema=schema)
    return _land(spark, spec, folder, pattern, parse, dest, partition_cols)


def _parse_container(files: DataFrame, schema: str, read) -> DataFrame:
    """Binary ``content`` -> typed rows from a columnar container file
    (parquet, ORC). There is no Catalyst expression that decodes one
    from a bytes column, so one Arrow-natural mapInPandas pass opens
    each payload with ``read(fileobj, columns)`` — a pyarrow reader,
    zero-copy into the Arrow batches Spark already speaks — and
    re-emits its rows with the standard lineage columns (src_path,
    row_no within the source file).

    ``schema`` lists the columns to project (pushed into the pyarrow
    read so unneeded columns are never materialized). Executors parse
    only their own partition's files — at scale ingest stays bounded by
    transfer bandwidth, exactly like the CSV path."""
    want = StructType.fromDDL(schema).names  # a type may hold commas: decimal(10,2)
    out_schema = f"src_path string, row_no bigint, {schema}"

    def gen(batches):
        import io

        for pdf in batches:
            for path, buf in zip(pdf["path"], pdf["content"]):
                out = read(io.BytesIO(bytes(buf)), want).to_pandas()
                out.insert(0, "row_no", range(1, len(out) + 1))
                out.insert(0, "src_path", path)
                yield out

    return files.select("path", "content").mapInPandas(gen, out_schema)


def parse_parquet_files(files: DataFrame, schema: str) -> DataFrame:
    """Parquet payloads -> typed rows with lineage (:func:`_parse_container`)."""
    def read(fileobj, columns):
        import pyarrow.parquet as pq

        return pq.read_table(fileobj, columns=columns)

    return _parse_container(files, schema, read)


def ingest_parquet(
    spark: SparkSession,
    spec: ClientSpec,
    folder: str,
    schema: str,
    dest: str,
    pattern: str = r".*\.parquet$",
    partition_cols: list[str] | None = None,
) -> int:
    """Ingest every parquet file under ``folder`` on the remote into a
    parquet dataset at ``dest`` (re-landed with lineage columns);
    returns the row count written."""
    parse = partial(parse_parquet_files, schema=schema)
    return _land(spark, spec, folder, pattern, parse, dest, partition_cols)


def parse_orc_files(files: DataFrame, schema: str) -> DataFrame:
    """ORC payloads (the other common columnar container in warehouse
    exports) -> typed rows with lineage (:func:`_parse_container`)."""
    def read(fileobj, columns):
        import pyarrow.orc as po

        return po.ORCFile(fileobj).read(columns=columns)

    return _parse_container(files, schema, read)


def ingest_orc(
    spark: SparkSession,
    spec: ClientSpec,
    folder: str,
    schema: str,
    dest: str,
    pattern: str = r".*\.orc$",
    partition_cols: list[str] | None = None,
) -> int:
    """Ingest every ORC file under ``folder`` on the remote into a
    parquet dataset at ``dest`` (re-landed with lineage columns);
    returns the row count written."""
    parse = partial(parse_orc_files, schema=schema)
    return _land(spark, spec, folder, pattern, parse, dest, partition_cols)

