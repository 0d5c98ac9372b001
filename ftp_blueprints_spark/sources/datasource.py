"""Python DataSource (Spark 4 ``pyspark.sql.datasource`` API) exposing
remote trees as DataFrames, read side only: the ``ftp_manifest`` format.

    df = read_manifest(spark, ClientSpec(kind="local", root="/data"), "")

:func:`read_manifest` is the program's only route into the format (it
registers :class:`ManifestDataSource` and forwards every ClientSpec
field as an option); the registered query ``mf_real_listing_datasource``
goes through it. ``list_tree`` does not: past its threshold it hands its
unlisted frontier to its own executor walk (``connector.walker``).

Schema: the five manifest columns (path/folder/name/is_dir/size). The
reader is a plain walk of ``folder``; pruning lives in ``list_tree``,
and file bytes reach Spark through ``operators.actions.fetch`` only.

Partitioning: the driver lists ONLY ``folder`` with one connection
(``connector.seed_rows``) and cuts its entries into at most
``max_connections`` contiguous chunks (``connector.chunks``). Each
chunk is one InputPartition, read by an executor with ONE client
(``connector.per_client``) that yields each entry and then, for a
folder, the ``connector.walk`` of its tree, bounded by
``connector.MAX_DEPTH``. A read therefore opens at most 1 +
``max_connections`` sessions, the same bound as the sinks and
``list_tree``; rows come out in seed-entry order whatever the
chunking. A folder with no entries is one empty partition.

The walk steps live in ``connector.py`` rather than ``listing.py``
because Python workers unpickle this module: importing ``listing`` here
would pull pyarrow into every DataSource worker.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from .connector import MANIFEST_SCHEMA, ClientSpec, chunks, per_client, seed_rows, walk


def _spec_from_options(options) -> ClientSpec:
    """Every ClientSpec field present in ``options``, parsed back to the
    field's type. Options are the only channel into executor-side
    ``connect()``, so the field list comes from the dataclass itself:
    a dropped field (e.g. ``passive``) would silently revert to its
    default whenever work routes through the DataSource."""
    kw = {}
    for f in dataclasses.fields(ClientSpec):
        v = options.get(f.name)
        if v is not None:
            kw[f.name] = v == "true" if isinstance(f.default, bool) else type(f.default)(v)
    return ClientSpec(**kw)


def _spec_options(spec: ClientSpec) -> dict[str, str]:
    """The inverse: every ClientSpec field as a DataSource option."""
    return {
        k: str(v).lower() if isinstance(v, bool) else str(v)
        for k, v in dataclasses.asdict(spec).items()
    }


class _TreePartition(InputPartition):
    def __init__(self, entries: list[tuple]):
        self.entries = entries  # seed rows (path, folder, name, is_dir, size)


class ManifestReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.spec = _spec_from_options(options)
        self.folder = options.get("folder", "")
        self.skip_dot_dirs = options.get("skip_dot_dirs", "true") == "true"

    def partitions(self):
        """One cheap listing of ``folder`` on the driver; its entries,
        cut into at most ``max_connections`` contiguous chunks, become
        the executor-side partitions. No entries yields one empty
        partition."""
        rows = seed_rows(self.spec, self.folder, self.folder, self.skip_dot_dirs)
        chunked = chunks(rows, self.spec.max_connections)
        return [_TreePartition(c) for c in chunked] or [_TreePartition([])]

    def read(self, partition: _TreePartition) -> Iterator[tuple]:
        def entry_trees(client, entries):
            for row in entries:
                yield row
                if row[3]:  # is_dir
                    yield from walk(client, [row[0]], 1, self.skip_dot_dirs)

        return per_client(self.spec, entry_trees)(partition.entries)


class ManifestDataSource(DataSource):
    """``ftp_manifest`` format: remote-tree manifest as a DataFrame."""

    @classmethod
    def name(cls) -> str:
        return "ftp_manifest"

    def schema(self) -> str:
        return MANIFEST_SCHEMA

    def reader(self, schema: StructType) -> ManifestReader:
        return ManifestReader(schema, self.options)


def read_manifest(
    spark: SparkSession,
    spec: ClientSpec,
    folder: str,
    skip_dot_dirs: bool = True,
) -> DataFrame:
    """The program's one route into the ``ftp_manifest`` format: the
    manifest of the tree under ``folder``, its top-level entries walked
    executor-side in at most ``spec.max_connections`` partitions.
    Registering the format again in the same session is a no-op."""
    spark.dataSource.register(ManifestDataSource)
    return (
        spark.read.format("ftp_manifest")
        .options(**_spec_options(spec))
        .option("folder", folder)
        .option("skip_dot_dirs", "true" if skip_dot_dirs else "false")
        .load()
    )

