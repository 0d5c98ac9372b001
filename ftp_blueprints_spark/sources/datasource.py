"""Python DataSource (Spark 4 ``pyspark.sql.datasource`` API) exposing
remote trees as DataFrames: the engine's answer to "Spark has no
native FTP source" (SURVEY.md §1.3).

    df = read_manifest(spark, ClientSpec(kind="local", root="/data"), "")

:func:`read_manifest` is the program's only route into the
``ftp_manifest`` format (it registers :class:`ManifestDataSource` and
forwards every ClientSpec field as an option); ``list_tree``'s
large-tree hand-off and the registered queries go through it.

Schema: the five manifest columns (path/folder/name/is_dir/size). The
reader is a plain walk of ``folder``: pruning lives in ``list_tree``,
whose hand-off passes its pruned seed as ``folder``, and file bytes
reach Spark through ``operators.actions.fetch`` only.

Partitioning: the driver lists ONLY ``folder`` with one connection
(``connector.seed_rows``) and cuts its entries into at most
``max_connections`` contiguous chunks (``connector.chunks``). Each
chunk is one InputPartition, read by an executor with ONE client that
walks the chunk's subtrees depth-first in entry order, one
``connector.child_rows`` call per folder, bounded by
``connector.MAX_DEPTH``. A read therefore opens at most 1 +
``max_connections`` sessions, the same bound as the sinks and
``list_tree``; rows come out in seed-entry order whatever the
chunking. A folder with no entries is one empty partition.

The shared walk steps live in ``connector.py`` rather than
``listing.py`` because Python workers unpickle this module: importing
``listing`` here would pull pyarrow into every DataSource worker.
"""

from __future__ import annotations

import dataclasses
import io
import logging
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .connector import (
    MANIFEST_SCHEMA, ClientSpec, check_depth, child_rows, chunks, parent, seed_rows,
)


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
        if not partition.entries:
            return
        client = self.spec.connect()
        try:
            # reversed onto the DFS stack: entry 0's subtree comes out first
            stack = [(row, 1) for row in reversed(partition.entries)]
            while stack:
                row, depth = stack.pop()
                path, _, _, is_dir, _ = row
                if is_dir:
                    check_depth(depth, path)
                    children = child_rows(client, path, self.skip_dot_dirs)
                    stack.extend((child, depth + 1) for child in children)
                yield row
        finally:
            client.close()


class ManifestDataSource(DataSource):
    """``ftp_manifest`` format: remote-tree manifest as a DataFrame."""

    @classmethod
    def name(cls) -> str:
        return "ftp_manifest"

    def schema(self) -> str:
        return MANIFEST_SCHEMA

    def reader(self, schema: StructType) -> ManifestReader:
        return ManifestReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "ManifestWriter":
        return ManifestWriter(self.options)


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


class _UploadCommit(WriterCommitMessage):
    def __init__(self, n_files: int):
        self.n_files = n_files


class ManifestWriter(DataSourceWriter):
    """Write side of ``ftp_manifest``: each task uploads its partition's
    rows (``dest_path`` STRING + ``content`` BINARY) through its own
    connection — the DataFrame-native statement of the upload sink
    (operators/actions.upload is the imperative twin).

    Same durability discipline as the download sink: bytes land under a
    temp name and are renamed into place, so a killed task never leaves
    a half-written remote file; each row's parent folder goes through
    ``client.makedirs``, which memoizes per session, so a folder costs
    round trips once per task. Commit messages carry per-task upload
    counts; a failed task raises and Spark retries it wholesale. Retries are
    made genuinely idempotent by a best-effort delete of the
    destination before the rename — RFC 959 RNTO replies 550 on many
    servers when the target exists (only local os.rename is guaranteed
    to overwrite), so a retry after a partially-committed task would
    otherwise fail permanently. A failed store/rename likewise
    best-effort deletes its temp name so ``*.__uploading__`` litter is
    not left on the remote (task-side cleanup: DataSourceWriter.abort
    only receives commit messages from SUCCESSFUL tasks, so the failing
    task itself is the only place that knows the temp name)."""

    def __init__(self, options):
        self.spec = _spec_from_options(options)

    def write(self, iterator) -> "_UploadCommit":
        client = self.spec.connect()
        n = 0
        try:
            for row in iterator:
                dest = row["dest_path"]
                payload = bytes(row["content"])
                client.makedirs(parent(dest))
                tmp = f"{dest}.__uploading__"
                try:
                    client.store(io.BytesIO(payload), tmp)
                    try:  # RNTO fails on existing dest on many servers
                        client.delete(dest)
                    except Exception:
                        pass
                    client.rename(tmp, dest)
                except Exception:
                    try:  # don't leave temp litter behind a failed task
                        client.delete(tmp)
                    except Exception:
                        pass
                    raise
                n += 1
        finally:
            client.close()
        return _UploadCommit(n)

    def commit(self, messages) -> None:
        total = sum(m.n_files for m in messages if m is not None)
        logging.getLogger(__name__).info(
            "ftp_manifest write committed: %d file(s)", total
        )

    def abort(self, messages) -> None:  # best-effort: temp names never
        pass  # became visible, so there is nothing durable to undo
