"""Action sinks — the reference's act phase (SURVEY.md §2A S6-S11,
D1-D3) as ``foreachPartition`` sinks over a destination-projected
manifest (columns ``path`` and, where applicable, ``dest_path``), and
:func:`fetch`, the ingest's read of matched files' bytes.

Execution model: each call acts over at most ``spec.max_connections``
partitions (FTP servers throttle sessions). A driver-held manifest
(``list_tree``'s ``LocalRelation``) is collected without a job and
sliced with ``sc.parallelize``, so the call runs one Spark job; a
DataSource manifest is repartitioned instead. Each non-empty partition
opens ONE client (connector.ClientSpec.connect) and streams its rows;
bytes flow executor<->server and never touch the driver. The sinks and
the fetch share that placement (``_placed``) and that per-partition
client (``_per_client``).

Reference error-semantic asymmetries preserved (behavioral parity):
- download skips failed rows and keeps going, removing the partial
  file (D1, download_file.py:280-281; cleanup :202) — here hardened to
  write-to-temp + atomic rename;
- upload raises on first failure (D2, upload_file.py:190) but silently
  skips non-file sources (upload_file.py:181-183);
- move fails the job with exit code 202 on first failure
  (move_file.py:113);
- delete fails with exit code 201 on first failure (delete_file.py:85
  — the reference exits inside the callee, making its caller's
  per-file try/except dead code; we keep the observable fail-fast);
- destination folders are created idempotently before any transfer
  (S8 upload_file.py:159-171 remote, S11 download_file.py:242-245
  local true mkdir -p); the remote sinks call ``client.makedirs`` for
  every row, and the client's per-session memo keeps that to one
  mkdir -p per folder per partition.
"""

from __future__ import annotations

import io
import itertools
import os
import sys

from pyspark import RDD
from pyspark.sql import DataFrame

from ..errors import InvalidFilePath, MoveError, UploadError, typed_from_message
from ..sources.connector import ClientSpec, parent
from .manifest import driver_rows


def _progress(action: str, n_ok: int, n_other: int = 0, other: str = "") -> None:
    """D4 progress logging (the reference prints per-file lines,
    download_file.py:197,268,276; here one line per partition so logs
    stay bounded at scale)."""
    extra = f", {n_other} {other}" if other else ""
    print(f"[{action}] partition done: {n_ok} ok{extra}", file=sys.stderr)


def _placed(df: DataFrame, spec: ClientSpec) -> RDD:
    """The rows of ``df`` in at most ``spec.max_connections`` partitions:
    more would exceed the server's session budget, fewer would leave
    allowed sessions idle. Two regimes (``manifest.driver_rows`` decides):

    - driver-held rows (the optimized plan is a ``LocalRelation``) are
      collected with no job and shipped with ``sc.parallelize`` into
      ``min(rows, max_connections)`` slices: one job, no shuffle;
    - otherwise (a DataSource manifest) the frame is repartitioned to
      exactly ``max_connections`` (AQE would coalesce a small numbered
      manifest to one partition). Asking for the current partition
      count first would run the upstream plan's AQE stages once for the
      count and again for the sink; the unconditional round-robin costs
      one shuffle of the (path, dest) rows instead."""
    conns = max(1, spec.max_connections)
    held = driver_rows(df)
    if held is None:
        return df.repartition(conns).rdd
    sc = df.sparkSession.sparkContext
    return sc.parallelize(held, max(1, min(len(held), conns)))


def _per_client(spec: ClientSpec, body):
    """``body(client, rows)`` as a partition function that opens its
    client on the partition's first row, so an empty partition opens no
    session, and yields whatever ``body`` yields (a sink's returns None)."""

    def run(rows):
        rows = iter(rows)
        first = next(rows, None)
        if first is None:
            return
        client = spec.connect()
        try:
            yield from body(client, itertools.chain([first], rows)) or ()
        finally:
            client.close()

    return run


def _run_sink(df: DataFrame, spec: ClientSpec, body) -> None:
    """Run ``body(client, rows)`` once per non-empty partition of
    :func:`_placed` ``df``; bytes flow executor<->server, never through
    the driver.

    Executor exceptions surface as Py4J strings; they are mapped back
    to the typed error (and its exit code) at this driver boundary.
    That covers IncorrectCredentials too: spec.connect() runs INSIDE
    partitions, so a bad login fails executor-side and must still
    exit 3."""
    try:
        _placed(df, spec).foreachPartition(_per_client(spec, body))
    except Exception as err:
        typed = typed_from_message(err)
        if typed is not None:
            raise typed from err
        raise


def fetch(files: DataFrame, spec: ClientSpec) -> DataFrame:
    """``(path STRING, content BINARY)`` for each row of ``files``: the
    ingest's one route for file bytes into Spark. Only the given paths
    are RETRed, placed exactly as the sinks place their rows
    (:func:`_placed`, one session per non-empty partition); the bytes
    stay executor-side. Lazy: the RETRs run with the job that reads the
    frame."""

    def body(client, rows):
        for row in rows:
            buf = io.BytesIO()
            client.retrieve(row["path"], buf)
            yield row["path"], buf.getvalue()

    fetched = _placed(files.select("path"), spec).mapPartitions(_per_client(spec, body))
    return files.sparkSession.createDataFrame(fetched, "path string, content binary")


def download(manifest: DataFrame, spec: ClientSpec, dest_root: str) -> dict:
    """S6+S11+D1: stream each matched remote file to ``dest_root``.

    Per-row skip on failure; partial output is impossible (temp file +
    atomic rename replaces the reference's delete-on-error). Returns
    {'ok': n, 'failed': n} from accumulators. Per-ROW failures are
    skipped inside the sink (D1), but a connect()/login failure aborts
    the partition and maps back to exit 3."""
    sc = manifest.sparkSession.sparkContext
    ok, failed = sc.accumulator(0), sc.accumulator(0)

    def body(client, rows) -> None:
        n_ok = n_failed = 0
        for row in rows:
            dest = os.path.join(dest_root, row["dest_path"])
            os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
            tmp = f"{dest}.inprogress"
            try:
                with open(tmp, "wb") as f:
                    client.retrieve(row["path"], f)
                os.replace(tmp, dest)
                n_ok += 1
                ok.add(1)
            except Exception:
                if os.path.exists(tmp):
                    os.remove(tmp)
                n_failed += 1
                failed.add(1)  # D1: skip and continue
        _progress("download", n_ok, n_failed, "failed")

    _run_sink(manifest.select("path", "dest_path"), spec, body)
    return {"ok": ok.value, "failed": failed.value}


def upload(manifest: DataFrame, spec: ClientSpec, source_root: str = "") -> dict:
    """S7+S8+D2: stream each local file to its remote dest_path.

    Non-file sources are skipped without error; any transfer failure
    aborts the job (UploadError)."""
    sc = manifest.sparkSession.sparkContext
    ok, skipped = sc.accumulator(0), sc.accumulator(0)

    def body(client, rows) -> None:
        n_ok = n_skip = 0
        for row in rows:
            src = os.path.join(source_root, row["path"]) if source_root else row["path"]
            if not os.path.isfile(src):
                n_skip += 1
                skipped.add(1)
                continue
            try:
                client.makedirs(parent(row["dest_path"]))
                with open(src, "rb") as f:
                    client.store(f, row["dest_path"])
                n_ok += 1
                ok.add(1)
            except Exception as e:
                raise UploadError(f"failed to upload {src}: {e}") from e
        _progress("upload", n_ok, n_skip, "skipped")

    _run_sink(manifest.select("path", "dest_path"), spec, body)
    return {"ok": ok.value, "skipped": skipped.value}


def move(manifest: DataFrame, spec: ClientSpec) -> dict:
    """S9+S8+D2: server-side rename per row — metadata-only, no data
    plane. First failure aborts with exit-202 semantics (MoveError)."""
    sc = manifest.sparkSession.sparkContext
    ok = sc.accumulator(0)

    def body(client, rows) -> None:
        n_ok = 0
        for row in rows:
            try:
                client.makedirs(parent(row["dest_path"]))
                client.rename(row["path"], row["dest_path"])
                n_ok += 1
                ok.add(1)
            except Exception as e:
                raise MoveError(f"failed to move {row['path']}: {e}") from e
        _progress("move", n_ok)

    _run_sink(manifest.select("path", "dest_path"), spec, body)
    return {"ok": ok.value}


def delete(manifest: DataFrame, spec: ClientSpec) -> dict:
    """S10: delete each matched remote file; first failure aborts with
    exit-201 semantics (InvalidFilePath)."""
    sc = manifest.sparkSession.sparkContext
    ok = sc.accumulator(0)

    def body(client, rows) -> None:
        n_ok = 0
        for row in rows:
            try:
                client.delete(row["path"])
                n_ok += 1
                ok.add(1)
            except Exception as e:
                raise InvalidFilePath(f"failed to delete {row['path']}: {e}") from e
        _progress("delete", n_ok)

    _run_sink(manifest.select("path"), spec, body)
    return {"ok": ok.value}
