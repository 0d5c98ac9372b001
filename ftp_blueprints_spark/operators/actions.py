"""Action sinks — the reference's act phase (SURVEY.md §2A S6-S11,
D1-D3) over a destination-projected manifest (columns ``path`` and,
where applicable, ``dest_path``), and :func:`fetch`, the ingest's read
of matched files' bytes.

Execution model: each call acts over at most ``spec.max_connections``
parts (FTP servers throttle sessions), and each part opens ONE client
(connector.ClientSpec.connect) and streams its rows. Two regimes,
decided by the manifest's type, with no option:

- held rows (the ``list`` the CLI matched, guarded and named in Python)
  are cut into ``connector.chunks`` and acted on by driver threads
  (``connector.on_driver_threads``, the helper ``list_manifest`` expands
  its levels with): the call runs no Spark job, and bytes flow between
  the server and the CLI's host;
- a DataFrame (an executor-walked manifest: ``list_manifest`` past the
  threshold) is repartitioned and acted on by executors, one client per
  non-empty partition (``connector.per_client``); the call runs one
  job, and bytes flow executor<->server.

Every sink body yields one status per row (``ok``, ``failed`` or
``skipped``); :func:`_run_sink` counts them in both regimes. ``fetch``
always runs on executors, so file bytes never pass through the driver.

Reference error-semantic asymmetries preserved (behavioral parity):
- download skips failed rows and keeps going, removing the partial
  file (D1, download_file.py:280-281; cleanup :202) — here hardened to
  write-to-temp + atomic rename — and writes one stderr line per
  skipped row naming its source path and the exception class;
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
  mkdir -p per folder per part.
"""

from __future__ import annotations

import gzip
import io
import itertools
import os
import sys
import uuid
from collections import Counter

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession

from ..errors import InvalidFilePath, MoveError, UploadError, typed_errors
from ..sources.connector import ClientSpec, chunks, on_driver_threads, parent, per_client


def _reported(action: str, body):
    """``body`` that also writes one progress line per part when its rows
    are done (D4: the reference prints per-file lines,
    download_file.py:197,268,276; one line per part keeps logs bounded).
    Parts run concurrently, so the line is written in one call."""

    def run(client, rows):
        n = Counter(ok=0)
        for status in body(client, rows):
            n[status] += 1
            yield status
        done = ", ".join(f"{count} {status}" for status, count in n.items())
        sys.stderr.write(f"[{action}] partition done: {done}\n")

    return run


def _placed(rows: DataFrame | list, spec: ClientSpec, spark: SparkSession | None = None) -> RDD:
    """``rows`` in at most ``spec.max_connections`` partitions: more would
    exceed the server's session budget, fewer would leave allowed
    sessions idle.

    - held rows (a list) are shipped with ``spark``'s
      ``sc.parallelize`` into ``min(rows, max_connections)`` slices: no
      shuffle;
    - a frame is repartitioned to exactly ``max_connections`` (AQE would
      coalesce a small numbered manifest to one partition). Asking for
      the current partition count first would run the upstream plan's
      AQE stages once for the count and again for the sink; the
      unconditional round-robin costs one shuffle of the (path, dest)
      rows instead."""
    conns = max(1, spec.max_connections)
    if isinstance(rows, list):
        return spark.sparkContext.parallelize(rows, max(1, min(len(rows), conns)))
    return rows.repartition(conns).rdd


def _run_sink(
    manifest: DataFrame | list, spec: ClientSpec, action: str, body, *columns: str
) -> Counter:
    """Run ``body(client, rows)`` over the rows of ``manifest``, one
    client per part, and count the statuses it yields.

    Held rows run on driver threads (no Spark job); the first error in
    any chunk stops the others before their next row and is raised as
    it was raised. A frame is cut to ``columns`` and its rows run on
    executors in one ``countByValue`` job; executor exceptions surface
    as Py4J strings and are mapped back to the typed error (and its exit
    code) here. That covers IncorrectCredentials too: spec.connect()
    runs inside partitions, so a bad login fails executor-side and must
    still exit 3."""
    body = _reported(action, body)
    if isinstance(manifest, list):
        parts = on_driver_threads(spec, chunks(manifest, spec.max_connections), body)
        return Counter(itertools.chain.from_iterable(parts))
    with typed_errors():
        placed = _placed(manifest.select(*columns), spec)
        return Counter(placed.mapPartitions(per_client(spec, body)).countByValue())


def fetch(files: DataFrame | list, spec: ClientSpec, spark: SparkSession | None = None) -> DataFrame:
    """``(path STRING, content BINARY)`` for each of ``files``: the
    ingest's one route for file bytes into Spark. ``files`` is a frame
    with a ``path`` column, or held manifest rows (path first), fetched
    in the session ``spark``. Only the given paths are RETRed, placed
    exactly as the sinks place their rows (:func:`_placed`, one session
    per non-empty partition through ``connector.per_client``); the bytes
    stay executor-side. A payload that starts with the gzip magic bytes
    1f 8b is gunzipped right after its RETR — magic bytes, not the
    extension, so a server-side rename cannot hide it, and plain and .gz
    files mix in one call. Lazy: the RETRs run with the job that reads
    the frame."""

    def body(client, rows):
        for row in rows:
            buf = io.BytesIO()
            client.retrieve(row[0], buf)
            data = buf.getvalue()
            yield row[0], gzip.decompress(data) if data[:2] == b"\x1f\x8b" else data

    if not isinstance(files, list):
        spark, files = files.sparkSession, files.select("path")
    fetched = _placed(files, spec, spark).mapPartitions(per_client(spec, body))
    return spark.createDataFrame(fetched, "path string, content binary")


def download(manifest: DataFrame | list, spec: ClientSpec, dest_root: str) -> dict:
    """S6+S11+D1: stream each matched remote file to ``dest_root``.

    Per-row skip on failure; partial output is impossible: each writer
    streams into its own temp file beside the destination and renames it
    into place atomically (replacing the reference's delete-on-error), so
    rows sharing a destination cannot corrupt one another. Which of them
    wins is unspecified. Returns {'ok': n, 'failed': n}. Per-ROW failures
    are skipped inside the sink (D1), each with one whole stderr line
    naming the source path and the exception class, but a
    connect()/login failure aborts the call and maps back to exit 3."""

    def body(client, rows):
        for row in rows:
            dest = os.path.join(dest_root, row["dest_path"])
            os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
            tmp = f"{dest}.{uuid.uuid4().hex}.inprogress"
            try:
                with open(tmp, "xb") as f:
                    client.retrieve(row["path"], f)
                os.replace(tmp, dest)
                yield "ok"
            except Exception as e:
                if os.path.exists(tmp):
                    os.remove(tmp)
                sys.stderr.write(f"[download] failed {row['path']}: {type(e).__name__}\n")
                yield "failed"  # D1: skip and continue

    n = _run_sink(manifest, spec, "download", body, "path", "dest_path")
    return {"ok": n["ok"], "failed": n["failed"]}


def upload(manifest: DataFrame | list, spec: ClientSpec, source_root: str = "") -> dict:
    """S7+S8+D2: stream each local file to its remote dest_path.

    Non-file sources are skipped without error; any transfer failure
    aborts the call (UploadError)."""

    def body(client, rows):
        for row in rows:
            src = os.path.join(source_root, row["path"]) if source_root else row["path"]
            if not os.path.isfile(src):
                yield "skipped"
                continue
            try:
                client.makedirs(parent(row["dest_path"]))
                with open(src, "rb") as f:
                    client.store(f, row["dest_path"])
            except Exception as e:
                raise UploadError(f"failed to upload {src}: {e}") from e
            yield "ok"

    n = _run_sink(manifest, spec, "upload", body, "path", "dest_path")
    return {"ok": n["ok"], "skipped": n["skipped"]}


def move(manifest: DataFrame | list, spec: ClientSpec) -> dict:
    """S9+S8+D2: server-side rename per row — metadata-only, no data
    plane. First failure aborts with exit-202 semantics (MoveError)."""

    def body(client, rows):
        for row in rows:
            try:
                client.makedirs(parent(row["dest_path"]))
                client.rename(row["path"], row["dest_path"])
            except Exception as e:
                raise MoveError(f"failed to move {row['path']}: {e}") from e
            yield "ok"

    n = _run_sink(manifest, spec, "move", body, "path", "dest_path")
    return {"ok": n["ok"]}


def delete(manifest: DataFrame | list, spec: ClientSpec) -> dict:
    """S10: delete each matched remote file; first failure aborts with
    exit-201 semantics (InvalidFilePath)."""

    def body(client, rows):
        for row in rows:
            try:
                client.delete(row["path"])
            except Exception as e:
                raise InvalidFilePath(f"failed to delete {row['path']}: {e}") from e
            yield "ok"

    n = _run_sink(manifest, spec, "delete", body, "path")
    return {"ok": n["ok"]}
