"""Remote-storage connector interface + implementations, and the one
per-folder listing step every tree walk shares.

Spark has no native FTP source, and a single ``ftplib.FTP`` session is
stateful (pwd/cwd) and unshareable across executors. The engine
therefore talks to remote trees through a small picklable interface:

- :class:`ClientSpec` — a picklable *description* of a connection
  (host/port/credentials/policy). Shipped to executors; each partition
  opens its own client (``spec.connect()``) and closes it when done.
- :class:`RemoteClient` — the operation surface the sinks and listing
  source consume: ``listdir / retrieve / store / rename / delete /
  makedirs``. ``makedirs`` is an idempotent mkdir -p that memoizes per
  session (per client): a sink calls it for every row's destination
  folder and only the first call per folder costs round trips.
- :class:`LocalFSClient` — local-filesystem implementation used for
  integration tests and for the reference's local-side operators (S5
  local listing, S11 local dest-folder create).
- :class:`FTPClient` — ``ftplib`` implementation with ONE configurable
  timeout/passive policy, replacing the reference's four inconsistent
  ``get_client`` variants (download_file.py:210-227 sets timeout=300 +
  passive; delete_file.py:89-104 sets timeout=3600 + passive;
  upload/move set neither). It ACKs each data-channel command's ``150``
  reply at once: a server that writes ``150`` and ``226`` as two small
  writes with Nagle on (most do) holds the ``226`` until the ``150`` is
  ACKed, so without that every RETR, STOR and NLST would wait out the
  client's delayed-ACK timer (about 40 ms on Linux).

Shared tree-walk steps (used by ``listing.list_tree``'s driver BFS, by
the executor walk it hands its unlisted frontier to past
``listing.DRIVER_ROWS_THRESHOLD``, and by the ``ftp_manifest`` reader):
:func:`parent` is the one folder-of-path rule, :func:`child_rows` turns
one ``listdir`` into manifest rows (name split + the all-dots F4 rule),
:func:`seed_rows` lists a walk's seed folder (a missing *pruned* seed is
an empty tree), :func:`walk` is the one depth-first walk of the trees
under a list of folders, :func:`check_depth` bounds every walk at
``MAX_DEPTH`` folder levels, and :func:`chunks` is the one rule that
splits a walk's work over ``max_connections`` clients. They live here,
not in ``listing.py``, so Python workers never import pyarrow.

Scale design: every walk, sink and fetch opens one client per PART
(not per row), over at most ``max_connections`` parts, so a
1000-executor job cannot open more sessions than the server allows.
Driver-held work (``list_tree``'s levels, and the sinks over a
driver-held manifest) is cut into :func:`chunks` and run by
:func:`on_driver_threads`, one thread and client per chunk, with no
Spark job. Executor-side work opens its client through
:func:`per_client`, on a partition's first row, so an empty partition
opens none: the executor walk (:func:`walker`, over at most
``max_connections`` slices of the frontier), the ``ftp_manifest``
reader, and the executor sinks and fetch (``operators.actions._placed``:
driver-held rows sliced with ``sc.parallelize``, an executor-walked
manifest repartitioned to exactly ``max_connections``, so a manifest AQE
coalesced to one partition still uses every allowed session).
"""

from __future__ import annotations

import ftplib
import itertools
import os
import shutil
import socket
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from ..errors import BlueprintError, IncorrectCredentials

# The manifest row every walk emits (:func:`child_rows`), as Spark DDL.
MANIFEST_SCHEMA = "path string, folder string, name string, is_dir boolean, size bigint"

# Folder levels either tree walk may list (its seed is level 0); a tree
# deeper than this fails the walk instead of returning a truncated manifest.
MAX_DEPTH = 64


class RemoteClient:
    """Operation surface over a file tree ('/'-separated paths)."""

    def listdir(self, folder: str) -> list[tuple[str, bool, int | None]]:
        """List direct children of ``folder`` as (path, is_dir, size).
        Returned paths are folder-prefixed (the reference normalizes
        bare names the same way, download_file.py:154-157)."""
        raise NotImplementedError

    def retrieve(self, remote_path: str, fileobj) -> None:
        """Stream remote file bytes into a writable binary fileobj
        (RETR, download_file.py:199)."""
        raise NotImplementedError

    def store(self, fileobj, remote_path: str) -> None:
        """Stream a readable binary fileobj to the remote path
        (STOR, upload_file.py:187)."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Server-side rename/move (move_file.py:109)."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        """Delete a remote file (delete_file.py:81)."""
        raise NotImplementedError

    def makedirs(self, folder: str) -> None:
        """Idempotent mkdir -p, segment by segment (upload_file.py:159-171:
        try cwd, on failure mkd+cwd — safe under concurrent partitions
        because the 'already exists' failure is swallowed). Returns at
        once for ``''`` and for a folder this session already made or
        entered, so callers need no memo of their own."""
        raise NotImplementedError

    def close(self) -> None:
        pass


class LocalFSClient(RemoteClient):
    """RemoteClient over a local directory root.

    Paths are '/'-relative to ``root``; the same tree semantics as an
    FTP server (no scheme, no drive letters). Used by integration tests
    and by local-side reference operators."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)

    def _abs(self, path: str) -> str:
        return os.path.normpath(os.path.join(self.root, path.lstrip("/")))

    def listdir(self, folder: str):
        base = self._abs(folder)
        out = []
        for name in sorted(os.listdir(base)):
            p = os.path.join(base, name)
            rel = f"{folder.rstrip('/')}/{name}" if folder.strip("/") else name
            if os.path.isdir(p):
                out.append((rel, True, None))
            else:
                out.append((rel, False, os.path.getsize(p)))
        return out

    def retrieve(self, remote_path: str, fileobj) -> None:
        with open(self._abs(remote_path), "rb") as f:
            shutil.copyfileobj(f, fileobj)

    def store(self, fileobj, remote_path: str) -> None:
        with open(self._abs(remote_path), "wb") as f:
            shutil.copyfileobj(fileobj, f)

    def rename(self, src: str, dst: str) -> None:
        os.rename(self._abs(src), self._abs(dst))

    def delete(self, path: str) -> None:
        os.remove(self._abs(path))

    def makedirs(self, folder: str) -> None:
        os.makedirs(self._abs(folder), exist_ok=True)


class _QuickAckFTP(ftplib.FTP):
    """``ftplib.FTP`` that ACKs a data-channel command's ``150`` reply as
    soon as ``ntransfercmd`` (every RETR, STOR and NLST) has read it.

    The client sends nothing more on the control connection until the
    ``226``, so the ACK would wait for the kernel's delayed-ACK timer
    (RFC 1122 4.2.3.2), and a Nagle-on server (RFC 896) holds its ``226``
    until then. ``TCP_QUICKACK`` on the control socket sends the pending
    ACK now; ``TCP_NODELAY`` would not, as the held write is the
    server's. Without ``TCP_QUICKACK`` (non-Linux) this is plain
    ``ftplib.FTP``."""

    def ntransfercmd(self, cmd, rest=None):
        conn, size = super().ntransfercmd(cmd, rest)
        quickack = getattr(socket, "TCP_QUICKACK", None)
        if quickack is not None:
            self.sock.setsockopt(socket.IPPROTO_TCP, quickack, 1)
        return conn, size


class FTPClient(RemoteClient):
    """``ftplib`` implementation with a single connection policy.

    Listing classifies entries with the reference's cwd-probe
    (download_file.py:159-167): cwd succeeds -> folder, error_perm ->
    file. ``size()`` is used opportunistically for file sizes (the
    size-probe, move_file.py:52-61). The session ACKs each RETR, STOR
    and NLST's ``150`` reply at once (:class:`_QuickAckFTP`): a server
    with Nagle on would otherwise hold the ``226`` for the client's
    delayed-ACK interval, about 40 ms per transfer on Linux."""

    def __init__(self, host, port, username, password, timeout=300, passive=True):
        self._made: set[str] = set()  # folders made or entered this session
        self._ftp = _QuickAckFTP(timeout=timeout)
        try:
            self._ftp.connect(host, int(port))
            self._ftp.login(username, password)
            self._ftp.set_pasv(passive)
        except Exception as e:  # reference exits 3 here (download_file.py:227)
            self._ftp.close()
            raise IncorrectCredentials(str(e)) from e

    def listdir(self, folder: str):
        original = self._ftp.pwd()
        out = []
        for name in self._ftp.nlst(folder):
            if "/" not in name:  # bare-name servers (download_file.py:154-157)
                # root-level listing keeps bare names (no leading '/') —
                # the same path convention as LocalFSClient.listdir
                name = f"{folder}/{name}" if folder.strip("/") else name
            try:
                self._ftp.cwd(name)
            except ftplib.error_perm:
                # a server without SIZE still lists; a dropped connection
                # (OSError) fails the listing
                size = None
                try:
                    size = self._ftp.size(name)
                except ftplib.Error:
                    pass
                out.append((name, False, size))
                continue
            self._ftp.cwd(original)
            out.append((name, True, None))
        return out

    def retrieve(self, remote_path: str, fileobj) -> None:
        self._ftp.retrbinary(f"RETR {remote_path}", fileobj.write)

    def store(self, fileobj, remote_path: str) -> None:
        self._ftp.storbinary(f"STOR {remote_path}", fileobj)

    def rename(self, src: str, dst: str) -> None:
        self._ftp.rename(src, dst)

    def delete(self, path: str) -> None:
        self._ftp.delete(path)

    def makedirs(self, folder: str) -> None:
        if not folder or folder in self._made:
            return
        original = self._ftp.pwd()
        for seg in folder.split("/"):
            if not seg:
                continue
            try:
                self._ftp.cwd(seg)
            except ftplib.error_perm:
                # a concurrent partition may create the segment between
                # our CWD and MKD ('550 already exists'): ignore the MKD
                # reply and let the CWD decide — a real permission
                # failure still raises from it
                try:
                    self._ftp.mkd(seg)
                except ftplib.error_perm:
                    pass
                self._ftp.cwd(seg)
        self._ftp.cwd(original)
        self._made.add(folder)

    def close(self) -> None:
        """QUIT, or close the socket when the QUIT fails: the session's
        work is over, so a lost goodbye is no error, but the socket must
        not outlive it."""
        try:
            self._ftp.quit()
        except ftplib.all_errors:
            self._ftp.close()


_PERM_MARKERS = (
    "permission", "denied", "access", "privilege", "forbidden",
    # strerror-derived texts: proftpd maps EPERM to "Operation not
    # permitted"; other servers say "not authorized"
    "permitted", "authorized",
)


def is_missing_folder_error(exc: BaseException) -> bool:
    """True iff ``exc`` from a ``listdir`` call means the folder does not
    exist — the only error class the pruned-seed probes may soften into
    an empty manifest (a full walk would never visit a missing prefix
    and would report zero matches, download_file.py:262-266).

    Local clients are unambiguous (FileNotFoundError/NotADirectoryError).
    FTP conflates missing and permission-denied under one reply code:
    RFC 959 gives both "file unavailable (e.g., file not found, no
    access)" as 550.  Discriminate on the reply, conservatively:

    * non-550 5xx replies (530 not-logged-in, 501 syntax, 532, ...) are
      never missing-folder — they propagate;
    * a 550 whose text names a permission problem ("Permission denied",
      "Access is denied", ...) propagates — softening it would turn an
      auth/ACL misconfiguration into a silent "zero matches, exit 200";
    * any other 550 is treated as missing.  A server that replies with a
      bare "550 Failed" for permission-denied is indistinguishable from
      missing over the wire; such prunes soften where the equivalent
      full walk would raise mid-walk.  That residual ambiguity is
      inherent to FTP, not to the pruning."""
    if isinstance(exc, (FileNotFoundError, NotADirectoryError)):
        return True
    if not isinstance(exc, ftplib.error_perm):
        return False
    text = str(exc)
    if not text.startswith("550"):
        return False
    low = text.lower()
    return not any(m in low for m in _PERM_MARKERS)


def parent(path: str) -> str:
    """Folder of a '/'-path: '' for a root-level name."""
    return path.rsplit("/", 1)[0] if "/" in path else ""


def child_rows(client: RemoteClient, folder: str, skip_dot_dirs: bool) -> list[tuple]:
    """Manifest rows ``(path, folder, name, is_dir, size)`` for the direct
    children of ``folder``; all-dots names ('.', '..', '...') are dropped
    when ``skip_dot_dirs`` (F4, download_file.py:58-62)."""
    rows = []
    for path, is_dir, size in client.listdir(folder):
        name = path.rsplit("/", 1)[-1]
        if not (skip_dot_dirs and set(name) == {"."}):
            rows.append((path, folder, name, is_dir, size))
    return rows


def seed_rows(spec: ClientSpec, root: str, seed: str, skip_dot_dirs: bool) -> list[tuple]:
    """:func:`child_rows` of a walk's seed folder, listed with one client.

    A seed below ``root`` (a pruned walk, SURVEY §4.2) that does not
    exist is a tree with no matches — the full walk would never visit
    it and would report zero matches — so it yields no rows. Only
    missing-folder errors soften (:func:`is_missing_folder_error`);
    anything else, and any error at an unpruned root, raises."""
    client = spec.connect()
    try:
        return child_rows(client, seed, skip_dot_dirs)
    except Exception as e:
        if seed == root or not is_missing_folder_error(e):
            raise
        return []
    finally:
        client.close()


def chunks(items: list, k: int) -> list[list]:
    """``items`` cut into ``min(len(items), k)`` contiguous, order-keeping
    slices whose sizes differ by at most one (none when ``items`` is
    empty): one slice per client of a walk bounded at ``k`` sessions."""
    n = len(items)
    k = min(n, max(1, k))
    return [items[i * n // k : (i + 1) * n // k] for i in range(k)]


def on_driver_threads(spec: ClientSpec, parts: list[list], body) -> list[list]:
    """``list(body(client, part))`` for each of ``parts``, each on its own
    driver thread with its own client (``spec.connect()``), in part order.

    A part that raises stops the other parts before their next item, and
    the first failed part's error (in part order) is raised: one bad row
    or login ends the whole run, as a failed Spark job would."""
    stop = threading.Event()

    def run(part: list) -> list:
        try:
            client = spec.connect()
            try:
                return list(body(client, itertools.takewhile(lambda _: not stop.is_set(), part)))
            finally:
                client.close()
        except BaseException:
            stop.set()
            raise

    with ThreadPoolExecutor(max_workers=max(1, len(parts))) as pool:
        futures = [pool.submit(run, part) for part in parts]
        return [f.result() for f in futures]


def per_client(spec: ClientSpec, body):
    """``body(client, rows)`` as a partition function that opens its
    client on the partition's first row, so an empty partition opens no
    session, and yields whatever ``body`` yields: the one client rule of
    every executor-side step (the walk, the sinks, ``fetch``)."""

    def run(rows):
        rows = iter(rows)
        first = next(rows, None)
        if first is None:
            return
        client = spec.connect()
        try:
            yield from body(client, itertools.chain([first], rows))
        finally:
            client.close()

    return run


def check_depth(depth: int, folder: str, max_depth: int | None = None) -> None:
    """Fail a walk that must list ``folder``, ``depth`` levels below its
    seed, when levels 0..max_depth-1 are all it may list (``MAX_DEPTH``
    unless given): a silently truncated manifest would let a delete or
    move exit 0 having skipped files."""
    limit = MAX_DEPTH if max_depth is None else max_depth
    if depth >= limit:
        raise BlueprintError(
            f"tree walk reached folder {folder!r} at depth {depth}: deeper "
            f"than MAX_DEPTH={limit}"
        )


def walk(client: RemoteClient, folders, depth: int, skip_dot_dirs: bool,
         max_depth: int | None = None):
    """The manifest rows of the trees under ``folders``, each folder
    ``depth`` levels below its walk's seed, listed with one client,
    depth-first: a folder's children come out before the trees under
    them, and each of ``folders`` is walked in turn. Bounded by
    :func:`check_depth`."""
    for top in folders:
        stack = [(top, depth)]
        while stack:
            folder, level = stack.pop()
            check_depth(level, folder, max_depth)
            children = child_rows(client, folder, skip_dot_dirs)
            yield from children
            stack.extend((row[0], level + 1) for row in reversed(children) if row[3])


def walker(spec: ClientSpec, depth: int, skip_dot_dirs: bool):
    """Partition function of the executor walk: the :func:`walk` of a
    partition's folders (``depth`` levels below the seed) with one client.
    ``MAX_DEPTH`` is read here, on the driver, so the executors enforce
    the bound of the walk that handed them its frontier."""
    max_depth = MAX_DEPTH

    def body(client, folders):
        return walk(client, folders, depth, skip_dot_dirs, max_depth)

    return per_client(spec, body)


@dataclass
class ClientSpec:
    """Picklable connection description; one ``connect()`` per partition.

    ``kind='local'`` needs only ``root``; ``kind='ftp'`` uses
    host/port/credentials plus the unified timeout/passive policy."""

    kind: str = "local"
    root: str = "."
    host: str = ""
    port: int = 21
    username: str = ""
    password: str = field(default="", repr=False)
    timeout: int = 300
    passive: bool = True
    max_connections: int = 16

    def connect(self) -> RemoteClient:
        if self.kind == "local":
            return LocalFSClient(self.root)
        if self.kind == "ftp":
            return FTPClient(
                self.host, self.port, self.username, self.password,
                timeout=self.timeout, passive=self.passive,
            )
        raise ValueError(f"unknown client kind: {self.kind}")
