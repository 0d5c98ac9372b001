"""Listing sources: materialize a real file tree as the manifest
(SURVEY.md §2A S2-S5).

    path STRING, folder STRING, name STRING, is_dir BOOLEAN, size LONG

The reference walks the tree sequentially — BFS queue in
download_file.py:252-257 / delete_file.py:121-126, recursive DFS in
move_file.py:63-78 — paying >=1 network round-trip per directory entry
on one connection. Here :func:`list_manifest` lists the seed folder with
one client, then expands each deeper BFS *level* in parallel on driver
threads: the frontier of folders is cut into at most
``spec.max_connections`` contiguous chunks and each chunk is listed by
its own client. Wall-clock per level is max(chunk listing) instead of
sum, the session count stays bounded by the server's limit, and no
Spark job runs — listing is pure FTP round trips.

The per-folder step (one ``listdir`` -> manifest rows, the F4 all-dots
rule), the seed probe, the depth bound and the depth-first walk are
shared with the ``ftp_manifest`` reader and live in ``connector.py``
(``child_rows``, ``seed_rows``, ``check_depth``/``MAX_DEPTH``,
``walk``/``walker``), as does the chunk runner the levels share with the
driver-held sinks (``on_driver_threads``); this module owns the BFS, the
regex-prefix pruning (:func:`pattern_prefix`, :func:`seed_for`) and the
manifest's Spark form.

While the tree is small the rows accumulate on the driver, and
:func:`list_manifest` returns them as a Python ``list``: no SparkSession
is needed, so a call that acts on a small tree never starts a JVM. Past
``DRIVER_ROWS_THRESHOLD`` entries the walk goes on from where it is
instead, and only then obtains a session: the rows already listed stay
as they are, and only the unlisted frontier is walked, depth-first on
executors, in at most ``max_connections`` slices, so driver memory stays
O(threshold) no matter how many files the tree holds. The result, an
executor-walked manifest DataFrame, is materialized once
(``session.local_checkpoint``): the match, the guard, the numbering and
the sink all read that one listing of the tree. :func:`list_tree` is the
same listing always as a DataFrame (held rows as one Arrow-built JVM
``LocalRelation``), for the ``mf_*`` queries and other frame callers.

S5 (local recursive listing, upload_file.py:136-144) additionally maps
onto Spark's native file source: ``binary_manifest`` uses
``binaryFile`` + recursiveFileLookup/pathGlobFilter, which pushes the
glob into the distributed file-listing layer and prunes the content
column when only metadata is selected.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..errors import typed_errors
from ..functions import paths as P
from ..session import local_checkpoint
from .connector import (MANIFEST_SCHEMA, ClientSpec, check_depth, child_rows, chunks,
                        on_driver_threads, seed_rows, walker)

_ARROW_SCHEMA = pa.schema(
    [("path", pa.string()), ("folder", pa.string()), ("name", pa.string()),
     ("is_dir", pa.bool_()), ("size", pa.int64())]
)

# Above this many manifest entries, list_manifest stops accumulating rows on
# the driver and walks the rest of the tree on executors.
DRIVER_ROWS_THRESHOLD = 100_000

_REGEX_META = set(".^$*+?{}[]|()")


def pattern_prefix(pattern: str) -> str:
    """Static folder prefix of a ^-anchored path regex — SURVEY §4.2's
    below-source traversal pruning; the reference's exact-match branch
    (download_file.py:251,282-296) is the fully-literal degenerate form.

    Returns the longest literal prefix cut at its last '/', or '' when
    the pattern is unanchored (under ``re.search`` an unanchored pattern
    may match anywhere, so no subtree can be safely excluded) or has no
    static folder component.  Sound to seed a
    traversal at: the literal run continues past the returned prefix
    with '/' (or more characters after it), so every matching path
    starts with '<prefix>/' — entries outside that subtree, including
    the seed folder row itself and its ancestors, can never match a
    fullpath-scoped filter.  Basename-scoped patterns (F1) anchor to
    the NAME, not the path: never pass them here.

    Three soundness guards beyond the literal scan (the third is the
    path-shape check at the end — absolute, '..'/all-dots, or
    empty-segment prefixes have no full-walk spelling): a TOP-LEVEL
    unparenthesized '|' disables pruning entirely (alternation has
    lowest precedence, so '^a/.*|^b/.*' matches under b/ even though
    the literal scan would return 'a'; a '|' inside a group is fine —
    the literal prefix before the group still anchors every
    alternative), and a quantifier at the break position ('?', '*',
    '+', '{') drops the last literal character before the cut (in
    '^logs/?x' the '/' is optional, so root-level 'logsx' matches
    outside the logs/ subtree — the prefix must come from 'logs',
    which holds no '/', i.e. no pruning)."""
    if not pattern.startswith("^"):
        return ""
    if _has_toplevel_alternation(pattern):
        return ""
    lit: list[str] = []
    i = 1
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            nxt = pattern[i + 1] if i + 1 < len(pattern) else ""
            if nxt and not nxt.isalnum():
                lit.append(nxt)  # escaped metachar is a literal
                i += 2
                continue
            break  # \d, \w, \S, ... — a character class
        if c in _REGEX_META:
            if c in "?*+{" and lit:
                lit.pop()  # quantifier makes the last literal optional/repeated
            break
        lit.append(c)
        i += 1
    s = "".join(lit)
    prefix = s[: s.rfind("/")] if "/" in s else ""
    # Path-shape guard: the seed must be a path the FULL walk could
    # reach, or pruning breaks the pruned == full+filter equivalence.
    # Manifest paths are root-relative with no leading '/', so an
    # absolute prefix ('^/data/...') never matches a full-walk row;
    # '..' (any all-dots segment) would let LocalFSClient._abs escape
    # the client root, and all-dots segments are also exactly what
    # skip_dot_dirs prunes DURING traversal (F4) — a seed inside one
    # would resurrect a subtree the full walk never visits. Empty
    # segments ('//') have no full-walk spelling either.
    if prefix and any(
        not seg or set(seg) == {"."} for seg in prefix.split("/")
    ):
        return ""
    return prefix


def _has_toplevel_alternation(pattern: str) -> bool:
    """True when an unescaped '|' sits at paren depth 0 outside a
    character class — the one regex structure under which a literal
    prefix of the FIRST alternative says nothing about the others."""
    depth, in_class, i = 0, False, 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            in_class = c != "]"
        elif c == "[":
            in_class = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif c == "|" and depth == 0:
            return True
        i += 1
    return False


def seed_for(root: str, prefix: str) -> str | None:
    """Effective traversal seed for a walk rooted at ``root`` given a
    pattern's static folder prefix (both in manifest-path coordinates —
    the ``path`` column contains the root).  ``None`` means no path
    under ``root`` can match at all (divergent literals), so the walk
    can be skipped entirely."""
    if not prefix or prefix == root:
        return root
    if not root:
        return prefix
    if prefix.startswith(root + "/"):
        return prefix  # pattern pins a subtree strictly below root
    if root.startswith(prefix + "/"):
        return root  # literal runs out above root: no pruning possible
    return None


def _manifest(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Driver-held manifest rows as a ``LocalRelation`` (via one Arrow
    table): unlike ``createDataFrame(list)``, which plans a Python RDD,
    no later job has to pull the rows back through a Python worker."""
    columns = list(zip(*rows)) or [()] * len(_ARROW_SCHEMA)
    table = pa.Table.from_pydict(dict(zip(_ARROW_SCHEMA.names, columns)), schema=_ARROW_SCHEMA)
    return spark.createDataFrame(table, MANIFEST_SCHEMA)


def list_manifest(spark: Callable[[], SparkSession], spec: ClientSpec, root: str = "",
                  skip_dot_dirs: bool = True, path_pattern: str | None = None,
                  ) -> list[tuple] | DataFrame:
    """BFS the tree under ``root`` into manifest rows (S2+S3): a ``list``
    of ``(path, folder, name, is_dir, size)`` tuples, or past
    ``DRIVER_ROWS_THRESHOLD`` an executor-walked DataFrame.

    The seed folder is listed with one client (``connector.seed_rows``);
    each deeper level is listed on driver threads, at most
    ``spec.max_connections`` clients at once, one per contiguous chunk
    of the frontier; chunks are joined back in frontier order, so rows
    come out in a deterministic BFS order. No Spark job runs. A tree
    deeper than ``connector.MAX_DEPTH`` levels raises.

    Dot-directories are skipped during traversal when requested —
    download's behavior (download_file.py:150-152); delete does NOT
    skip them (delete_file.py:45-73), hence the flag.

    ``path_pattern`` (a FULLPATH-scoped match regex, F2 semantics)
    enables regex-prefix traversal pruning: the BFS is seeded at the
    pattern's static folder prefix (:func:`pattern_prefix`) instead of
    ``root``, so ``^logs/2026-08/.*\\.gz`` lists one month's subtree
    instead of walking the whole server.  The resulting manifest holds
    exactly the seed's subtree — everything a fullpath match of the
    pattern could select; a missing seed folder yields an empty
    manifest (the same zero-match outcome the full walk would reach,
    F7 exit-200).  Never pass a basename-scoped (F1) pattern.

    Driver memory is bounded: once the accumulated rows cross
    ``DRIVER_ROWS_THRESHOLD``, ``spark()`` is called for a session, the
    folders not yet listed are walked on executors, depth-first from the
    frontier's depth so the depth bound still counts from the seed, and
    the manifest is the executor-walked frame: the rows listed so far
    plus the walked rows, materialized once."""
    seed = seed_for(root, pattern_prefix(path_pattern)) if path_pattern else root
    if seed is None:  # literals diverge: nothing under root matches
        return []
    all_rows = seed_rows(spec, root, seed, skip_dot_dirs)
    frontier = [path for path, _, _, is_dir, _ in all_rows if is_dir]

    def list_chunk(client, folders):
        return (r for f in folders for r in child_rows(client, f, skip_dot_dirs))

    depth = 1
    while frontier:
        if len(all_rows) > DRIVER_ROWS_THRESHOLD:
            # go on from here: one Spark job walks the unlisted frontier,
            # one client per contiguous slice, and checkpoints it with the
            # rows held, so every later reader sees this one listing
            session = spark()
            slices = min(len(frontier), max(1, spec.max_connections))
            rdd = session.sparkContext.parallelize(frontier, slices)
            walked = rdd.mapPartitions(walker(spec, depth, skip_dot_dirs))
            manifest = _manifest(session, all_rows).union(
                session.createDataFrame(walked, MANIFEST_SCHEMA))
            with typed_errors():  # a depth bound or bad login raised on executors
                return local_checkpoint(manifest)
        check_depth(depth, frontier[0])
        parts = chunks(frontier, spec.max_connections)
        level = [r for rows in on_driver_threads(spec, parts, list_chunk) for r in rows]
        all_rows += level
        frontier = [path for path, _, _, is_dir, _ in level if is_dir]
        depth += 1
    return all_rows


def list_tree(spark: SparkSession, spec: ClientSpec, root: str = "", skip_dot_dirs: bool = True,
              path_pattern: str | None = None) -> DataFrame:
    """:func:`list_manifest` as a DataFrame with the five-column schema:
    held rows come back as one ``LocalRelation``, with no Spark job."""
    rows = list_manifest(lambda: spark, spec, root, skip_dot_dirs, path_pattern)
    return _manifest(spark, rows) if isinstance(rows, list) else rows


def binary_manifest(
    spark: SparkSession,
    directory: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """S5: local/DFS recursive listing through Spark's binaryFile source.

    The glob is pushed into file listing (pathGlobFilter) and `content`
    is pruned unless selected — metadata-only scans never read bytes.
    Paths are normalized to scheme-less '/'-paths to match the manifest
    produced by :func:`list_tree`."""
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true" if recursive else "false")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(directory)
    path = F.regexp_replace(F.col("path"), "^file:", "")
    return df.select(
        path.alias("path"),
        F.regexp_replace(path, "/[^/]*$", "").alias("folder"),
        P.basename(path).alias("name"),
        F.lit(False).alias("is_dir"),
        F.col("length").alias("size"),
    )
