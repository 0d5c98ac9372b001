"""Path/name expression library — the reference's entire scalar-function
surface (SURVEY.md §2A.3, P1–P6 + F4) re-expressed as Catalyst column
expressions. Pure JVM-side built-ins: no Python UDFs anywhere, so these
run inside whole-stage codegen at any scale. The same P2–P6 rule over
one row's plain strings is :func:`destination_path`, for manifests held
on the driver, where planning an expression costs more than evaluating
it row by row in Python.

Semantics parity targets (reference file:line, behavior only):
- P1 basename                ftp_blueprints/download_file.py:50-55
- P2 clean_folder_name       ftp_blueprints/download_file.py:100-107
- P3 combine_folder_and_file ftp_blueprints/download_file.py:110-118
- P4 enumerate_destination   ftp_blueprints/download_file.py:65-75
     (insert _N before the FIRST dot only — Spark's regexp_replace is
      replace-all, so this is built from instr/substring instead)
- P5 determine_destination_file_name  download_file.py:78-97
- P6 determine_destination_name       download_file.py:121-135
- F4 is_dot_directory        download_file.py:58-62

Size invariant: a builder references each input that carries a
``F.aggregate`` fold once. Column expressions are trees, so a
subexpression used twice is copied; nested builders that each copy
their input multiply the folds, and analysis and optimization time
grow with the tree. The one exception is P3's ``folder``, which the
``when`` test and the ``concat`` both need: with a cleaned folder (one
fold) the numbered destination expression holds three folds, a bound
``tests/test_paths.py`` checks.

Regex note: patterns use ``[.]`` instead of ``\\.`` so the exact same
pattern text is valid in both Java regex (Spark) and RE2 (DuckDB
oracles) with no string-escaping divergence.
"""

from __future__ import annotations

import posixpath

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def basename(path: Column | str) -> Column:
    """P1: final path component (os.path.basename semantics for
    '/'-separated names; trailing slash yields '')."""
    return F.substring_index(_c(path), "/", -1)


def strip_slashes(path: Column | str) -> Column:
    """Remove leading and trailing '/' (str.strip('/'))."""
    return F.regexp_replace(_c(path), "^/+|/+$", "")


def normalize_path(path: Column | str, resolve_parent: bool = True) -> Column:
    """os.path.normpath-equivalent for '/'-paths: collapse '//'+, drop
    '.' segments, resolve 'seg/..' pairs at ANY nesting depth, strip a
    trailing '/'. Implemented as a segment stack — split on '/', fold
    with ``F.aggregate`` (pop on '..' unless the stack top is '..' or
    the root marker), re-join — so resolution is unbounded, unlike a
    fixed number of regexp passes. All higher-order-function
    expressions stay JVM-side. ``resolve_parent=False`` skips the '..'
    fold (the oracle-checkable subset, mirrored in
    plans/manifest_queries._sql_norm).

    A rooted path keeps its leading '' segment as the root marker, so
    ``array_join`` re-emits the leading '/' exactly when other segments
    remain: a fully-resolved path yields '' (callers map '' -> '.'),
    and '..' never pops past the root ('/a/../..' -> '/..')."""
    segs = F.filter(
        F.split(_c(path), "/"),
        lambda s, i: ((s != "") & (s != ".")) | ((i == 0) & (s == "")),
    )
    if resolve_parent:
        segs = F.aggregate(
            segs,
            F.expr("CAST(array() AS ARRAY<STRING>)"),
            lambda acc, s: F.when(
                (s == "..")
                & (F.size(acc) > 0)
                & ~F.element_at(acc, -1).isin("..", ""),
                F.slice(acc, F.lit(1), F.size(acc) - 1),
            ).otherwise(F.concat(acc, F.array(s))),
        )
    return F.array_join(segs, "/")


def clean_folder_name(folder: Column | str) -> Column:
    """P2: strip '/' then normpath; '' stays ''; a fully-resolved
    non-empty path becomes '.' (normpath('a/..') == '.')."""
    stripped = strip_slashes(folder)
    normed = normalize_path(stripped)
    return F.when(stripped == "", F.lit("")).otherwise(
        F.regexp_replace(normed, "^$", ".")
    )


def combine_folder_and_file_name(
    folder: Column | str, file_name: Column | str
) -> Column:
    """P3: normpath(f'{folder}/{file}'), slash omitted when folder ''."""
    folder_c, file_c = _c(folder), _c(file_name)
    joined = F.when(folder_c == "", file_c).otherwise(
        F.concat(folder_c, F.lit("/"), file_c)
    )
    return normalize_path(joined)


def enumerate_destination_file_name(
    name: Column | str, file_number: Column | int
) -> Column:
    """P4: insert '_{n}' before the FIRST dot; no dot -> append '_{n}'."""
    name_c = _c(name)
    n_c = file_number if isinstance(file_number, Column) else F.lit(file_number)
    dot = F.instr(name_c, ".")
    return F.when(
        dot > 0,
        F.concat(
            F.substring(name_c, F.lit(1), dot - 1),
            F.lit("_"),
            n_c.cast("string"),
            F.substr(name_c, dot),
        ),
    ).otherwise(F.concat(name_c, F.lit("_"), n_c.cast("string")))


def determine_destination_file_name(
    source_full_path: Column | str,
    destination_file_name: Column | str | None,
    file_number: Column | None = None,
) -> Column:
    """P5: explicit name (enumerated when a file_number is present),
    else the basename of the source. NULL/'' both mean 'not provided'
    (the reference treats '' as falsy)."""
    src = _c(source_full_path)
    if destination_file_name is None:
        return basename(src)
    dest = _c(destination_file_name)
    provided = dest.isNotNull() & (dest != "")
    if file_number is not None:
        numbered = F.when(
            file_number.isNotNull(),
            enumerate_destination_file_name(dest, file_number),
        ).otherwise(dest)
    else:
        numbered = dest
    return F.when(provided, numbered).otherwise(basename(src))


def determine_destination_name(
    destination_folder_name: Column | str,
    destination_file_name: Column | str | None,
    source_full_path: Column | str,
    file_number: Column | None = None,
) -> Column:
    """P6: P5 then P3 -> final per-row output path."""
    file_part = determine_destination_file_name(
        source_full_path, destination_file_name, file_number
    )
    return combine_folder_and_file_name(_c(destination_folder_name), file_part)


def is_dot_directory(name: Column | str) -> Column:
    """F4: true iff every character is '.' ('' vacuously true, matching
    Python's all() over an empty string)."""
    return _c(name).rlike("^[.]*$")


def _normpath(path: str) -> str:
    """:func:`normalize_path` on a str: ``posixpath.normpath`` with
    normalize_path's conventions: a fully-resolved path is '' (not '.'),
    and a rooted path keeps one leading '/' and every '..' that would
    climb past it ('//a' -> '/a', '/a/../..' -> '/..')."""
    rest = posixpath.normpath(path.lstrip("/"))
    rest = "" if rest == "." else rest
    return "/" + rest if path.startswith("/") and rest else rest


def destination_path(
    destination_folder_name: str,
    destination_file_name: str | None,
    source_full_path: str,
    file_number: int | None = None,
) -> str:
    """P2–P6 on one row: the str that ``determine_destination_name(
    clean_folder_name(folder), file_name, source_full_path, file_number)``
    yields for these values."""
    folder = destination_folder_name.strip("/")
    if folder:
        folder = posixpath.normpath(folder)  # P2: a fully-resolved folder is '.'
    if not destination_file_name:  # P5: None and '' both mean 'not provided'
        name = posixpath.basename(source_full_path)
    elif file_number is None:
        name = destination_file_name
    else:  # P4: '_{n}' before the first dot, or appended
        head, dot, tail = destination_file_name.partition(".")
        name = f"{head}_{file_number}{dot}{tail}"
    return _normpath(f"{folder}/{name}" if folder else name)  # P3
