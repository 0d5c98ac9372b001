"""CLI blueprints — the reference's four entry points re-expressed over
the Spark engine (SURVEY.md §3: parse -> normalize -> connect -> scan ->
filter -> project -> act -> exit code).

Argument surface mirrors the reference argparse definitions
(download_file.py:12-47, upload_file.py:13-47, move_file.py:14-49,
delete_file.py:14-42): host/port/username/password, source folder+name,
``--source-file-name-match-type {exact_match,regex_match}``, destination
folder+name. Behavioral parity notes:

- regex scope: download/delete match the BASENAME (F1), upload/move
  match the FULL PATH (F2) — the reference's asymmetry, preserved here
  per-command;
- move suppresses `_N` numbering when exactly one file matches
  (move_file.py:171); download/upload always number;
- exact_match skips enumeration entirely (the reference's pushdown);
- exit codes: 0 ok, 3 credentials, 200 no matches, 201 bad path,
  202 move failure (errors.py).

``--kind local --root DIR`` runs every pipeline against a local tree
(integration-testable in this container); ``--kind ftp`` uses the
ftplib connector with the unified timeout/passive policy.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

from ..errors import BlueprintError, NoMatchesFound
from ..operators import actions
from ..operators.manifest import compile_pattern, require_matches, search_files, with_destination
from ..sources.connector import ClientSpec
from ..sources.listing import list_manifest

# The frame listing and the rlike match are not called here, but stay
# attributes of this module: perfbench's --trace patches them by name.
from ..operators.manifest import match_files  # noqa: E402,F401,I001
from ..sources.listing import list_tree  # noqa: E402,F401


def _parser(prog: str) -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog=prog)
    p.add_argument("--kind", choices=("local", "ftp"), default="local")
    p.add_argument("--root", default=".", help="tree root for --kind local")
    p.add_argument("--host", default="")
    p.add_argument("--port", default=21, type=int)
    p.add_argument("--username", default="")
    p.add_argument("--password", default="")
    p.add_argument("--timeout", default=300, type=int)
    p.add_argument("--max-connections", default=16, type=int)
    p.add_argument("--source-folder-name", dest="source_folder_name", default="")
    p.add_argument("--source-file-name", dest="source_file_name", required=True)
    p.add_argument(
        "--source-file-name-match-type",
        dest="match_type",
        choices=("exact_match", "regex_match"),
        default="exact_match",
    )
    p.add_argument("--destination-folder-name", dest="destination_folder_name", default="")
    p.add_argument("--destination-file-name", dest="destination_file_name", default=None)
    return p


def _spec(args: argparse.Namespace) -> ClientSpec:
    return ClientSpec(
        kind=args.kind,
        root=args.root,
        host=args.host,
        port=args.port,
        username=args.username,
        password=args.password,
        timeout=args.timeout,
        max_connections=args.max_connections,
    )


def _spark() -> SparkSession:
    from ..session import get_spark

    return get_spark("ftp-blueprints-cli")


def _pipeline(
    args,
    scope: str,
    skip_dot_dirs: bool,
    suppress_single: bool,
    listing_spec: ClientSpec | None = None,
):
    """Shared scan->filter->project phase; returns (spec, matched).

    The pattern is compiled first, so an invalid one exits 1 before any
    listing, and matches with ``re.search``, as the reference's does.
    Below ``DRIVER_ROWS_THRESHOLD`` ``matched`` is the held rows, guarded
    and named in Python, and the call never obtains a SparkSession; past
    it the listing asks :func:`_spark` for one, and ``matched`` is an
    executor-walked frame throughout.

    ``listing_spec`` overrides which tree is ENUMERATED (upload lists
    the local source tree while acting against the remote spec)."""
    regex = full = None
    if args.match_type == "regex_match":
        regex = compile_pattern(args.source_file_name)
    else:
        # rstrip, not strip: listdir builds child paths as
        # f"{folder.rstrip('/')}/{name}", so a leading slash in
        # --source-folder-name must survive into the comparison key or
        # an absolute folder never matches (false exit 200).
        full = (
            f"{args.source_folder_name.rstrip('/')}/{args.source_file_name}"
            if args.source_folder_name.strip("/")
            else args.source_file_name
        )
    spec = _spec(args)
    manifest = list_manifest(
        _spark, listing_spec or spec, args.source_folder_name, skip_dot_dirs=skip_dot_dirs
    )
    matched = require_matches(
        search_files(manifest, regex, full, scope=scope, skip_dot_dirs=skip_dot_dirs))
    matched = with_destination(
        matched,
        destination_folder_name=args.destination_folder_name,
        destination_file_name=args.destination_file_name,
        suppress_single=suppress_single,
    )
    return spec, matched


def _run(fn) -> int:
    try:
        fn()
        return 0
    except NoMatchesFound as e:
        print(f"no matches: {e}")
        return e.exit_code
    except BlueprintError as e:
        print(f"error: {e}")
        return e.exit_code
    except Exception as e:
        # errors raised inside executor tasks (e.g. a failed FTP login in
        # the spec.connect() of a sink or ingest fetch partition) cross
        # Py4J as untyped strings; map them back so bad credentials
        # still exit 3, not 1
        from ..errors import typed_from_message

        typed = typed_from_message(e)
        if typed is None:
            raise
        print(f"error: {typed}")
        return typed.exit_code


def download_main(argv: list[str] | None = None) -> int:
    p = _parser("ftp-download")
    p.add_argument("--destination-root", dest="destination_root", default=".")
    args = p.parse_args(argv)

    def go():
        spec, matched = _pipeline(args, scope="basename", skip_dot_dirs=True, suppress_single=False)
        stats = actions.download(matched, spec, args.destination_root)
        print(f"downloaded {stats['ok']} file(s), {stats['failed']} failed (skipped)")

    return _run(go)


def upload_main(argv: list[str] | None = None) -> int:
    args = _parser("ftp-upload").parse_args(argv)

    def go():
        # upload ENUMERATES the local source tree (the reference globs
        # the local filesystem, upload_file.py:136-144) and ACTS against
        # the remote spec — listing the remote would make uploading a
        # file that does not already exist on the server impossible.
        local = ClientSpec(kind="local", root=args.root)
        spec, matched = _pipeline(
            args, scope="fullpath", skip_dot_dirs=True, suppress_single=False,
            listing_spec=local,
        )
        stats = actions.upload(matched, spec, source_root=args.root)
        print(f"uploaded {stats['ok']} file(s), {stats['skipped']} skipped")

    return _run(go)


def move_main(argv: list[str] | None = None) -> int:
    args = _parser("ftp-move").parse_args(argv)

    def go():
        spec, matched = _pipeline(args, scope="fullpath", skip_dot_dirs=True, suppress_single=True)
        stats = actions.move(matched, spec)
        print(f"moved {stats['ok']} file(s)")

    return _run(go)


def delete_main(argv: list[str] | None = None) -> int:
    args = _parser("ftp-delete").parse_args(argv)

    def go():
        # delete does NOT skip dot-directories during traversal
        # (delete_file.py:45-73 has no is_dot_directory guard).
        spec, matched = _pipeline(args, scope="basename", skip_dot_dirs=False, suppress_single=False)
        stats = actions.delete(matched, spec)
        print(f"deleted {stats['ok']} file(s)")

    return _run(go)


def ingest_main(argv: list[str] | None = None) -> int:
    """Beyond the reference's byte-copy blueprints: land remote
    CSV/JSONL/parquet/ORC trees as a parquet dataset (sources/ingest.py
    pipeline); --format selects the parser."""
    p = _parser("ftp-ingest")
    p.add_argument("--schema", required=True, help="e.g. 'id int, name string'")
    p.add_argument("--dest", required=True, help="parquet output path")
    p.add_argument("--format", choices=["csv", "jsonl", "parquet", "orc"], default="csv")
    p.add_argument("--no-header", dest="header", action="store_false")
    p.add_argument("--sep", default=",")
    p.add_argument("--partition-by", dest="partition_by", default="",
                   help="comma-separated partition columns")
    args = p.parse_args(argv)

    def go():
        from ..sources import ingest as ing

        csv_opts = dict(header=args.header, sep=args.sep) if args.format == "csv" else {}
        n = getattr(ing, f"ingest_{args.format}")(
            _spark(), _spec(args), args.source_folder_name,
            schema=args.schema,
            dest=args.dest,
            pattern=args.source_file_name,
            partition_cols=[c for c in args.partition_by.split(",") if c] or None,
            **csv_opts,
        )
        print(f"ingested {n} row(s) -> {args.dest}")

    return _run(go)


if __name__ == "__main__":  # python -m ftp_blueprints_spark.cli.blueprints <cmd> ...
    cmd = sys.argv[1] if len(sys.argv) > 1 else ""
    mains = {
        "download": download_main,
        "upload": upload_main,
        "move": move_main,
        "delete": delete_main,
        "ingest": ingest_main,
    }
    if cmd not in mains:
        print(f"usage: blueprints {{download|upload|move|delete|ingest}} ...; got {cmd!r}")
        sys.exit(2)
    sys.exit(mains[cmd](sys.argv[2:]))
