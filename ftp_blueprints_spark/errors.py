"""Exit-code-compatible error surface (reference exit_codes.py:1-4 plus
call-site semantics, SURVEY.md §2A D3).

The reference communicates outcomes through process exit codes:

    3   bad credentials        (download_file.py:227 et al.)
    200 no regex matches       (download_file.py:266 et al.)
    201 invalid file path      (delete_file.py:85)
    202 move failure           (move_file.py:113)

In the Spark engine these become typed exceptions raised by operators
and sinks; the CLI boundary (`ftp_blueprints_spark.cli`) maps them back
to the same integer codes, so a caller of the reference scripts sees an
identical contract.
"""

from __future__ import annotations

import contextlib

EXIT_CODE_INCORRECT_CREDENTIALS = 3
EXIT_CODE_NO_MATCHES_FOUND = 200
EXIT_CODE_INVALID_FILE_PATH = 201
EXIT_CODE_FTP_MOVE_ERROR = 202


class BlueprintError(Exception):
    """Base class: every engine error carries the reference exit code."""

    exit_code = 1


class IncorrectCredentials(BlueprintError):
    """Connection/login failure (reference get_client variants)."""

    exit_code = EXIT_CODE_INCORRECT_CREDENTIALS


class NoMatchesFound(BlueprintError):
    """F7 empty-result guard (download_file.py:262-266)."""

    exit_code = EXIT_CODE_NO_MATCHES_FOUND


class InvalidFilePath(BlueprintError):
    """Bad source path / delete failure (delete_file.py:85)."""

    exit_code = EXIT_CODE_INVALID_FILE_PATH


class MoveError(BlueprintError):
    """Rename/move failure — fail-fast (move_file.py:113)."""

    exit_code = EXIT_CODE_FTP_MOVE_ERROR


class UploadError(BlueprintError):
    """Upload failure — fail-fast (upload_file.py:190 raises)."""

    exit_code = 1


def typed_from_message(err: Exception) -> BlueprintError | None:
    """Recover the typed error from an executor-surfaced exception.

    Errors raised inside executor tasks (sinks, listing partitions)
    cross the Py4J boundary as stringified Java exceptions; the class
    name survives in the message even though the Python type does not.
    Scanning for it restores the exit-code contract (a login failure
    inside a partition must still exit 3, not 1).

    The scan is ANCHORED to the raised-exception rendering
    ``ClassName: detail`` at a token boundary (optionally
    module-qualified, as Py4J prints it) — a bare substring match
    would let a class name inside a file path or quoted log fragment
    misroute an unrelated failure to that exit code.  An exception
    raised with an EMPTY message renders colon-less (tracebacks print
    just ``ClassName`` — optionally module-qualified — alone on its
    final line), so that rendering is matched too, but ONLY as a whole
    line of dotted identifiers: a mere line-final occurrence (e.g. a
    path ``/tmp/MoveError`` ending a log line) must not match, or the
    anchor's whole purpose is lost.  The colon-ful rendering is the
    primary signal and wins across ALL classes before any colon-less
    fallback is consulted (two passes): in a chained traceback whose
    FIRST exception rendered bare (empty message) and whose second
    rendered ``OtherError: detail``, the detail-carrying match is the
    one that should route the exit code."""
    import re

    classes = (
        IncorrectCredentials,
        NoMatchesFound,
        InvalidFilePath,
        MoveError,
        UploadError,
        BlueprintError,  # last: a subclass's name wins
    )
    msg = str(err)
    for cls in classes:
        m = re.search(
            rf"(?<![A-Za-z0-9_]){cls.__name__}\s*:", msg
        )
        if m:
            detail = msg[m.end():].lstrip().split("\n")[0]
            return cls(detail)
    for cls in classes:
        if re.search(
            rf"^(?:[A-Za-z_][A-Za-z0-9_.]*\.)?{cls.__name__}\s*$",
            msg,
            re.MULTILINE,
        ):
            return cls("")  # colon-less rendering: no message to recover
    return None


@contextlib.contextmanager
def typed_errors():
    """Raise an error of the enclosed block as its typed error when it is
    an executor-surfaced one (:func:`typed_from_message`); any other
    error propagates as raised."""
    try:
        yield
    except Exception as err:
        typed = typed_from_message(err)
        if typed is None:
            raise
        raise typed from err
