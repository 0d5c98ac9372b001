"""Integration tests for the connector, listing source, action sinks,
and CLI blueprints — the reference's full list->filter->project->act
pipeline (SURVEY.md §2A S2-S11, D1-D3) against a local tree.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from ftp_blueprints_spark.errors import (
    InvalidFilePath,
    MoveError,
    NoMatchesFound,
)
from ftp_blueprints_spark.operators import actions
from ftp_blueprints_spark.operators.manifest import (
    match_files,
    require_matches,
    with_destination,
)
from ftp_blueprints_spark.sources.connector import ClientSpec, LocalFSClient
from ftp_blueprints_spark.sources.listing import binary_manifest, list_tree

TREE = {
    "reports/2024/jan.csv": b"jan-data",
    "reports/2024/feb.csv": b"feb-data",
    "reports/2024/notes.txt": b"notes",
    "reports/summary.csv": b"summary",
    "raw/a.bin": b"\x00\x01\x02",
    "top.csv": b"top",
}


@pytest.fixture()
def tree(tmp_path):
    for rel, data in TREE.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    # dot-directory with a file inside: download-style traversal skips
    # it, delete-style traversal descends into it
    d = tmp_path / "reports" / "..."
    d.mkdir()
    (d / "hidden.csv").write_bytes(b"hidden")
    return tmp_path


def _spec(root) -> ClientSpec:
    return ClientSpec(kind="local", root=str(root), max_connections=4)


# ---------------------------------------------------------------- listing


def test_list_tree_manifest(spark, tree):
    mf = list_tree(spark, _spec(tree), "")
    rows = {r["path"]: r for r in mf.collect()}
    assert rows["reports/2024/jan.csv"]["size"] == 8
    assert rows["reports/2024/jan.csv"]["is_dir"] is False
    assert rows["reports/2024/jan.csv"]["name"] == "jan.csv"
    assert rows["reports"]["is_dir"] is True
    assert "reports/..." not in rows  # dot-dirs skipped (F4)
    assert "reports/.../hidden.csv" not in rows


def test_list_tree_keeps_dot_dirs_for_delete(spark, tree):
    mf = list_tree(spark, _spec(tree), "", skip_dot_dirs=False)
    paths = {r["path"] for r in mf.collect()}
    assert "reports/..." in paths  # delete_file.py traversal has no F4 guard
    assert "reports/.../hidden.csv" in paths


def test_list_tree_subfolder_root(spark, tree):
    mf = list_tree(spark, _spec(tree), "reports/2024")
    paths = {r["path"] for r in mf.collect()}
    assert paths == {
        "reports/2024/jan.csv",
        "reports/2024/feb.csv",
        "reports/2024/notes.txt",
    }


def test_list_tree_delegates_past_threshold(spark, tree, monkeypatch):
    """Scale guard: past DRIVER_ROWS_THRESHOLD the rest of the walk runs
    on executors (driver memory stays O(threshold) for any tree size),
    the manifest is no longer driver-held, and its rows are identical."""
    from ftp_blueprints_spark.operators.manifest import driver_rows
    from ftp_blueprints_spark.sources import listing

    full = list_tree(spark, _spec(tree), "")
    monkeypatch.setattr(listing, "DRIVER_ROWS_THRESHOLD", 2)
    small = list_tree(spark, _spec(tree), "")
    assert driver_rows(small) is None
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(small) == as_set(full)


def test_list_tree_deeper_than_max_depth_raises(spark, tmp_path, monkeypatch):
    """A tree deeper than MAX_DEPTH fails the walk, naming the folder
    and the bound, instead of returning a truncated manifest."""
    from ftp_blueprints_spark.errors import BlueprintError
    from ftp_blueprints_spark.sources import connector

    (tmp_path / "a/b/c").mkdir(parents=True)
    (tmp_path / "a/b/c/f.txt").write_bytes(b"f")
    assert list_tree(spark, _spec(tmp_path), "").count() == 4
    monkeypatch.setattr(connector, "MAX_DEPTH", 2)
    with pytest.raises(BlueprintError, match=r"'a/b'.*MAX_DEPTH=2"):
        list_tree(spark, _spec(tmp_path), "")
    monkeypatch.setattr(connector, "MAX_DEPTH", 4)  # levels '', a, a/b, a/b/c
    assert list_tree(spark, _spec(tmp_path), "").count() == 4


def _bfs_reference(spec: ClientSpec, root: str) -> list[tuple]:
    """Sequential BFS with one client: the frontier-order rows every
    list_tree walk must reproduce (dot-dirs skipped, F4)."""
    client = spec.connect()
    rows, frontier = [], [root]
    while frontier:
        nxt = []
        for folder in frontier:
            for path, is_dir, size in client.listdir(folder):
                name = path.rsplit("/", 1)[-1]
                if set(name) == {"."}:
                    continue
                rows.append((path, folder, name, is_dir, size))
                if is_dir:
                    nxt.append(path)
        frontier = nxt
    client.close()
    return rows


def test_list_tree_depth_bound_holds_across_the_hand_off(spark, tmp_path, monkeypatch):
    """Past the threshold the executors go on with the walk at the
    frontier's depth: the bound still counts from the seed and names the
    same folder as the driver walk does."""
    from ftp_blueprints_spark.errors import BlueprintError
    from ftp_blueprints_spark.sources import connector, listing

    (tmp_path / "a/b/c").mkdir(parents=True)
    (tmp_path / "a/b/c/f.txt").write_bytes(b"f")
    monkeypatch.setattr(listing, "DRIVER_ROWS_THRESHOLD", 0)
    assert list_tree(spark, _spec(tmp_path), "").count() == 4
    monkeypatch.setattr(connector, "MAX_DEPTH", 2)
    with pytest.raises(BlueprintError, match=r"'a/b'.*MAX_DEPTH=2"):
        list_tree(spark, _spec(tmp_path), "")
    monkeypatch.setattr(connector, "MAX_DEPTH", 4)
    assert list_tree(spark, _spec(tmp_path), "").count() == 4


def test_executor_walked_manifest_is_one_snapshot(spark, tree, tmp_path, monkeypatch):
    """An executor-walked manifest is the tree as list_tree saw it: a
    file added afterwards is neither numbered nor downloaded, because
    the guard, the numbering and the sink read one materialized listing
    instead of walking the tree again."""
    from ftp_blueprints_spark.operators.manifest import driver_rows
    from ftp_blueprints_spark.sources import listing

    monkeypatch.setattr(listing, "DRIVER_ROWS_THRESHOLD", 0)
    mf = list_tree(spark, _spec(tree), "reports")
    assert driver_rows(mf) is None
    (tree / "reports" / "2024" / "late.csv").write_bytes(b"late")
    matched = require_matches(match_files(mf, pattern=r"\.csv$"))
    numbered = with_destination(matched, "dl", "all.csv")
    assert sorted((r["path"], r["file_number"]) for r in numbered.collect()) == [
        ("reports/2024/feb.csv", 1), ("reports/2024/jan.csv", 2), ("reports/summary.csv", 3),
    ]
    dest = tmp_path / "out"
    assert actions.download(numbered, _spec(tree), str(dest)) == {"ok": 3, "failed": 0}
    assert sorted(os.listdir(dest / "dl")) == ["all_1.csv", "all_2.csv", "all_3.csv"]
    assert (dest / "dl" / "all_2.csv").read_bytes() == b"jan-data"


def test_list_tree_runs_no_spark_job(spark, spark_jobs, tree):
    """Levels are listed on driver threads and the manifest is a JVM
    LocalRelation: building it starts no Spark job, and no later job
    re-reads it through a Python worker (no LogicalRDD)."""
    with spark_jobs() as ids:
        mf = list_tree(spark, _spec(tree), "")
        missing = list_tree(spark, _spec(tree), "", path_pattern=r"^no/such/.*")
        disjoint = list_tree(spark, _spec(tree), "reports", path_pattern=r"^raw/.*")
    assert ids == []
    assert missing.count() == 0 and disjoint.count() == 0
    for df in (mf, missing, disjoint):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan


def test_list_tree_rows_in_bfs_order(spark, tmp_path):
    """Several folders per level over 2 connections: the chunks are
    contiguous and joined in frontier order, so schema and rows, in
    order, equal a createDataFrame of the sequential BFS."""
    from ftp_blueprints_spark.sources.listing import MANIFEST_SCHEMA

    for rel in ("a/x/1.csv", "a/y/2.csv", "b/3.csv", "c/z/w/4.csv",
                "d/5.csv", "d/v/6.csv", "e/.../7.csv", "f.txt"):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(rel.encode())
    spec = ClientSpec(kind="local", root=str(tmp_path), max_connections=2)
    want = spark.createDataFrame(_bfs_reference(spec, ""), MANIFEST_SCHEMA)
    got = list_tree(spark, spec, "")
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_binary_manifest_matches_list_tree(spark, tree):
    """S5: the binaryFile source and the connector BFS agree on files."""
    bf = binary_manifest(spark, str(tree), glob="*.csv")
    got = {
        (r["path"].replace(str(tree) + "/", ""), r["size"]) for r in bf.collect()
    }
    # Hadoop's listing skips '.'/'_'-prefixed entries (hidden-file
    # convention), which subsumes the reference's dot-dir rule (F4).
    want = {(p, len(d)) for p, d in TREE.items() if p.endswith(".csv")}
    assert got == want


# ---------------------------------------------------------------- download


def test_download_pipeline(spark, tree, tmp_path):
    dest_root = tmp_path / "out"
    spec = _spec(tree)
    mf = list_tree(spark, spec, "reports")
    matched = match_files(mf, pattern="[.]csv$", scope="basename")
    matched = with_destination(require_matches(matched), "archive")
    stats = actions.download(matched, spec, str(dest_root))
    assert stats == {"ok": 3, "failed": 0}
    assert (dest_root / "archive/jan.csv").read_bytes() == b"jan-data"
    assert (dest_root / "archive/summary.csv").read_bytes() == b"summary"
    assert not list(dest_root.rglob("*.inprogress"))


def test_download_fanout_numbering(spark, tree, tmp_path):
    """One destination_file_name over many matches -> _N enumeration
    before the first dot (P4), 1-indexed by path order."""
    dest_root = tmp_path / "out"
    spec = _spec(tree)
    mf = list_tree(spark, spec, "reports/2024")
    matched = match_files(mf, pattern="[.]csv$", scope="basename")
    matched = with_destination(require_matches(matched), "", "all.csv")
    stats = actions.download(matched, spec, str(dest_root))
    assert stats["ok"] == 2
    # path order: feb.csv < jan.csv
    assert (dest_root / "all_1.csv").read_bytes() == b"feb-data"
    assert (dest_root / "all_2.csv").read_bytes() == b"jan-data"


def test_download_skips_failed_rows(spark, tree, tmp_path):
    """D1: a vanished source fails that row only; the rest download and
    no partial file is left behind."""
    spec = _spec(tree)
    mf = list_tree(spark, spec, "reports")
    matched = with_destination(match_files(mf, pattern="[.]csv$"), "")
    os.remove(tree / "reports/2024/jan.csv")  # break one row post-listing
    dest_root = tmp_path / "out"
    stats = actions.download(matched, spec, str(dest_root))
    assert stats == {"ok": 2, "failed": 1}
    assert not (dest_root / "jan.csv").exists()
    assert not list(dest_root.rglob("*.inprogress"))


# ---------------------------------------------------------------- upload


def test_upload_pipeline(spark, tree, tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    src_spec, dst_spec = _spec(tree), _spec(remote)
    mf = list_tree(spark, src_spec, "reports")
    matched = match_files(mf, pattern="2024/.*[.]csv$", scope="fullpath")
    matched = with_destination(require_matches(matched), "in/deep")
    stats = actions.upload(matched, dst_spec, source_root=str(tree))
    assert stats == {"ok": 2, "skipped": 0}
    assert (remote / "in/deep/jan.csv").read_bytes() == b"jan-data"  # S8 mkdir -p


def test_upload_skips_nonfile_sources(spark, tree, tmp_path):
    """upload_file.py:181-183: a non-file source prints and continues."""
    remote = tmp_path / "remote"
    remote.mkdir()
    spec = _spec(tree)
    mf = list_tree(spark, spec, "reports")
    matched = with_destination(match_files(mf, pattern="[.]csv$"), "")
    os.remove(tree / "reports/summary.csv")
    stats = actions.upload(matched, _spec(remote), source_root=str(tree))
    assert stats == {"ok": 2, "skipped": 1}


# ---------------------------------------------------------------- move


def test_move_pipeline(spark, tree):
    spec = _spec(tree)
    mf = list_tree(spark, spec, "reports")
    matched = match_files(mf, pattern="2024/.*[.]csv$", scope="fullpath")
    matched = with_destination(require_matches(matched), "archive/2024")
    stats = actions.move(matched, spec)
    assert stats == {"ok": 2}
    assert (tree / "archive/2024/jan.csv").read_bytes() == b"jan-data"
    assert not (tree / "reports/2024/jan.csv").exists()


def test_move_single_match_suppresses_numbering(spark, tree):
    """move_file.py:171: exactly one match -> no _N suffix."""
    spec = _spec(tree)
    mf = list_tree(spark, spec, "reports")
    matched = match_files(mf, pattern="summary[.]csv$", scope="fullpath")
    matched = with_destination(
        require_matches(matched), "archive", "renamed.csv", suppress_single=True
    )
    actions.move(matched, spec)
    assert (tree / "archive/renamed.csv").exists()
    assert not (tree / "archive/renamed_1.csv").exists()


def test_move_fail_fast(spark, tree):
    """D2: first rename failure aborts with exit-202 semantics."""
    spec = _spec(tree)
    mf = list_tree(spark, spec, "reports")
    matched = with_destination(match_files(mf, pattern="[.]csv$"), "archive")
    os.remove(tree / "reports/summary.csv")
    with pytest.raises(MoveError) as ei:
        actions.move(matched, spec)
    assert ei.value.exit_code == 202


# ---------------------------------------------------------------- delete


def test_delete_pipeline(spark, tree):
    spec = _spec(tree)
    mf = list_tree(spark, spec, "reports", skip_dot_dirs=False)
    matched = match_files(mf, pattern="[.]txt$", skip_dot_dirs=False)
    stats = actions.delete(require_matches(matched), spec)
    assert stats == {"ok": 1}
    assert not (tree / "reports/2024/notes.txt").exists()


def test_delete_missing_file_exit_201(spark, tree):
    spec = _spec(tree)
    mf = list_tree(spark, spec, "reports")
    matched = with_destination(match_files(mf, pattern="[.]csv$"), "")
    os.remove(tree / "reports/summary.csv")
    with pytest.raises(InvalidFilePath) as ei:
        actions.delete(matched, spec)
    assert ei.value.exit_code == 201


# ---------------------------------------------------------------- guards / CLI


def test_no_matches_exit_200(spark, tree):
    mf = list_tree(spark, _spec(tree), "reports")
    with pytest.raises(NoMatchesFound) as ei:
        require_matches(match_files(mf, pattern="nope[.]xyz$"))
    assert ei.value.exit_code == 200


def test_cli_download_and_exit_codes(spark, tree, tmp_path):
    from ftp_blueprints_spark.cli.blueprints import download_main

    dest = tmp_path / "cli-out"
    rc = download_main(
        [
            "--kind", "local", "--root", str(tree),
            "--source-folder-name", "reports",
            "--source-file-name", "[.]csv$",
            "--source-file-name-match-type", "regex_match",
            "--destination-folder-name", "got",
            "--destination-root", str(dest),
        ]
    )
    assert rc == 0
    assert (dest / "got/jan.csv").exists()
    rc = download_main(
        [
            "--kind", "local", "--root", str(tree),
            "--source-file-name", "absent[.]qqq$",
            "--source-file-name-match-type", "regex_match",
            "--destination-root", str(dest),
        ]
    )
    assert rc == 200


def test_cli_exact_match_move(spark, tree):
    from ftp_blueprints_spark.cli.blueprints import move_main

    rc = move_main(
        [
            "--kind", "local", "--root", str(tree),
            "--source-folder-name", "reports",
            "--source-file-name", "summary.csv",
            "--destination-folder-name", "moved",
        ]
    )
    assert rc == 0
    assert (tree / "moved/summary.csv").exists()


# ---------------------------------------------------------------- jobs per call


def _cli(name: str, root, *argv: str) -> int:
    from ftp_blueprints_spark.cli import blueprints

    main = getattr(blueprints, f"{name}_main")
    return main(["--kind", "local", "--root", str(root), "--max-connections", "2",
                 "--source-file-name-match-type", "regex_match", *argv])


def test_blueprint_call_runs_no_spark_job(spark, spark_jobs, tree, tmp_path):
    """A driver-held manifest is guarded, numbered and projected with no
    Spark job, and the sink acts on it from driver threads: the whole
    call runs no job."""
    calls = [
        ("download", "--source-folder-name", "reports", "--source-file-name", "[.]csv$",
         "--destination-file-name", "all.csv", "--destination-root", str(tmp_path / "out")),
        ("move", "--source-folder-name", "reports", "--source-file-name", "2024/.*[.]csv$",
         "--destination-folder-name", "archive"),
        ("delete", "--source-folder-name", "archive", "--source-file-name", "[.]csv$"),
    ]
    for name, *argv in calls:
        with spark_jobs() as ids:
            assert _cli(name, tree, *argv) == 0
        assert ids == [], (name, ids)
    assert sorted(os.listdir(tmp_path / "out")) == ["all_1.csv", "all_2.csv", "all_3.csv"]
    assert os.listdir(tree / "archive") == []


def test_held_cli_call_collects_once_and_names_in_python(spark, tree, tmp_path, monkeypatch):
    """A driver-held CLI call collects its matches once and acts on the
    rows from then on: a numbered download, a move and a delete each
    call ``driver_rows`` exactly once, and none builds the Catalyst
    P2–P6 expression (``paths.determine_destination_name``)."""
    from collections import Counter

    from ftp_blueprints_spark.cli import blueprints
    from ftp_blueprints_spark.functions import paths
    from ftp_blueprints_spark.operators import manifest

    counts = Counter()

    def counted(name, fn):
        def call(*args, **kwargs):
            counts[name] += 1
            return fn(*args, **kwargs)

        return call

    collect = counted("driver_rows", manifest.driver_rows)
    for module in (manifest, actions, blueprints):
        monkeypatch.setattr(module, "driver_rows", collect, raising=False)
    monkeypatch.setattr(paths, "determine_destination_name",
                        counted("determine_destination_name", paths.determine_destination_name))
    calls = [
        ("download", "--source-folder-name", "reports", "--source-file-name", "[.]csv$",
         "--destination-file-name", "all.csv", "--destination-root", str(tmp_path / "out")),
        ("move", "--source-folder-name", "reports", "--source-file-name", "2024/.*[.]csv$",
         "--destination-folder-name", "archive"),
        ("delete", "--source-folder-name", "archive", "--source-file-name", "[.]csv$"),
    ]
    for name, *argv in calls:
        counts.clear()
        assert _cli(name, tree, *argv) == 0
        assert counts == {"driver_rows": 1}, (name, counts)
    assert sorted(os.listdir(tmp_path / "out")) == ["all_1.csv", "all_2.csv", "all_3.csv"]


def test_cli_download_names_the_failed_file(spark, tree, tmp_path, monkeypatch, capsys):
    """D1: a file that vanishes between the listing and its transfer is
    skipped, the call exits 0 and reports it as failed, and stderr holds
    one whole line naming its path and the exception class."""
    from ftp_blueprints_spark.cli import blueprints

    listed = blueprints.list_tree

    def list_then_lose(*args, **kwargs):
        manifest = listed(*args, **kwargs)
        os.remove(tree / "reports/2024/jan.csv")
        return manifest

    monkeypatch.setattr(blueprints, "list_tree", list_then_lose)
    assert _cli("download", tree, "--source-folder-name", "reports",
                "--source-file-name", "[.]csv$", "--destination-root", str(tmp_path / "out")) == 0
    out, err = capsys.readouterr()
    assert "downloaded 2 file(s), 1 failed (skipped)" in out
    assert "[download] failed reports/2024/jan.csv: FileNotFoundError" in err.splitlines()
    assert sorted(os.listdir(tmp_path / "out")) == ["feb.csv", "summary.csv"]


def test_sink_progress_lines_are_whole(spark, tmp_path, monkeypatch):
    """Eight driver threads (more than the host's cores) finish their
    last row together (a barrier in the transfer) and report at once to
    a stream that blocks in every write, as a slow terminal or pipe
    does, under a short switch interval: every stderr line is one whole
    progress line, one per part, and the parts' counts add up."""
    import io
    import re
    import sys
    import threading
    import time

    class SlowStream(io.StringIO):
        def write(self, s):
            time.sleep(0.001)  # other threads run while a write blocks
            return super().write(s)

    (tmp_path / "srv").mkdir()
    for i in range(16):
        (tmp_path / "srv" / f"f{i:02}.csv").write_bytes(b"x")
    spec = ClientSpec(kind="local", root=str(tmp_path / "srv"), max_connections=8)
    matched = with_destination(match_files(list_tree(spark, spec, ""), pattern="[.]csv$"), "")
    together = threading.Barrier(8, timeout=10)
    real = LocalFSClient.retrieve

    def retrieve(self, path, fileobj):
        real(self, path, fileobj)
        together.wait()

    monkeypatch.setattr(LocalFSClient, "retrieve", retrieve)
    monkeypatch.setattr(sys, "stderr", SlowStream())
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        stats = actions.download(matched, spec, str(tmp_path / "out"))
    finally:
        sys.setswitchinterval(interval)
    assert stats == {"ok": 16, "failed": 0}
    lines = sys.stderr.getvalue().splitlines()
    assert len(lines) == 8, lines
    done = [re.fullmatch(r"\[download\] partition done: (\d+) ok", line) for line in lines]
    assert all(done), lines
    assert sum(int(m.group(1)) for m in done) == 16


def test_driver_sink_error_stops_other_chunks(spark, tree, monkeypatch):
    """Driver-thread sink: the first typed error in one chunk stops the
    other chunk before its next row, and is raised with its exit code.
    Chunk 1 is [jan, feb]; chunk 2 is [summary, top]. Jan is gone, and
    its delete fails once chunk 2 is inside its first delete, which
    finishes after the stop flag is set; chunk 2 must not go on to
    top.csv."""
    import threading
    import types

    from ftp_blueprints_spark.sources import connector

    started, stops = threading.Event(), []

    def event():
        stops.append(threading.Event())
        return stops[-1]

    monkeypatch.setattr(connector, "threading", types.SimpleNamespace(Event=event))
    real = LocalFSClient.delete

    def delete(self, path):
        if path == "reports/2024/jan.csv":
            assert started.wait(10)
        if path == "reports/summary.csv":
            started.set()
            assert stops[0].wait(10)  # chunk 1's error has stopped the run
        real(self, path)

    monkeypatch.setattr(LocalFSClient, "delete", delete)
    spec = ClientSpec(kind="local", root=str(tree), max_connections=2)
    paths = ["reports/2024/jan.csv", "reports/2024/feb.csv", "reports/summary.csv", "top.csv"]
    manifest = spark.createDataFrame(pa.table({"path": paths}))  # a LocalRelation
    os.remove(tree / "reports/2024/jan.csv")
    with pytest.raises(InvalidFilePath) as ei:
        actions.delete(manifest, spec)
    assert ei.value.exit_code == 201
    assert (tree / "reports/2024/feb.csv").exists()
    assert not (tree / "reports/summary.csv").exists()
    assert (tree / "top.csv").exists()


def _destinations(spark, root) -> list[tuple]:
    m = match_files(list_tree(spark, _spec(root), "reports"), pattern="[.]csv$")
    out = with_destination(m, "dl", "all.csv").select("path", "file_number", "dest_path")
    return sorted(tuple(r) for r in out.collect())


def test_numbering_agrees_in_datasource_regime(spark, tree, tmp_path, monkeypatch, capsys):
    """Past DRIVER_ROWS_THRESHOLD list_tree returns an executor-walked
    manifest: numbering takes the distributed range/offset path and the
    Catalyst P2–P6 expression, and must yield what the driver regime's
    Python numbering and naming yield, at the operators and at the CLI.
    The CLI calls are a numbered download, a keep-name download and a
    move of exactly one match (numbering suppressed), over multi-dot,
    extension-less, dot-led and non-ASCII names and a messy destination
    folder: exit codes, messages and every resulting file must agree."""
    from ftp_blueprints_spark.operators.manifest import driver_rows
    from ftp_blueprints_spark.sources import listing

    mf = list_tree(spark, _spec(tree), "reports")
    assert driver_rows(match_files(mf, pattern="[.]csv$")) is not None
    driver = _destinations(spark, tree)

    names = ["a.b.c.csv", "noext", ".bashrc", "ünï.txt"]
    folder = ("--destination-folder-name", "/out//x/./")

    def cli_calls(root) -> tuple:
        (root / "srv" / "in" / "sub").mkdir(parents=True)
        for name in names:
            (root / "srv" / "in" / "sub" / name).write_text(name)
        held = driver_rows(list_tree(spark, _spec(root / "srv"), "in")) is not None
        calls = [
            ("download", "--source-folder-name", "in", "--source-file-name", ".", *folder,
             "--destination-file-name", "a.b.c.csv", "--destination-root", str(root / "num")),
            ("download", "--source-folder-name", "in", "--source-file-name", ".", *folder,
             "--destination-root", str(root / "keep")),
            ("move", "--source-folder-name", "in", "--source-file-name", "^in/sub/ünï", *folder,
             "--destination-file-name", ".bashrc"),
        ]
        said = []
        for name, *argv in calls:
            rc = _cli(name, root / "srv", *argv)
            said.append((rc, capsys.readouterr().out.strip().splitlines()[-1]))
        files = {str(p.relative_to(root)): p.read_text() for p in root.rglob("*") if p.is_file()}
        return held, said, files

    at_driver = cli_calls(tmp_path / "driver")
    monkeypatch.setattr(listing, "DRIVER_ROWS_THRESHOLD", 0)
    assert driver_rows(list_tree(spark, _spec(tree), "reports")) is None
    assert _destinations(spark, tree) == driver == [
        ("reports/2024/feb.csv", 1, "dl/all_1.csv"),
        ("reports/2024/jan.csv", 2, "dl/all_2.csv"),
        ("reports/summary.csv", 3, "dl/all_3.csv"),
    ]
    at_executors = cli_calls(tmp_path / "executors")
    assert at_driver[0] and not at_executors[0]
    assert at_executors[1:] == at_driver[1:]
    said, files = at_driver[1:]
    assert said == [(0, "downloaded 4 file(s), 0 failed (skipped)")] * 2 + [(0, "moved 1 file(s)")]
    assert files == {
        # numbered in path (code point) order: '.' < 'a' < 'n' < 'ü'
        **{f"num/out/x/a_{i}.b.c.csv": name for i, name in enumerate(sorted(names), start=1)},
        **{f"keep/out/x/{name}": name for name in names},
        **{f"srv/in/sub/{name}": name for name in names[:3]},
        "srv/out/x/.bashrc": "ünï.txt",
    }


def test_file_numbering_non_ascii_agrees_across_regimes(spark, tmp_path, monkeypatch):
    """Driver numbering sorts Python str (code-point order), the
    distributed path sorts Spark strings (UTF-8 byte order): the two
    orders, and Python's sorted, must agree on non-ASCII names."""
    from ftp_blueprints_spark.operators.manifest import with_file_numbers
    from ftp_blueprints_spark.sources import listing

    names = ["Z.csv", "a.csv", "a b.csv", "ß.csv", "é.csv", "中.csv"]
    (tmp_path / "d").mkdir()
    for name in names:
        (tmp_path / "d" / name).write_bytes(b"x")

    def numbers() -> dict:
        m = match_files(list_tree(spark, _spec(tmp_path), ""), pattern="[.]csv$")
        return {r["path"]: r["file_number"] for r in with_file_numbers(m).collect()}

    driver = numbers()
    monkeypatch.setattr(listing, "DRIVER_ROWS_THRESHOLD", 0)
    assert numbers() == driver == {
        f"d/{name}": i for i, name in enumerate(sorted(names), start=1)
    }


def test_local_client_roundtrip(tmp_path):
    """Connector unit check without Spark: store/retrieve/rename/delete."""
    import io

    c = LocalFSClient(str(tmp_path))
    c.makedirs("a/b/c")
    c.store(io.BytesIO(b"payload"), "a/b/c/x.bin")
    buf = io.BytesIO()
    c.retrieve("a/b/c/x.bin", buf)
    assert buf.getvalue() == b"payload"
    c.rename("a/b/c/x.bin", "a/y.bin")
    assert [p for p, d, s in c.listdir("a") if not d] == ["a/y.bin"]
    c.delete("a/y.bin")
    assert [p for p, d, s in c.listdir("a") if not d] == []


def test_typed_from_message_anchored():
    """The executor-message scan maps only the raised-exception
    rendering 'ClassName: detail' — a class name embedded in a path or
    log fragment must NOT hijack the exit code."""
    from ftp_blueprints_spark.errors import (
        IncorrectCredentials,
        NoMatchesFound,
        typed_from_message,
    )

    # py4j-style module-qualified rendering -> typed error + detail
    t = typed_from_message(
        RuntimeError(
            "ftp_blueprints_spark.errors.IncorrectCredentials: 530 Login "
            "incorrect.\n  at task 3"
        )
    )
    assert isinstance(t, IncorrectCredentials) and "530" in str(t)
    # bare rendering still matches
    t = typed_from_message(RuntimeError("NoMatchesFound: no files matched"))
    assert isinstance(t, NoMatchesFound)
    # class name inside a path / quoted fragment: no colon at the token
    # boundary -> unrelated failure stays exit 1
    assert typed_from_message(RuntimeError("open /tmp/NoMatchesFound/x failed")) is None
    assert typed_from_message(RuntimeError("saw word MoveErrors: elsewhere")) is None


def test_typed_from_message_colonful_beats_colonless_across_classes():
    """Two-pass precedence: in a chained traceback where an EARLIER
    class renders bare (empty message) and a LATER class renders with
    ': detail', the detail-carrying colon match must win — the bare
    line is secondary evidence, not a first-match shortcut."""
    from ftp_blueprints_spark.errors import (
        MoveError,
        NoMatchesFound,
        typed_from_message,
    )

    t = typed_from_message(
        RuntimeError(
            "ftp_blueprints_spark.errors.NoMatchesFound\n"
            "MoveError: permission denied"
        )
    )
    assert isinstance(t, MoveError) and "permission denied" in str(t)
    # colon-less alone still maps (empty-message rendering)
    t = typed_from_message(RuntimeError("errors.NoMatchesFound"))
    assert isinstance(t, NoMatchesFound) and str(t) == ""
