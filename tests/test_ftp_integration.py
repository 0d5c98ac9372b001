"""End-to-end tests of the ``kind='ftp'`` path against a real (local,
in-process) FTP server speaking RFC 959 over sockets: S1 session open
(incl. bad-credential exit-3 semantics), S2 listing + cwd-probe
classification, S3 parallel BFS, S6-S10 action sinks, the ingest
fetch, and the ftp_manifest DataSource — the same code paths a
production FTP server would exercise, minus the network.
"""

from __future__ import annotations

import dataclasses
import io
import os
import pathlib
import socket
import time

import pytest

from ftp_blueprints_spark.errors import (
    IncorrectCredentials,
    InvalidFilePath,
    MoveError,
    UploadError,
)
from ftp_blueprints_spark.operators import actions
from ftp_blueprints_spark.sources.connector import ClientSpec
from ftp_blueprints_spark.sources.listing import list_manifest, list_tree

from .ftp_stub_server import FtpStubServer

USERS = {"alice": "secret"}

TREE = {
    "data/a.csv": b"alpha,1\n",
    "data/b.csv": b"beta,2\n",
    "data/sub/c.txt": b"gamma",
    "data/.../hidden.csv": b"dot-dir",
    "top.bin": b"\x00\x01",
}


@pytest.fixture()
def ftp_root(tmp_path):
    for rel, payload in TREE.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(payload)
    return str(tmp_path)


def spec_for(host: str, port: int, **kw) -> ClientSpec:
    return ClientSpec(
        kind="ftp", host=host, port=port, username="alice", password="secret",
        timeout=10, max_connections=4, **kw,
    )


# --- S1: session open -------------------------------------------------------

def test_bad_credentials_raise_exit3_error(ftp_root):
    with FtpStubServer(ftp_root, USERS) as (host, port):
        bad = ClientSpec(kind="ftp", host=host, port=port,
                         username="alice", password="wrong", timeout=10)
        with pytest.raises(IncorrectCredentials) as ei:
            bad.connect()
        assert ei.value.exit_code == 3


def test_failed_login_closes_the_control_socket(ftp_root, monkeypatch):
    """A rejected login raises IncorrectCredentials with its control
    socket closed, not left for the garbage collector."""
    import ftplib

    closed = []
    real_close = ftplib.FTP.close

    def spy(self):
        real_close(self)
        closed.append(self.sock is None)

    monkeypatch.setattr(ftplib.FTP, "close", spy)
    with FtpStubServer(ftp_root, USERS) as (host, port):
        bad = ClientSpec(kind="ftp", host=host, port=port,
                         username="alice", password="wrong", timeout=10)
        with pytest.raises(IncorrectCredentials):
            bad.connect()
    assert closed == [True]


def test_close_closes_the_socket_when_quit_fails(ftp_root):
    """A QUIT that gets no reply (the connection is gone) still closes
    the socket, and close() does not raise: the session's work is over."""
    with FtpStubServer(ftp_root, USERS) as (host, port):
        client = spec_for(host, port).connect()

        def lost():
            raise ConnectionResetError("connection reset by peer")

        client._ftp.quit = lost
        client.close()
        assert client._ftp.sock is None


# --- S2: listing + classification ------------------------------------------

def test_listdir_classifies_and_prefixes_bare_names(ftp_root):
    with FtpStubServer(ftp_root, USERS) as (host, port):
        client = spec_for(host, port).connect()
        try:
            got = client.listdir("data")
        finally:
            client.close()
    by_path = {p: (d, s) for p, d, s in got}
    # NLST returned bare names; the client prefixed the folder
    assert by_path["data/a.csv"] == (False, len(TREE["data/a.csv"]))
    assert by_path["data/sub"] == (True, None)  # cwd-probe says directory
    assert by_path["data/..."][0] is True


# --- data-channel commands: the 150 reply is ACKed at once -----------------

def _transfers(client) -> tuple[list[bytes], list[list]]:
    """10 RETRs, 10 STORs and 10 listdirs through one client: the bytes
    each RETR read and the rows each listdir returned."""
    read, listed = [], []
    for i in range(10):
        buf = io.BytesIO()
        client.retrieve("data/a.csv", buf)
        read.append(buf.getvalue())
        client.store(io.BytesIO(b"row %d\n" % i), f"data/up{i}.csv")
        listed.append(client.listdir("data/sub"))
    return read, listed


@pytest.mark.skipif(not hasattr(socket, "TCP_QUICKACK"), reason="no TCP_QUICKACK on this platform")
def test_data_channel_commands_do_not_wait_out_the_delayed_ack(ftp_root):
    """The stub writes a transfer's 150 and 226 as two small writes with
    Nagle on, as most servers do, so the 226 waits until the client ACKs
    the 150. FTPClient ACKs it at once: 30 data-channel commands take far
    less than the ~1.3 s of 30 delayed-ACK intervals (~40 ms each)."""
    with FtpStubServer(ftp_root, USERS) as (host, port):
        client = spec_for(host, port).connect()
        try:
            t0 = time.perf_counter()
            _transfers(client)
            elapsed = time.perf_counter() - t0
        finally:
            client.close()
    assert elapsed < 0.4


def test_transfers_without_tcp_quickack(ftp_root, monkeypatch):
    """Where the platform has no TCP_QUICKACK the client is plain ftplib:
    RETR, STOR and listdir return the same bytes and rows."""
    with FtpStubServer(ftp_root, USERS) as (host, port):
        client = spec_for(host, port).connect()
        try:
            quick = _transfers(client)
        finally:
            client.close()
        monkeypatch.delattr(socket, "TCP_QUICKACK", raising=False)
        client = spec_for(host, port).connect()
        try:
            plain = _transfers(client)
        finally:
            client.close()
    sub = [("data/sub/c.txt", False, len(TREE["data/sub/c.txt"]))]
    assert plain == quick == ([TREE["data/a.csv"]] * 10, [sub] * 10)
    for i in range(10):
        with open(os.path.join(ftp_root, f"data/up{i}.csv"), "rb") as f:
            assert f.read() == b"row %d\n" % i


# --- S2+S3: parallel BFS into the manifest ---------------------------------

def test_list_tree_over_ftp(spark, ftp_root):
    with FtpStubServer(ftp_root, USERS) as (host, port):
        mf = list_tree(spark, spec_for(host, port), "data")
        rows = {r["path"]: r for r in mf.collect()}
    assert set(rows) == {"data/a.csv", "data/b.csv", "data/sub", "data/sub/c.txt"}
    assert rows["data/sub"]["is_dir"] is True
    assert rows["data/sub/c.txt"]["size"] == len(TREE["data/sub/c.txt"])
    # dot-dir pruned during traversal (F4), so its children never appear
    assert not any("hidden" in p for p in rows)


def test_list_tree_over_ftp_runs_no_spark_job(spark, spark_jobs, ftp_root):
    """The FTP walk runs on driver threads (one session per frontier
    chunk, as many NLSTs as folders) and yields a LocalRelation in BFS
    order: no Spark job, no LogicalRDD."""
    from ftp_blueprints_spark.sources.listing import MANIFEST_SCHEMA

    from .test_actions import _bfs_reference

    srv = FtpStubServer(ftp_root, USERS)
    with srv as (host, port):
        spec = spec_for(host, port)
        with spark_jobs() as ids:
            mf = list_tree(spark, spec, "")
        # root, data, data/sub; the dot-dir is pruned (F4)
        assert (srv.nlst_count, srv.sessions) == (3, 3)
        want = spark.createDataFrame(_bfs_reference(spec, ""), MANIFEST_SCHEMA)
    assert ids == []
    plan = mf._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert mf.schema == want.schema
    assert mf.collect() == want.collect()


# --- ingest fetch over FTP --------------------------------------------------

def test_fetch_reads_content_over_ftp(spark, ftp_root):
    """actions.fetch RETRs each given file over FTP; joined back onto
    the manifest, files carry their bytes and folders none."""
    with FtpStubServer(ftp_root, USERS) as (host, port):
        spec = spec_for(host, port)
        mf = list_tree(spark, spec, "data")
        df = mf.join(actions.fetch(mf.filter("not is_dir"), spec), "path", "left")
        rows = {r["path"]: r for r in df.collect()}
    assert bytes(rows["data/a.csv"]["content"]) == TREE["data/a.csv"]
    assert bytes(rows["data/sub/c.txt"]["content"]) == TREE["data/sub/c.txt"]
    assert rows["data/sub"]["content"] is None


# --- S6/D1: download sink (per-row skip) -----------------------------------

def test_download_sink_skips_bad_rows(spark, ftp_root, tmp_path):
    dest = tmp_path / "out"
    manifest = spark.createDataFrame(
        [("data/a.csv", "a.csv"), ("data/missing.csv", "missing.csv"),
         ("data/sub/c.txt", "nested/c.txt")],
        "path string, dest_path string",
    )
    with FtpStubServer(ftp_root, USERS) as (host, port):
        result = actions.download(manifest, spec_for(host, port), str(dest))
    assert result == {"ok": 2, "failed": 1}
    assert (dest / "a.csv").read_bytes() == TREE["data/a.csv"]
    assert (dest / "nested/c.txt").read_bytes() == TREE["data/sub/c.txt"]
    assert not (dest / "missing.csv").exists()
    assert not list(dest.glob("*.inprogress"))  # no partial outputs


# --- S7+S8/D2: upload sink (fail-fast, mkdir -p) ----------------------------

def test_upload_sink_creates_remote_dirs(spark, ftp_root, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "x.csv").write_bytes(b"xx")
    manifest = spark.createDataFrame(
        [(str(src / "x.csv"), "incoming/deep/x.csv"),
         (str(src), "ignored-dir")],  # non-file source: silent skip
        "path string, dest_path string",
    )
    with FtpStubServer(ftp_root, USERS) as (host, port):
        result = actions.upload(manifest, spec_for(host, port))
    assert result == {"ok": 1, "skipped": 1}
    assert (
        os.path.join(ftp_root, "incoming/deep/x.csv")
        and open(os.path.join(ftp_root, "incoming/deep/x.csv"), "rb").read() == b"xx"
    )


def test_upload_fail_fast_on_readonly_server(spark, ftp_root, tmp_path):
    f = tmp_path / "y.csv"
    f.write_bytes(b"yy")
    manifest = spark.createDataFrame(
        [(str(f), "y.csv")], "path string, dest_path string"
    )
    with FtpStubServer(ftp_root, USERS, readonly=True) as (host, port):
        with pytest.raises(UploadError):
            actions.upload(manifest, spec_for(host, port))


# --- S9/D2: move (server-side rename) --------------------------------------

def test_move_renames_server_side(spark, ftp_root):
    manifest = spark.createDataFrame(
        [("data/a.csv", "archive/a.csv")], "path string, dest_path string"
    )
    with FtpStubServer(ftp_root, USERS) as (host, port):
        result = actions.move(manifest, spec_for(host, port))
    assert result == {"ok": 1}
    assert not os.path.exists(os.path.join(ftp_root, "data/a.csv"))
    assert open(os.path.join(ftp_root, "archive/a.csv"), "rb").read() == TREE["data/a.csv"]


def test_move_fail_fast_exit202(spark, ftp_root):
    manifest = spark.createDataFrame(
        [("data/nope.csv", "archive/nope.csv")], "path string, dest_path string"
    )
    with FtpStubServer(ftp_root, USERS) as (host, port):
        with pytest.raises(MoveError) as ei:
            actions.move(manifest, spec_for(host, port))
    assert ei.value.exit_code == 202


# --- S10/D2: delete ---------------------------------------------------------

def test_delete_removes_files_fail_fast_exit201(spark, ftp_root):
    ok = spark.createDataFrame([("data/b.csv",)], "path string")
    with FtpStubServer(ftp_root, USERS) as (host, port):
        assert actions.delete(ok, spec_for(host, port)) == {"ok": 1}
        assert not os.path.exists(os.path.join(ftp_root, "data/b.csv"))
        bad = spark.createDataFrame([("data/b.csv",)], "path string")
        with pytest.raises(InvalidFilePath) as ei:
            actions.delete(bad, spec_for(host, port))
        assert ei.value.exit_code == 201


# --- S8: concurrent mkdir -p -------------------------------------------------

def test_makedirs_tolerates_concurrent_mkd(ftp_root):
    """Two sink partitions can both find a folder missing and both MKD
    it; the loser's '550 already exists' must not fail its transfer.
    The CWD probe is made to fail once on an existing folder (the race's
    interleaving, made deterministic): makedirs returns and restores the
    original cwd."""
    import ftplib

    with FtpStubServer(ftp_root, USERS) as (host, port):
        client = spec_for(host, port).connect()
        try:
            ftp = client._ftp
            real_cwd, raced = ftp.cwd, []

            def cwd(path):
                if path == "data" and not raced:
                    raced.append(path)
                    raise ftplib.error_perm("550 not a directory")
                return real_cwd(path)

            ftp.cwd = cwd
            original = ftp.pwd()
            client.makedirs("data/sub/new")
            assert raced == ["data"]
            assert ftp.pwd() == original
        finally:
            client.close()
    assert os.path.isdir(os.path.join(ftp_root, "data/sub/new"))


def test_makedirs_permission_failure_still_raises(ftp_root):
    """Ignoring MKD's reply leaves the decision to the following CWD:
    a folder that cannot be created still raises."""
    import ftplib

    with FtpStubServer(ftp_root, USERS, readonly=True) as (host, port):
        client = spec_for(host, port).connect()
        try:
            with pytest.raises(ftplib.error_perm):
                client.makedirs("data/forbidden")
        finally:
            client.close()
    assert not os.path.exists(os.path.join(ftp_root, "data/forbidden"))


def test_makedirs_memoizes_per_session(ftp_root):
    """The mkdir -p memo lives in the client: repeating a folder, or
    passing '' (a root-level destination), sends no further commands."""
    with FtpStubServer(ftp_root, USERS) as (host, port):
        client = spec_for(host, port).connect()
        try:
            ftp, sent = client._ftp, []
            for cmd in ("pwd", "cwd", "mkd"):
                real = getattr(ftp, cmd)

                def wrapped(*a, _cmd=cmd, _real=real):
                    sent.append((_cmd, *a))
                    return _real(*a)

                setattr(ftp, cmd, wrapped)
            client.makedirs("a/b")
            once = list(sent)
            client.makedirs("a/b")
            client.makedirs("a/b")
            client.makedirs("")
        finally:
            client.close()
    assert once == [
        ("pwd",), ("cwd", "a"), ("mkd", "a"), ("cwd", "a"),
        ("cwd", "b"), ("mkd", "b"), ("cwd", "b"), ("cwd", "/"),
    ]
    assert sent == once
    assert os.path.isdir(os.path.join(ftp_root, "a/b"))


def test_cli_upload_into_new_folder_one_session(spark, tmp_path):
    """Three files into one new remote folder over a single session:
    the folder is made once and every file lands in it."""
    from ftp_blueprints_spark.cli.blueprints import upload_main

    local = tmp_path / "src"
    local.mkdir()
    for name in ("a.csv", "b.csv", "c.csv"):
        (local / name).write_text(name)
    srv = tmp_path / "srv"
    srv.mkdir()
    with FtpStubServer(str(srv), USERS) as (host, port):
        rc = upload_main([
            "--kind", "ftp", "--host", host, "--port", str(port),
            "--username", "alice", "--password", "secret", "--timeout", "10",
            "--max-connections", "1", "--root", str(local),
            "--source-file-name", r".*\.csv",
            "--source-file-name-match-type", "regex_match",
            "--destination-folder-name", "new/dir",
        ])
    assert rc == 0
    tree = sorted(str(p.relative_to(srv)) for p in srv.rglob("*"))
    assert tree == ["new", "new/dir", "new/dir/a.csv", "new/dir/b.csv", "new/dir/c.csv"]
    assert (srv / "new/dir/b.csv").read_text() == "b.csv"


# --- sink fan-out over the session budget -----------------------------------

def test_sink_uses_every_allowed_session(spark, ftp_root, tmp_path):
    """A 1-partition manifest (what AQE leaves of a small numbered one)
    is spread over max_connections sessions; an empty part opens no
    session, so a 1-row manifest still opens exactly one. The same
    counts hold on executors and, for a driver-held manifest, on driver
    threads."""
    def manifest(rows, held):
        if held:
            return [{"path": path, "dest_path": dest} for path, dest in rows]
        return spark.createDataFrame(rows, "path string, dest_path string").coalesce(1)

    rows = [("data/a.csv", "a.csv"), ("data/b.csv", "b.csv"),
            ("data/sub/c.txt", "c.txt")]
    for held in (False, True):
        out = tmp_path / str(held)
        srv = FtpStubServer(ftp_root, USERS)
        with srv as (host, port):
            spec = dataclasses.replace(spec_for(host, port), max_connections=2)
            three = manifest(rows, held)
            assert actions.download(three, spec, str(out / "n3")) == {"ok": 3, "failed": 0}
            assert srv.sessions == 2, held
            assert actions.download(manifest(rows[:1], held), spec, str(out / "n1")) == {
                "ok": 1, "failed": 0,
            }
            assert srv.sessions == 3, held
        assert sorted(p.name for p in (out / "n3").iterdir()) == ["a.csv", "b.csv", "c.txt"]


def test_manifest_read_uses_at_most_max_connections_sessions(spark, tmp_path):
    """The ftp_manifest reader cuts the seed entries into at most
    max_connections contiguous partitions, one session each: 3 top-level
    entries under a bound of 2 read as 2 partitions over 1 + 2 sessions,
    and the rows come out in the one-partition-per-entry walk's order."""
    import dataclasses

    from ftp_blueprints_spark.sources.datasource import ManifestReader, read_manifest

    root = tmp_path / "srv"
    (root / "a" / "sub").mkdir(parents=True)
    (root / "a" / "sub" / "x.csv").write_bytes(b"x")
    (root / "b.csv").write_bytes(b"bb")
    (root / "c.csv").write_bytes(b"ccc")
    srv = FtpStubServer(str(root), USERS)
    with srv as (host, port):
        spec = dataclasses.replace(spec_for(host, port), max_connections=2)
        per_entry = ManifestReader(
            None, {"kind": "local", "root": str(root), "max_connections": "16"}
        )
        parts = per_entry.partitions()
        assert len(parts) == 3  # a, b.csv, c.csv
        want = [row for p in parts for row in per_entry.read(p)]

        srv.sessions = 0
        df = read_manifest(spark, spec, "")
        assert df.rdd.getNumPartitions() == 2
        assert [tuple(r) for r in df.collect()] == want
        assert srv.sessions == 3  # the seed listing + one per partition

    (tmp_path / "bare").mkdir()
    with FtpStubServer(str(tmp_path / "bare"), USERS) as (host, port):
        empty = read_manifest(spark, spec_for(host, port), "")
        assert empty.rdd.getNumPartitions() == 1
        assert empty.count() == 0


def test_listdir_raises_when_size_loses_the_connection(ftp_root):
    """SIZE is optional: a refusal (an FTP error reply) leaves the size
    unknown, but a dropped connection fails the listing instead of
    passing as a file without a size."""
    import ftplib

    with FtpStubServer(ftp_root, USERS) as (host, port):
        client = spec_for(host, port).connect()
        try:
            def refused(name):
                raise ftplib.error_perm("502 SIZE not implemented")

            client._ftp.size = refused
            assert dict((p, s) for p, _, s in client.listdir("data"))["data/a.csv"] is None

            def dropped(name):
                raise ConnectionResetError("connection reset by peer")

            client._ftp.size = dropped
            with pytest.raises(ConnectionResetError):
                client.listdir("data")
        finally:
            client.close()


# --- raw client round-trip --------------------------------------------------

def test_client_store_retrieve_roundtrip(ftp_root):
    with FtpStubServer(ftp_root, USERS) as (host, port):
        client = spec_for(host, port).connect()
        try:
            client.makedirs("up/loads")
            client.store(io.BytesIO(b"payload"), "up/loads/p.bin")
            out = io.BytesIO()
            client.retrieve("up/loads/p.bin", out)
        finally:
            client.close()
    assert out.getvalue() == b"payload"


# --- CSV-over-FTP ingestion to parquet --------------------------------------

def test_ingest_csv_over_ftp(spark, tmp_path):
    from ftp_blueprints_spark.sources.ingest import ingest_csv

    root = tmp_path / "srv"
    (root / "in" / "sub").mkdir(parents=True)
    (root / "in" / "one.csv").write_text("id,name,qty\n1,ant,10\n2,bee,20\n")
    (root / "in" / "sub" / "two.csv").write_text("id,name,qty\n3,cat,30\n")
    (root / "in" / "notes.txt").write_text("not a csv")
    dest = str(tmp_path / "out.parquet")

    with FtpStubServer(str(root), USERS) as (host, port):
        n = ingest_csv(
            spark, spec_for(host, port), "in",
            schema="id int, name string, qty int", dest=dest,
        )
    assert n == 3
    got = {
        (r["id"], r["name"], r["qty"], r["src_path"], r["line_no"])
        for r in spark.read.parquet(dest).collect()
    }
    assert got == {
        (1, "ant", 10, "in/one.csv", 1),
        (2, "bee", 20, "in/one.csv", 2),
        (3, "cat", 30, "in/sub/two.csv", 1),
    }


def test_ingest_csv_partitioned_prunes(spark, tmp_path):
    """Partitioned ingest: read-back with a partition predicate scans
    only the matching directory (PartitionFilters, not data filters)."""
    from ftp_blueprints_spark.sources.ingest import ingest_csv

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    (root / "in" / "d.csv").write_text(
        "id,grp\n1,a\n2,b\n3,a\n4,b\n"
    )
    dest = str(tmp_path / "part.parquet")
    with FtpStubServer(str(root), USERS) as (host, port):
        n = ingest_csv(
            spark, spec_for(host, port), "in",
            schema="id int, grp string", dest=dest, partition_cols=["grp"],
        )
    assert n == 4
    back = spark.read.parquet(dest).filter("grp = 'a'")
    assert {r["id"] for r in back.collect()} == {1, 3}
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(grp" in plan


def test_cli_ingest_local(spark, tmp_path):
    from ftp_blueprints_spark.cli.blueprints import ingest_main

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    (root / "in" / "one.csv").write_text("id,name,qty\n1,ant,10\n2,bee,20\n")
    dest = str(tmp_path / "cli_out.parquet")
    rc = ingest_main([
        "--kind", "local", "--root", str(root),
        "--source-folder-name", "in",
        "--source-file-name", r".*\.csv$",
        "--schema", "id int, name string, qty int",
        "--dest", dest,
    ])
    assert rc == 0
    assert spark.read.parquet(dest).count() == 2


def test_ingest_fetches_only_matched_files(spark, tmp_path):
    """Ingest filters, then fetches: of a folder holding one CSV and
    three large non-CSV files, only the CSV is RETRed, and its rows
    land."""
    from ftp_blueprints_spark.sources.ingest import ingest_csv

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    (root / "in" / "one.csv").write_text("id,name\n1,ant\n2,bee\n")
    for name in ("big.bin", "big.csv.gz.part", "big.parquet"):
        (root / "in" / name).write_bytes(b"\0" * (4 << 20))
    dest = str(tmp_path / "only.parquet")
    srv = FtpStubServer(str(root), USERS)
    with srv as (host, port):
        n = ingest_csv(
            spark, spec_for(host, port), "in", schema="id int, name string", dest=dest,
        )
    assert srv.retrieved == ["in/one.csv"]
    assert n == 2
    got = {(r["src_path"], r["line_no"], r["id"], r["name"])
           for r in spark.read.parquet(dest).collect()}
    assert got == {("in/one.csv", 1, 1, "ant"), ("in/one.csv", 2, 2, "bee")}


def test_ingest_csv_datasource_regime(spark, tmp_path, monkeypatch):
    """Past DRIVER_ROWS_THRESHOLD the listing is an executor-walked
    manifest and the fetch repartitions it: the ingest lands the driver
    regime's rows and RETRs the matched paths only."""
    from ftp_blueprints_spark.sources import listing
    from ftp_blueprints_spark.sources.ingest import ingest_csv

    root = tmp_path / "srv"
    (root / "in" / "sub").mkdir(parents=True)
    (root / "in" / "one.csv").write_text("id,name,qty\n1,ant,10\n2,bee,20\n")
    (root / "in" / "sub" / "two.csv").write_text("id,name,qty\n3,cat,30\n")
    (root / "in" / "notes.txt").write_text("not a csv")
    (root / "in" / "sub" / "big.bin").write_bytes(b"\0" * (1 << 20))

    def ingest(dest: str) -> tuple:
        srv = FtpStubServer(str(root), USERS)
        with srv as (host, port):
            spec = spec_for(host, port)
            regime = not isinstance(list_manifest(lambda: spark, spec, "in"), list)
            n = ingest_csv(spark, spec, "in", schema="id int, name string, qty int", dest=dest)
        rows = sorted(
            tuple(r) for r in
            spark.read.parquet(dest).select("src_path", "line_no", "id", "name", "qty").collect()
        )
        return regime, n, rows, sorted(srv.retrieved)

    driver = ingest(str(tmp_path / "driver.parquet"))
    monkeypatch.setattr(listing, "DRIVER_ROWS_THRESHOLD", 0)
    distributed = ingest(str(tmp_path / "ds.parquet"))
    assert (driver[0], distributed[0]) == (False, True)
    assert distributed[1:] == driver[1:] == (
        3,
        [("in/one.csv", 1, 1, "ant", 10), ("in/one.csv", 2, 2, "bee", 20),
         ("in/sub/two.csv", 1, 3, "cat", 30)],
        ["in/one.csv", "in/sub/two.csv"],
    )


def test_ingest_no_matching_files_writes_empty(spark, tmp_path):
    from ftp_blueprints_spark.sources.ingest import ingest_csv

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    (root / "in" / "notes.txt").write_text("not a csv")
    dest = str(tmp_path / "empty_out.parquet")
    with FtpStubServer(str(root), USERS) as (host, port):
        n = ingest_csv(
            spark, spec_for(host, port), "in",
            schema="id int, name string", dest=dest,
        )
    assert n == 0
    assert spark.read.parquet(dest).count() == 0


def test_cli_download_over_ftp(spark, ftp_root, tmp_path):
    """The full reference pipeline over real FTP: CLI arg surface ->
    BFS listing -> regex basename match -> destination projection ->
    download sink, exit code 0; then exit 200 when nothing matches."""
    from ftp_blueprints_spark.cli.blueprints import download_main

    dest = tmp_path / "dl"
    with FtpStubServer(ftp_root, USERS) as (host, port):
        args = [
            "--kind", "ftp", "--host", host, "--port", str(port),
            "--username", "alice", "--password", "secret", "--timeout", "10",
            "--source-folder-name", "data",
            "--source-file-name", r".*\.csv",
            "--source-file-name-match-type", "regex_match",
            "--destination-root", str(dest),
        ]
        assert download_main(args) == 0
        got = sorted(p.name for p in dest.rglob("*") if p.is_file())
        # no explicit destination name -> source basenames, no numbering
        assert got == ["a.csv", "b.csv"]
        # explicit destination name over >1 match -> P4 numbered fan-out
        dest2 = tmp_path / "dl2"
        assert download_main(
            args[:-1] + [str(dest2), "--destination-file-name", "out.csv"]
        ) == 0
        got2 = sorted(p.name for p in dest2.rglob("*") if p.is_file())
        assert got2 == ["out_1.csv", "out_2.csv"]
        assert download_main(
            args[:-4] + ["--source-file-name", r"nothing\.matches",
                         "--source-file-name-match-type", "regex_match",
                         "--destination-root", str(dest)]
        ) == 200


def test_cli_colliding_keep_name_downloads_all_succeed(spark, tmp_path, capsys):
    """Matches sharing one basename, downloaded keeping names over two
    concurrent sessions, all write the same destination: each writer has
    its own temp file, so none fails, no temp file is left and the
    destination is one whole source (which one is unspecified)."""
    from ftp_blueprints_spark.cli.blueprints import download_main

    sources = set()
    for i in range(8):
        (tmp_path / "srv" / f"d{i}").mkdir(parents=True)
        data = bytes([i]) * (64 << 10)
        (tmp_path / "srv" / f"d{i}" / "same.csv").write_bytes(data)
        sources.add(data)
    dest = tmp_path / "out"
    with FtpStubServer(str(tmp_path / "srv"), USERS) as (host, port):
        rc = download_main([
            "--kind", "ftp", "--host", host, "--port", str(port),
            "--username", "alice", "--password", "secret", "--timeout", "10",
            "--max-connections", "2", "--source-file-name", r"^same\.csv$",
            "--source-file-name-match-type", "regex_match", "--destination-root", str(dest),
        ])
    assert rc == 0
    assert "downloaded 8 file(s), 0 failed" in capsys.readouterr().out
    assert os.listdir(dest) == ["same.csv"]
    assert (dest / "same.csv").read_bytes() in sources


def test_cli_upload_over_ftp_lists_local_tree(spark, tmp_path):
    """Regression: upload must ENUMERATE the local source tree and act
    against the remote server (the reference globs the local
    filesystem, upload_file.py:136-144). A previous version listed the
    REMOTE tree to decide what to upload, so a file that did not
    already exist on the server could never be uploaded."""
    from ftp_blueprints_spark.cli.blueprints import upload_main

    local = tmp_path / "src"
    (local / "out").mkdir(parents=True)
    (local / "out" / "fresh.csv").write_text("id\n1\n")
    srv = tmp_path / "srv"
    srv.mkdir()  # server starts EMPTY — nothing to list remotely
    with FtpStubServer(str(srv), USERS) as (host, port):
        rc = upload_main([
            "--kind", "ftp", "--host", host, "--port", str(port),
            "--username", "alice", "--password", "secret", "--timeout", "10",
            "--root", str(local),
            "--source-folder-name", "out",
            "--source-file-name", r".*\.csv",
            "--source-file-name-match-type", "regex_match",
            "--destination-folder-name", "landed",
        ])
    assert rc == 0
    assert (srv / "landed" / "fresh.csv").read_text() == "id\n1\n"


def test_cli_bad_credentials_exit3_from_executor(spark, ftp_root):
    """Regression: a bad login must map to the reference's exit code 3
    — not an unhandled traceback / exit 1. A download lists the remote
    tree first, on driver threads, so the login fails there and
    IncorrectCredentials surfaces directly; sink logins are covered by
    ``test_sink_bad_credentials_exit3_in_both_regimes``."""
    from ftp_blueprints_spark.cli.blueprints import download_main

    with FtpStubServer(ftp_root, USERS) as (host, port):
        rc = download_main([
            "--kind", "ftp", "--host", host, "--port", str(port),
            "--username", "alice", "--password", "WRONG", "--timeout", "10",
            "--source-folder-name", "data",
            "--source-file-name", r".*\.csv",
            "--source-file-name-match-type", "regex_match",
        ])
    assert rc == 3


@pytest.mark.parametrize("threshold", [None, 0], ids=["driver", "executors"])
def test_sink_bad_credentials_exit3_in_both_regimes(spark, tmp_path, monkeypatch, threshold):
    """An upload lists the local tree and logs in to the server only in
    its sink. On driver threads the login raises IncorrectCredentials
    directly; on executors (``DRIVER_ROWS_THRESHOLD`` 0 makes the local
    listing an executor-walked manifest) it crosses Py4J as a string, and
    ``_run_sink`` must map it back. Both exit 3."""
    from ftp_blueprints_spark.cli.blueprints import upload_main
    from ftp_blueprints_spark.operators.manifest import (compile_pattern, search_files,
                                                         with_destination)
    from ftp_blueprints_spark.sources import listing

    if threshold is not None:
        monkeypatch.setattr(listing, "DRIVER_ROWS_THRESHOLD", threshold)
    local = tmp_path / "local"
    (local / "out" / "sub").mkdir(parents=True)  # a subfolder: the walk checks the threshold
    (local / "out" / "sub" / "a.csv").write_text("a")
    srv = tmp_path / "srv"
    srv.mkdir()
    mf = list_manifest(lambda: spark, ClientSpec(kind="local", root=str(local)), "out")
    manifest = with_destination(search_files(mf, compile_pattern(r"\.csv$")), "in")
    assert isinstance(manifest, list) == (threshold is None)
    with FtpStubServer(str(srv), USERS) as (host, port):
        bad = dataclasses.replace(spec_for(host, port), password="WRONG")
        with pytest.raises(IncorrectCredentials) as ei:
            actions.upload(manifest, bad, source_root=str(local))
        assert ei.value.exit_code == 3
        rc = upload_main([
            "--kind", "ftp", "--host", host, "--port", str(port),
            "--username", "alice", "--password", "WRONG", "--timeout", "10",
            "--root", str(local), "--source-folder-name", "out",
            "--source-file-name", r"\.csv$", "--source-file-name-match-type", "regex_match",
        ])
    assert rc == 3
    assert list(srv.iterdir()) == []


def test_csv_header_drop_survives_leading_blank_line(spark):
    """Regression: blank lines are filtered before the header drop, so
    a file whose FIRST physical line is blank has its header at idx 1 —
    a fixed `idx > 0` filter leaked that header as a data row. The drop
    now targets the first NON-EMPTY line per file: blank means nothing
    but ASCII spaces before the line break (a CRLF's CR included), so a
    tab-only line is the header. The header is found per file before
    the explode, so the plan has no window and no shuffle."""
    from ftp_blueprints_spark.sources.ingest import parse_csv_files

    files = spark.createDataFrame(
        [
            ("lead_blank.csv", b"\nid,name\n1,ant\n"),
            ("normal.csv", b"id,name\n2,bee\n"),
            ("crlf_spaces.csv", b"  \r\n \r\nid,name\r\n3,cat\r\n"),
            ("tab_line.csv", b"\t\nid,name\n4,dog\n"),
            ("empty.csv", b""),
            ("header_only.csv", b"id,name\n"),
        ],
        "path string, content binary",
    )
    out = parse_csv_files(files, "id int, name string", header=True)
    rows = out.collect()
    # line_no is the offset FROM THE HEADER (1 = first data line), not
    # the physical index — the leading-blank file's first data row sits
    # at physical idx 2 but must still report line_no 1.
    assert sorted((r["src_path"], r["line_no"], r["id"], r["name"]) for r in rows) == [
        ("crlf_spaces.csv", 1, 3, "cat"),
        ("lead_blank.csv", 1, 1, "ant"),
        ("normal.csv", 1, 2, "bee"),
        ("tab_line.csv", 1, None, "name"),
        ("tab_line.csv", 2, 4, "dog"),
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan, plan


def test_ingest_jsonl_over_ftp(spark, tmp_path):
    from ftp_blueprints_spark.sources.ingest import ingest_jsonl

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    (root / "in" / "a.jsonl").write_text(
        '{"id": 1, "text": "hello", "score": 0.5}\n'
        '{"id": 2, "text": "world", "score": 1.5}\n'
        "not json at all\n"
    )
    dest = str(tmp_path / "jl.parquet")
    with FtpStubServer(str(root), USERS) as (host, port):
        n = ingest_jsonl(
            spark, spec_for(host, port), "in",
            schema="id int, text string, score double", dest=dest,
        )
    assert n == 3  # bad line kept with null fields + lineage
    rows = {r["line_no"]: r for r in spark.read.parquet(dest).collect()}
    assert rows[1]["text"] == "hello" and rows[2]["score"] == 1.5
    assert rows[3]["id"] is None and rows[3]["src_path"] == "in/a.jsonl"


def test_ingest_parquet_over_ftp(spark, tmp_path):
    """Parquet-over-FTP: bytes fetched executor-side via the manifest
    DataSource, parsed with pyarrow in mapInPandas, lineage preserved,
    column projection honored."""
    import pandas as pd

    from ftp_blueprints_spark.sources.ingest import ingest_parquet

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    pd.DataFrame(
        {"id": [1, 2, 3], "text": ["a", "b", "c"], "extra": [9.0, 8.0, 7.0]}
    ).to_parquet(root / "in" / "p1.parquet")
    pd.DataFrame({"id": [4], "text": ["d"], "extra": [6.0]}).to_parquet(
        root / "in" / "p2.parquet"
    )
    dest = str(tmp_path / "pq_out.parquet")
    with FtpStubServer(str(root), USERS) as (host, port):
        n = ingest_parquet(
            spark, spec_for(host, port), "in",
            schema="id int, text string", dest=dest,
        )
    assert n == 4
    out = spark.read.parquet(dest)
    assert sorted(out.columns) == ["id", "row_no", "src_path", "text"]  # extra pruned
    rows = {(r["src_path"], r["row_no"]): r for r in out.collect()}
    assert rows[("in/p1.parquet", 2)]["text"] == "b"
    assert rows[("in/p2.parquet", 1)]["id"] == 4


def test_cli_ingest_format_parquet(spark, tmp_path):
    import pandas as pd

    from ftp_blueprints_spark.cli.blueprints import ingest_main

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    pd.DataFrame({"id": [7, 8], "name": ["x", "y"]}).to_parquet(
        root / "in" / "t.parquet"
    )
    dest = str(tmp_path / "cli_pq.parquet")
    rc = ingest_main([
        "--kind", "local", "--root", str(root),
        "--source-folder-name", "in",
        "--source-file-name", r".*\.parquet$",
        "--format", "parquet",
        "--schema", "id int, name string",
        "--dest", dest,
    ])
    assert rc == 0
    assert spark.read.parquet(dest).count() == 2


def test_ingest_gzipped_csv_over_ftp(spark, tmp_path):
    """Mixed plain + gzipped CSVs ingest in one job: payloads are
    gunzipped executor-side by magic-byte detection (not extension)."""
    import gzip

    from ftp_blueprints_spark.sources.ingest import ingest_csv

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    (root / "in" / "plain.csv").write_text("id,name\n1,ant\n")
    (root / "in" / "zipped.csv.gz").write_bytes(
        gzip.compress(b"id,name\n2,bee\n3,cat\n")
    )
    dest = str(tmp_path / "gz_out.parquet")
    with FtpStubServer(str(root), USERS) as (host, port):
        n = ingest_csv(
            spark, spec_for(host, port), "in",
            schema="id int, name string", dest=dest,
            pattern=r".*\.csv(\.gz)?$",
        )
    assert n == 3
    names = {r["name"] for r in spark.read.parquet(dest).collect()}
    assert names == {"ant", "bee", "cat"}


def test_ingest_gzipped_jsonl_over_ftp(spark, tmp_path):
    """The fetch gunzips by magic bytes for every text format: a gzipped
    and a plain JSONL file ingest together, with their lineage."""
    import gzip

    from ftp_blueprints_spark.sources.ingest import ingest_jsonl

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    (root / "in" / "plain.jsonl").write_text('{"id": 1, "text": "ant"}\n')
    (root / "in" / "zipped.jsonl.gz").write_bytes(
        gzip.compress(b'{"id": 2, "text": "bee"}\n\n{"id": 3, "text": "cat"}\n')
    )
    dest = str(tmp_path / "gz_jl.parquet")
    with FtpStubServer(str(root), USERS) as (host, port):
        n = ingest_jsonl(
            spark, spec_for(host, port), "in",
            schema="id int, text string", dest=dest, pattern=r".*\.jsonl(\.gz)?$",
        )
    assert n == 3
    got = {(r["src_path"], r["line_no"], r["id"], r["text"])
           for r in spark.read.parquet(dest).collect()}
    assert got == {
        ("in/plain.jsonl", 1, 1, "ant"),
        ("in/zipped.jsonl.gz", 1, 2, "bee"),
        ("in/zipped.jsonl.gz", 3, 3, "cat"),
    }


@pytest.mark.parametrize("partition_cols", [None, ["grp"]], ids=["flat", "partitioned"])
def test_ingest_csv_runs_one_spark_job(spark, spark_jobs, tmp_path, partition_cols):
    """Over a driver-held tree, an ingest call is its parquet write and
    nothing else: the row count comes from an observation on the written
    frame, not from reading the output back."""
    from ftp_blueprints_spark.sources.ingest import ingest_csv

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    (root / "in" / "a.csv").write_text("id,grp\n1,x\n2,y\n")
    (root / "in" / "b.csv").write_text("id,grp\n3,x\n")
    dest = str(tmp_path / "one_job.parquet")
    with FtpStubServer(str(root), USERS) as (host, port):
        with spark_jobs() as ids:
            n = ingest_csv(spark, spec_for(host, port), "in", schema="id int, grp string",
                           dest=dest, partition_cols=partition_cols)
    assert n == 3
    assert len(ids) == 1, ids
    assert sorted(r["id"] for r in spark.read.parquet(dest).collect()) == [1, 2, 3]


def test_ingest_orc_over_ftp(spark, tmp_path):
    """ORC-over-FTP mirrors the parquet path: executor-side fetch,
    pyarrow ORC parse in mapInPandas, lineage + column projection."""
    import pyarrow as pa
    import pyarrow.orc as po

    from ftp_blueprints_spark.sources.ingest import ingest_orc

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    po.write_table(
        pa.table(
            {
                "id": pa.array([1, 2, 3], pa.int32()),
                "text": ["a", "b", "c"],
                "extra": [9.0, 8.0, 7.0],
            }
        ),
        str(root / "in" / "o1.orc"),
    )
    po.write_table(
        pa.table({"id": pa.array([4], pa.int32()), "text": ["d"], "extra": [6.0]}),
        str(root / "in" / "o2.orc"),
    )
    dest = str(tmp_path / "orc_out.parquet")
    with FtpStubServer(str(root), USERS) as (host, port):
        n = ingest_orc(
            spark, spec_for(host, port), "in",
            schema="id int, text string", dest=dest,
        )
    assert n == 4
    out = spark.read.parquet(dest)
    assert sorted(out.columns) == ["id", "row_no", "src_path", "text"]  # extra pruned
    rows = {(r["src_path"], r["row_no"]): r for r in out.collect()}
    assert rows[("in/o1.orc", 3)]["text"] == "c"
    assert rows[("in/o2.orc", 1)]["id"] == 4


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_ingest_container_type_with_commas(spark, tmp_path, fmt):
    """The projected column names come from the parsed schema, not a
    comma split of its DDL: a decimal(10,2) column lands its values
    instead of asking pyarrow for a column named '2)'."""
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.orc as po
    import pyarrow.parquet as pq

    from ftp_blueprints_spark.sources import ingest

    root = tmp_path / "srv"
    (root / "in").mkdir(parents=True)
    table = pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "price": pa.array([Decimal("1.50"), Decimal("12.25")], pa.decimal128(10, 2)),
        "extra": ["x", "y"],
    })
    write = pq.write_table if fmt == "parquet" else po.write_table
    write(table, str(root / "in" / f"t.{fmt}"))
    dest = str(tmp_path / "out.parquet")
    with FtpStubServer(str(root), USERS) as (host, port):
        n = getattr(ingest, f"ingest_{fmt}")(
            spark, spec_for(host, port), "in",
            schema="id bigint, price decimal(10,2)", dest=dest,
        )
    assert n == 2
    out = spark.read.parquet(dest)
    assert sorted(out.columns) == ["id", "price", "row_no", "src_path"]
    assert sorted((r["id"], r["price"]) for r in out.collect()) == [
        (1, Decimal("1.50")), (2, Decimal("12.25")),
    ]


# --- a small-tree CLI call needs no JVM -----------------------------------

def test_invalid_regex_fails_before_listing(ftp_root, capsys):
    """An invalid pattern is compiled before any listing: the CLI prints
    one ``error: invalid regex`` line and exits 1 without opening a
    session, and ingest raises the same BlueprintError before it needs
    a SparkSession or the server."""
    from ftp_blueprints_spark.cli.blueprints import download_main
    from ftp_blueprints_spark.errors import BlueprintError
    from ftp_blueprints_spark.sources.ingest import ingest_csv

    srv = FtpStubServer(ftp_root, USERS)
    with srv as (host, port):
        rc = download_main([
            "--kind", "ftp", "--host", host, "--port", str(port),
            "--username", "alice", "--password", "secret", "--timeout", "10",
            "--source-folder-name", "data", "--source-file-name", r"(?P<stem\w+)\.csv",
            "--source-file-name-match-type", "regex_match",
        ])
        out, err = capsys.readouterr()
        with pytest.raises(BlueprintError, match="^invalid regex "):
            ingest_csv(None, spec_for(host, port), "data", schema="id int", dest="unused",
                       pattern="[.csv")
    assert rc == 1
    assert len(out.splitlines()) == 1
    assert out.startswith("error: invalid regex '(?P<stem\\\\w+)\\\\.csv': ")
    assert "Traceback" not in err
    assert srv.sessions == 0


def test_cli_calls_run_without_a_jvm(ftp_root, tmp_path_factory):
    """Below DRIVER_ROWS_THRESHOLD a CLI call never starts Spark: with
    ``JAVA_HOME`` and ``SPARK_HOME`` pointing at an empty folder, a
    download, an upload, a move and a delete, each its own
    ``python -m ftp_blueprints_spark.cli.blueprints`` process over the
    FTP stub, exit 0, print their usual summary and leave the usual
    trees."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    empty = tmp_path_factory.mktemp("no_jvm")
    local = tmp_path_factory.mktemp("client")
    env = {**os.environ, "JAVA_HOME": str(empty), "SPARK_HOME": str(empty)}
    with FtpStubServer(ftp_root, USERS) as (host, port):
        conn = ["--kind", "ftp", "--host", host, "--port", str(port), "--username", "alice",
                "--password", "secret", "--timeout", "10", "--source-file-name-match-type",
                "regex_match"]
        calls = [
            ("download", "--source-folder-name", "data", "--source-file-name", r"\.csv$",
             "--destination-root", str(local), "--destination-folder-name", "data"),
            ("upload", "--root", str(local), "--source-folder-name", "data",
             "--source-file-name", "^data/", "--destination-folder-name", "up"),
            ("move", "--source-folder-name", "up", "--source-file-name", "^up/",
             "--destination-folder-name", "moved"),
            ("delete", "--source-folder-name", "moved", "--source-file-name", r"\.csv$"),
        ]
        said = []
        for name, *argv in calls:
            done = subprocess.run(
                [sys.executable, "-m", "ftp_blueprints_spark.cli.blueprints", name, *conn, *argv],
                cwd=repo, env=env, capture_output=True, text=True, timeout=120,
            )
            said.append((done.returncode, done.stdout.strip().splitlines()[-1:]))
    assert said == [
        (0, ["downloaded 2 file(s), 0 failed (skipped)"]),
        (0, ["uploaded 2 file(s), 0 skipped"]),
        (0, ["moved 2 file(s)"]),
        (0, ["deleted 2 file(s)"]),
    ]
    assert sorted(str(p.relative_to(local)) for p in local.rglob("*")) == [
        "data", "data/a.csv", "data/b.csv"]
    assert (local / "data" / "a.csv").read_bytes() == TREE["data/a.csv"]
    srv = sorted(str(p.relative_to(ftp_root)) for p in pathlib.Path(ftp_root).rglob("*"))
    assert srv == sorted({*TREE, "data", "data/sub", "data/...", "moved", "up"})


# --- regex-prefix traversal pruning (SURVEY §4.2) ----------------------------

def test_pattern_prefix_derivation():
    """Unit contract for the static-prefix parser: ^-anchored literal
    folder runs are extracted up to the last '/', escaped metachars
    count as literals, character classes and unanchored patterns
    disable pruning entirely (rlike is re.search — an unanchored
    pattern may match anywhere)."""
    from ftp_blueprints_spark.sources.listing import pattern_prefix

    assert pattern_prefix(r"^logs/2026-08/.*\.gz") == "logs/2026-08"
    assert pattern_prefix(r"^logs/2026-08/x") == "logs/2026-08"
    assert pattern_prefix(r"^data/sub\-dir/.*") == "data/sub-dir"
    assert pattern_prefix(r"^data/\d+/.*") == "data"
    assert pattern_prefix(r"^(a|b)/c") == ""
    assert pattern_prefix(r"logs/.*\.gz") == ""  # unanchored
    assert pattern_prefix(r"^nofolder.*") == ""
    assert pattern_prefix(r"^exact/path\.txt$") == "exact"
    # top-level alternation: '^a/.*|^b/.*' matches under b/ too, so a
    # prefix from the first alternative would silently drop them
    assert pattern_prefix(r"^a/.*|^b/.*") == ""
    assert pattern_prefix(r"^data/\d+|other") == ""
    assert pattern_prefix(r"^(a|b)/c/.*") == ""  # group breaks the scan
    assert pattern_prefix(r"^logs/(a|b)/.*") == "logs"  # grouped '|' is fine
    assert pattern_prefix(r"^a/\|/b/c") == "a/|/b"  # escaped '|' is a literal
    # quantifier at the break makes the last literal char optional:
    # '^logs/?x' matches root-level 'logsx' outside the logs/ subtree
    assert pattern_prefix(r"^logs/?x") == ""
    assert pattern_prefix(r"^logs/*x") == ""
    assert pattern_prefix(r"^a/b{2,3}/c") == "a"
    assert pattern_prefix(r"^ab/cd*e") == "ab"
    # path-shape guard: a seed the full walk could never reach must not
    # prune — absolute prefixes (manifest paths are root-relative),
    # root-escaping '..', all-dots segments (what F4 skips during
    # traversal), and empty '//' segments
    assert pattern_prefix(r"^/data/sub/.*") == ""
    assert pattern_prefix(r"^\.\./x/.*") == ""
    assert pattern_prefix(r"^\.\.\./x/.*") == ""
    assert pattern_prefix(r"^a//b/.*") == ""
    assert pattern_prefix(r"^a/\.hidden/b/.*") == "a/.hidden/b"  # dot-named dirs ok
    import re

    for pat, victim in [
        (r"^a/.*|^b/.*", "b/file"),
        (r"^logs/?x", "logsx"),
        (r"^logs/*x", "logsx"),
    ]:
        # the soundness property itself: these paths MATCH yet live
        # outside the subtree a naive prefix would prune to
        assert re.search(pat, victim)


def test_seed_for_root_interaction():
    """The pattern prefix is in manifest-path coordinates (the path
    column contains the root), so seeding must reconcile the two:
    below-root prefixes prune, above-root prefixes don't, divergent
    literals prove zero matches without a single listing."""
    from ftp_blueprints_spark.sources.listing import seed_for

    assert seed_for("", "data/sub") == "data/sub"
    assert seed_for("data", "data/sub") == "data/sub"
    assert seed_for("data/sub", "data") == "data/sub"  # ancestor: no prune
    assert seed_for("data", "data") == "data"
    assert seed_for("data", "") == "data"
    assert seed_for("data", "other") is None
    assert seed_for("data", "dat") is None  # not a path-segment prefix


def test_pruned_listing_saves_nlst_calls(spark, ftp_root):
    """A ^-anchored fullpath pattern seeds the BFS at its static folder
    prefix: the pruned walk lists ONE folder where the full walk lists
    the whole tree, and the post-match manifests are identical — the
    generalization of the reference's exact-match pushdown
    (download_file.py:251,282-296)."""
    from ftp_blueprints_spark.operators.manifest import match_files

    pattern = r"^data/sub/.*[.]txt$"

    srv_full = FtpStubServer(ftp_root, USERS)
    with srv_full as (host, port):
        full = list_tree(spark, spec_for(host, port), "")
        full_match = {
            tuple(r) for r in match_files(full, pattern=pattern,
                                          scope="fullpath").collect()
        }
        full_nlst = srv_full.nlst_count

    srv_pruned = FtpStubServer(ftp_root, USERS)
    with srv_pruned as (host, port):
        pruned = list_tree(
            spark, spec_for(host, port), "", path_pattern=pattern
        )
        pruned_match = {
            tuple(r) for r in match_files(pruned, pattern=pattern,
                                          scope="fullpath").collect()
        }
        pruned_nlst = srv_pruned.nlst_count

    assert pruned_match == full_match
    assert len(full_match) == 1  # data/sub/c.txt really matched
    # full walk: root + data + data/sub (dot-dir pruned in traversal);
    # pruned walk: the seed folder only
    assert full_nlst == 3
    assert pruned_nlst == 1


def test_pruned_listing_missing_prefix_is_empty(spark, ftp_root):
    """A prefix folder that doesn't exist is a tree with no matches —
    the same zero-match outcome the full walk reaches (F7 exit-200),
    not an error."""
    with FtpStubServer(ftp_root, USERS) as (host, port):
        mf = list_tree(
            spark, spec_for(host, port), "",
            path_pattern=r"^no/such/folder/.*[.]gz$",
        )
        assert mf.count() == 0


def test_missing_folder_error_discrimination():
    """Only genuinely-missing-folder errors may soften into an empty
    pruned manifest (r9 advice): FTP's 550 covers both missing and
    permission-denied, so the reply text is inspected — a 550 naming a
    permission problem, any non-550 reply (530 auth, 501 syntax), and
    transient errors all propagate."""
    import ftplib

    from ftp_blueprints_spark.sources.connector import is_missing_folder_error

    soften = [
        ftplib.error_perm("550 no such directory"),
        ftplib.error_perm("550 No such file or directory"),
        ftplib.error_perm("550 not a directory"),
        ftplib.error_perm("550 Failed"),  # bare 550: ambiguous, documented
        FileNotFoundError("x"),
        NotADirectoryError("x"),
    ]
    surface = [
        ftplib.error_perm("550 Permission denied"),
        ftplib.error_perm("550 Access is denied."),
        ftplib.error_perm("550 insufficient privileges"),
        ftplib.error_perm("550 /var/data: Operation not permitted"),
        ftplib.error_perm("550 user not authorized"),
        ftplib.error_perm("530 Not logged in"),
        ftplib.error_perm("501 Syntax error"),
        ftplib.error_temp("421 Service not available"),
        TimeoutError("timed out"),
        PermissionError("local ACL"),
    ]
    assert all(is_missing_folder_error(e) for e in soften)
    assert not any(is_missing_folder_error(e) for e in surface)


def test_pruned_listing_permission_denied_raises(spark, ftp_root):
    """A pruned seed probe that hits permission-denied must surface the
    error, not return an empty manifest — softening it would turn an
    ACL misconfiguration into a silent zero-match exit 200."""
    import ftplib

    import pytest as _pytest

    with FtpStubServer(ftp_root, USERS) as (host, port):
        spec = spec_for(host, port)

        class DenyingSpec(type(spec)):
            def connect(self):
                client = super().connect()
                real = client.listdir

                def deny(folder):
                    raise ftplib.error_perm("550 Permission denied")

                client.listdir = deny
                return client

        dspec = DenyingSpec(**{f: getattr(spec, f) for f in spec.__dataclass_fields__})
        with _pytest.raises(ftplib.error_perm):
            list_tree(
                spark, dspec, "", path_pattern=r"^data/sub/.*[.]txt$"
            ).count()


def test_datasource_prunes_partitions_by_pattern(spark, ftp_root, monkeypatch):
    """Pruning lives in list_tree alone: past the hand-off the executor
    walk goes on below the pruned seed, so the pruned seed is listed
    once in total, the walk covers one subtree, and reading the manifest
    lists nothing again; rows equal the driver-regime pruned manifest."""
    from ftp_blueprints_spark.sources import listing

    pattern = r"^data/sub/.*[.]txt$"
    # a folder below the seed, so the pruned walk has a level to hand off
    os.makedirs(os.path.join(ftp_root, "data", "sub", "inner"))
    with open(os.path.join(ftp_root, "data", "sub", "inner", "d.txt"), "wb") as f:
        f.write(b"delta")
    srv = FtpStubServer(ftp_root, USERS)
    with srv as (host, port):
        spec = spec_for(host, port)
        want = {tuple(r) for r in list_tree(spark, spec, "", path_pattern=pattern).collect()}
        monkeypatch.setattr(listing, "DRIVER_ROWS_THRESHOLD", 0)
        srv.nlst_count = 0
        df = list_manifest(lambda: spark, spec, "", path_pattern=pattern)
        assert not isinstance(df, list)
        # data/sub by list_tree's seed listing, data/sub/inner by the
        # executor walk; never the root or data/ levels
        assert srv.nlst_count == 2
        rows = {tuple(r) for r in df.collect()}
        assert rows == want
        assert {r[0] for r in rows} == {
            "data/sub/c.txt", "data/sub/inner", "data/sub/inner/d.txt",
        }
        assert srv.nlst_count == 2

        missing = list_tree(spark, spec, "", path_pattern=r"^no/such/prefix/.*")
        assert missing.count() == 0


def test_cli_download_lists_the_tree_once_in_both_regimes(spark, tmp_path, monkeypatch, capsys):
    """A numbered and a keep-name CLI download over a 16-folder tree
    (``--max-connections 2``) send the same NLSTs (one per folder) and
    end the same way whether the manifest is driver-held or, with
    ``DRIVER_ROWS_THRESHOLD`` 0, executor-walked: same exit code, counts,
    downloaded names and server tree."""
    from ftp_blueprints_spark.cli.blueprints import download_main
    from ftp_blueprints_spark.sources import listing

    root = tmp_path / "srv"
    for t in range(3):
        for s in range(4):
            leaf = root / "data" / f"t{t}" / f"s{s}"
            leaf.mkdir(parents=True)
            for i in range(5):
                (leaf / f"f{i}.{'csv' if i == 0 else 'txt'}").write_text(f"{t}{s}{i}")

    def server_tree() -> list[str]:
        return sorted(str(p.relative_to(root)) for p in root.rglob("*"))

    before = server_tree()

    def download(dest, numbered: bool) -> tuple:
        srv = FtpStubServer(str(root), USERS)
        with srv as (host, port):
            rc = download_main([
                "--kind", "ftp", "--host", host, "--port", str(port),
                "--username", "alice", "--password", "secret", "--timeout", "10",
                "--max-connections", "2", "--source-folder-name", "data",
                "--source-file-name", r".*\.csv", "--source-file-name-match-type", "regex_match",
                "--destination-folder-name", "dl", "--destination-root", str(dest),
                *(["--destination-file-name", "all.csv"] if numbered else []),
            ])
        said = capsys.readouterr().out.strip().splitlines()[-1]
        return rc, said, srv.nlst_count, sorted(os.listdir(dest / "dl")), server_tree()

    regimes = []
    for threshold in (listing.DRIVER_ROWS_THRESHOLD, 0):
        monkeypatch.setattr(listing, "DRIVER_ROWS_THRESHOLD", threshold)
        regimes.append([download(tmp_path / f"{kind}{threshold}", kind == "numbered")
                        for kind in ("numbered", "keep")])
    driver, executors = regimes
    assert executors == driver
    said = "downloaded 12 file(s), 0 failed (skipped)"
    assert driver == [
        (0, said, 16, sorted(f"all_{i}.csv" for i in range(1, 13)), before),
        (0, said, 16, ["f0.csv"], before),
    ]


def test_pattern_prefix_soundness_property():
    """Property proof of the pruning contract: whenever pattern_prefix
    returns a non-empty prefix, EVERY string the pattern matches
    (re.search, the CLI's matcher) lies strictly inside the prefix
    subtree (starts with '<prefix>/'). Patterns are composed from the
    fragment grammar below over a tiny alphabet so matches are common;
    the two r9 hand-found holes (top-level alternation, boundary
    quantifiers) fail this property immediately if reintroduced."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ftp_blueprints_spark.sources.listing import pattern_prefix

    fragment = st.sampled_from(
        ["a", "b", "ab", "/", ".", "*", "?", "+", "|", "(", ")",
         "[ab]", "\\.", "\\d", "{1,2}", "$", "a/", "b/", ".*", "/?"]
    )
    paths = st.lists(
        st.sampled_from(["a", "b", "ab", "aa", "ba"]), min_size=1, max_size=4
    ).map("/".join)

    @given(
        body=st.lists(fragment, min_size=1, max_size=8).map("".join),
        candidates=st.lists(paths, min_size=1, max_size=20),
    )
    @settings(max_examples=500, deadline=None)
    def check(body: str, candidates: list[str]) -> None:
        pattern = "^" + body
        try:
            rx = re.compile(pattern)
        except re.error:
            return  # not a valid regex: pattern_prefix output is moot
        prefix = pattern_prefix(pattern)
        if not prefix:
            return  # no pruning claimed, nothing to prove
        for path in candidates:
            if rx.search(path):
                assert path.startswith(prefix + "/"), (
                    f"pattern {pattern!r} matched {path!r} outside the "
                    f"claimed prune subtree {prefix!r}"
                )

    check()
