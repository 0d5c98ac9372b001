"""Tests for the ftp_manifest Python DataSource (Spark 4 API): listing
parity with the connector BFS, dot-dir semantics, the depth bound and
the module's worker imports; and content reads through the ingest's
fetch step."""

from __future__ import annotations

import os

import pytest

from ftp_blueprints_spark.sources.connector import ClientSpec
from ftp_blueprints_spark.sources.listing import list_tree

TREE = {
    "a/x.csv": b"x-data",
    "a/deep/y.csv": b"y-data",
    "b/z.txt": b"z",
    "top.bin": b"\x01\x02",
}


@pytest.fixture()
def tree(tmp_path):
    for rel, data in TREE.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    d = tmp_path / ".."  # not creatable; use a literal dot-dir instead
    d = tmp_path / "..."
    d.mkdir()
    (d / "hidden.csv").write_bytes(b"h")
    return tmp_path


@pytest.fixture()
def registered(spark):
    from ftp_blueprints_spark.sources.datasource import ManifestDataSource

    try:
        spark.dataSource.register(ManifestDataSource)
    except Exception:
        pass  # already registered in this session
    return spark


def test_datasource_matches_list_tree(registered, tree):
    spark = registered
    df = (
        spark.read.format("ftp_manifest")
        .option("kind", "local")
        .option("root", str(tree))
        .load()
    )
    got = {tuple(r) for r in df.collect()}
    want = {tuple(r) for r in list_tree(spark, ClientSpec(kind="local", root=str(tree)), "").collect()}
    assert got == want
    assert not any(r[2] == "..." for r in got)  # dot-dirs skipped


def test_datasource_keeps_dot_dirs_when_asked(registered, tree):
    df = (
        registered.read.format("ftp_manifest")
        .option("kind", "local")
        .option("root", str(tree))
        .option("skip_dot_dirs", "false")
        .load()
    )
    names = {r["name"] for r in df.collect()}
    assert "..." in names and "hidden.csv" in names


def test_fetch_returns_file_content(spark, tree):
    """actions.fetch returns each given file's bytes; joined back onto
    the manifest, files carry their bytes and folders none."""
    from ftp_blueprints_spark.operators.actions import fetch

    spec = ClientSpec(kind="local", root=str(tree))
    mf = list_tree(spark, spec, "")
    df = mf.join(fetch(mf.filter("not is_dir"), spec), "path", "left")
    rows = {r["path"]: r for r in df.collect()}
    assert bytes(rows["a/x.csv"]["content"]) == b"x-data"
    assert bytes(rows["a/deep/y.csv"]["content"]) == b"y-data"
    assert rows["a"]["content"] is None  # dirs carry no bytes


def test_datasource_partitions_per_top_entry(registered, tree):
    """One input partition per root entry -> executor-parallel walk
    (while the entries number at most max_connections, default 16)."""
    df = (
        registered.read.format("ftp_manifest")
        .option("kind", "local")
        .option("root", str(tree))
        .load()
    )
    # a/, b/, top.bin => 3 partitions
    assert df.rdd.getNumPartitions() == 3


def test_datasource_empty_tree(registered, tmp_path):
    """An empty root yields an empty frame (its one empty partition
    emits no rows), not an error."""
    empty = tmp_path / "empty"
    empty.mkdir()
    df = (
        registered.read.format("ftp_manifest")
        .option("kind", "local")
        .option("root", str(empty))
        .load()
    )
    assert df.count() == 0


def test_reader_walk_deeper_than_max_depth_raises(tmp_path, monkeypatch):
    """The executor-side DFS has the same bound as list_tree: driven
    in-process, a tree deeper than MAX_DEPTH raises naming the folder."""
    from ftp_blueprints_spark.errors import BlueprintError
    from ftp_blueprints_spark.sources import connector
    from ftp_blueprints_spark.sources.datasource import ManifestReader

    (tmp_path / "a/b/c").mkdir(parents=True)
    (tmp_path / "a/b/c/f.txt").write_bytes(b"f")
    reader = ManifestReader(None, {"kind": "local", "root": str(tmp_path)})
    (part,) = reader.partitions()
    assert [r[0] for r in reader.read(part)] == ["a", "a/b", "a/b/c", "a/b/c/f.txt"]
    monkeypatch.setattr(connector, "MAX_DEPTH", 2)
    with pytest.raises(BlueprintError, match=r"'a/b'.*MAX_DEPTH=2"):
        list(reader.read(part))


def test_ftp_manifest_has_one_entry_point():
    """datasource.read_manifest is the program's only route into the
    format: no other package module registers or reads it directly."""
    import pathlib
    import re

    import ftp_blueprints_spark

    pkg = pathlib.Path(ftp_blueprints_spark.__file__).parent
    direct = re.compile(r"""format\(\s*["']ftp_manifest["']\s*\)|dataSource\.register""")
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "sources" / "datasource.py" and direct.search(p.read_text())
    ]
    assert offenders == []


def test_datasource_module_imports_neither_listing_nor_pyarrow():
    """Python workers unpickle datasource.py: it imports nothing from
    ``listing`` (not even lazily), and importing it on its own loads
    neither ``listing`` nor pyarrow."""
    import pathlib
    import re
    import subprocess
    import sys

    import ftp_blueprints_spark.sources.datasource as ds

    assert not re.search(r"\blisting\b import|import\b.*\blisting\b",
                         pathlib.Path(ds.__file__).read_text())
    script = (
        "import sys\n"
        "import ftp_blueprints_spark.sources.datasource\n"
        "print(sorted(m for m in ('pyarrow', 'ftp_blueprints_spark.sources.listing')"
        " if m in sys.modules))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert out.stdout.strip() == "[]", out.stderr[-2000:]


def test_walk_partition_function_imports_neither_listing_nor_pyarrow(tmp_path):
    """list_tree's executor walk ships a partition function built from
    ``connector`` alone: unpickled in a fresh interpreter it walks, and
    it loads neither ``listing`` nor pyarrow."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from ftp_blueprints_spark.sources.connector import walker

    (tmp_path / "a" / "b").mkdir(parents=True)
    (tmp_path / "a" / "b" / "f.txt").write_bytes(b"f")
    blob = tmp_path / "walker.pkl"
    blob.write_bytes(cloudpickle.dumps(walker(ClientSpec(kind="local", root=str(tmp_path)), 1, True)))
    script = (
        "import pickle, sys\n"
        f"fn = pickle.loads(open({str(blob)!r}, 'rb').read())\n"
        "print([r[0] for r in fn(['a'])])\n"
        "print(sorted(m for m in ('pyarrow', 'ftp_blueprints_spark.sources.listing')"
        " if m in sys.modules))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, capture_output=True, text=True, timeout=120,
    )
    assert out.stdout.splitlines() == ["['a/b', 'a/b/f.txt']", "[]"], out.stderr[-2000:]


def test_workers_import_package_from_any_cwd(tmp_path):
    """get_spark ships the package's location to Python workers: an
    ingest run from another cwd, with PYTHONPATH unset, still reaches
    its Python workers and lands every row."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    srv = tmp_path / "srv"
    srv.mkdir()
    (srv / "one.csv").write_text("id,name\n1,a\n2,b\n")
    (srv / "two.csv").write_text("id,name\n3,c\n")
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from ftp_blueprints_spark.session import get_spark
from ftp_blueprints_spark.sources.connector import ClientSpec
from ftp_blueprints_spark.sources.ingest import ingest_csv
spark = get_spark("cwd-check", master="local[1]")
n = ingest_csv(spark, ClientSpec(kind="local", root={str(srv)!r}), "",
               "id int, name string", {str(tmp_path / "out")!r})
print("ROWS", n)
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS 3" in out.stdout, out.stderr[-2000:]
