"""The two workloads: what one pass does and how its outputs are checked.

Every workload is a closed loop with one client: the benchmark issues
each operation after the previous one returns. An operation is timed on
its own; the output checks and the untimed restore run between
operations, so a pass's time is the sum of its operations' times.

- ``ftp_pipeline``: the FTP control plane and data plane. A deep tree of
  small files, where per-entry and per-folder round trips, per-level
  listing jobs, the numbering pass and per-file control commands
  dominate; then a flat folder of CSVs, where bytes through the action
  sinks and the DataSource/CSV/parquet ingest path dominate.
- ``query_mix``: the query engine, no FTP. Registered analytics and
  LLM-data-prep queries written to the noop sink; the cold pass collects
  each result and checks it against the query's DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import datetime
import io
import json
import math
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
REMOTE_DEST_FOLDERS = ("staging", "archive", "bulk_out")
FTP_USER, FTP_PASSWORD = "bench", "bench-pw"


@dataclass
class Op:
    """One timed operation of a pass."""

    name: str
    seconds: float
    error: str | None = None
    connector: dict = field(default_factory=dict)  # server counts during the op

    def fail(self, why: str) -> None:
        self.error = self.error or why


class FtpServer:
    """The counting FTP server (ftpserver.py) in its own process."""

    def __init__(self, root: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "ftpserver.py"), root, FTP_USER, FTP_PASSWORD],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"FTP server did not start: {line!r}")
        self.port = int(line.split()[1])

    def _ask(self, cmd: str) -> str:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.proc.stdout.readline()

    def reset(self) -> None:
        self._ask("reset")

    def stats(self) -> dict:
        return json.loads(self._ask("stats"))

    def close(self) -> None:
        with contextlib.suppress(OSError, ValueError):
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def tree_files(root: str) -> dict[str, str]:
    """{relpath: sha256} of every regular file under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            out[os.path.relpath(p, root)] = gen.sha256(p)
    return out


class Workload:
    name = ""
    modules: tuple[str, ...] = ()  # program modules imported during set-up

    def __init__(self, work: str, seed: int, cores: int):
        self.work, self.seed, self.cores = work, seed, cores
        self.server: FtpServer | None = None

    def prepare(self) -> dict:
        """Generate the inputs (and start the server); returns their sizes."""
        raise NotImplementedError

    def trace_targets(self) -> list[tuple[object, str, str]]:
        """(module, function name, layer) of the public functions the
        workload's calls go through, wrapped as spans in traced passes."""
        return []

    def run_pass(self, spark, tracer, cold: bool = False) -> list[Op]:
        """One pass; ``cold`` marks the first pass of the process."""
        raise NotImplementedError

    def work_per_pass(self) -> tuple[int, int]:
        """(files acted on or read, bytes transferred or read) by one pass."""
        raise NotImplementedError

    def close(self) -> None:
        if self.server is not None:
            self.server.close()
            self.server = None


class FtpPipeline(Workload):
    """The blueprints' file pipeline over FTP, control plane then data plane.

    The server holds ``data/``, a four-level tree of small files, and
    ``bulk/``, one flat folder of CSVs. A pass runs, through the CLI
    mains: a basename-regex download of the tree's CSVs with numbered
    destination names, an upload of them into ``staging/`` (full-path
    regex, keeping names), a move ``staging/`` -> ``archive/`` and a
    delete of ``archive/``; then a download of ``bulk/`` keeping names,
    an upload of it into ``bulk_out/``, and ``ingest_csv`` of ``bulk/``
    into parquet. Everything the pass creates is removed, untimed,
    before the next pass.

    The remote destination folders (``staging/``, ``archive/``,
    ``bulk_out/``) exist, empty, before every pass. ``FTPClient.makedirs``
    fails when two sink partitions create the same missing folder at once
    (see perfbench/README.md), so a pass that had them created by the
    sinks would fail at random; the pass measures the transfers into
    existing folders instead."""

    name = "ftp_pipeline"
    modules = ("ftp_blueprints_spark.cli.blueprints", "ftp_blueprints_spark.sources.ingest")

    def prepare(self) -> dict:
        self.srv_root = os.path.join(self.work, "server")
        self.local = os.path.join(self.work, "local")
        self.ingest_dest = os.path.join(self.work, "ingested")
        tree = gen.make_tree(self.srv_root, self.seed)
        self.bulk = gen.make_bulk(self.srv_root, self.seed)
        self.seed_files = tree_files(self.srv_root)
        # the numbered download names the i-th match in path order report_i.csv
        self.numbered = {
            f"report_{i}.csv": self.seed_files[p] for i, p in enumerate(tree["matches"], start=1)
        }
        self.match_bytes = sum(
            os.path.getsize(os.path.join(self.srv_root, p)) for p in tree["matches"])
        self.bulk_files = {os.path.basename(k): v for k, v in self.bulk["files"].items()}
        self._restore()
        self.server = FtpServer(self.srv_root)
        self.common = [
            "--kind", "ftp", "--host", "127.0.0.1", "--port", str(self.server.port),
            "--username", FTP_USER, "--password", FTP_PASSWORD,
            "--max-connections", str(self.cores),
        ]
        return {
            "tree_files": len(tree["files"]), "tree_entries": tree["entries"],
            "tree_depth": gen.TREE_DEPTH, "tree_matches": len(self.numbered),
            "tree_mb": sum(os.path.getsize(os.path.join(self.srv_root, p))
                           for p in tree["files"]) / 1e6,
            "bulk_files": len(self.bulk_files), "bulk_rows": self.bulk["rows"],
            "bulk_mb": self.bulk["bytes"] / 1e6,
        }

    def trace_targets(self):
        from ftp_blueprints_spark.cli import blueprints
        from ftp_blueprints_spark.operators import actions

        return [
            (blueprints, "list_tree", "sources.listing"),
            (blueprints, "match_files", "operators.manifest"),
            (blueprints, "require_matches", "operators.manifest"),
            (blueprints, "with_destination", "operators.manifest"),
            (actions, "download", "operators.actions"),
            (actions, "upload", "operators.actions"),
            (actions, "move", "operators.actions"),
            (actions, "delete", "operators.actions"),
        ]

    def run_pass(self, spark, tracer, cold: bool = False) -> list[Op]:
        from ftp_blueprints_spark.sources import ingest
        from ftp_blueprints_spark.sources.connector import ClientSpec

        srv, regex = self.srv_root, ["--source-file-name-match-type", "regex_match"]
        ops = []

        def cli(name: str, argv: list[str]) -> Op:
            from ftp_blueprints_spark.cli import blueprints

            main = getattr(blueprints, f"{name}_main")
            op = self._timed(tracer, "cli.blueprints", name, lambda: main(self.common + argv))[0]
            ops.append(op)
            return op

        op = cli("download", ["--source-folder-name", "data", "--source-file-name", gen.TREE_MATCH,
                              *regex, "--destination-root", self.local,
                              "--destination-folder-name", "dl",
                              "--destination-file-name", "report.csv"])
        self._check_files(op, os.path.join(self.local, "dl"), self.numbered)
        op = cli("upload", ["--root", self.local, "--source-folder-name", "dl",
                            "--source-file-name", "^dl/", *regex,
                            "--destination-folder-name", "staging"])
        self._check_files(op, os.path.join(srv, "staging"), self.numbered)
        op = cli("move", ["--source-folder-name", "staging", "--source-file-name", "^staging/",
                          *regex, "--destination-folder-name", "archive"])
        self._check_files(op, os.path.join(srv, "staging"), {})
        self._check_files(op, os.path.join(srv, "archive"), self.numbered)
        op = cli("delete", ["--source-folder-name", "archive", "--source-file-name", r"\.csv$",
                            *regex])
        self._check_files(op, os.path.join(srv, "archive"), {})

        op = cli("download", ["--source-folder-name", "bulk", "--source-file-name", r"\.csv$",
                              *regex, "--destination-root", self.local,
                              "--destination-folder-name", "bulk_dl"])
        self._check_files(op, os.path.join(self.local, "bulk_dl"), self.bulk_files)
        op = cli("upload", ["--root", self.local, "--source-folder-name", "bulk_dl",
                            "--source-file-name", "^bulk_dl/", *regex,
                            "--destination-folder-name", "bulk_out"])
        self._check_files(op, os.path.join(srv, "bulk_out"), self.bulk_files)
        spec = ClientSpec(kind="ftp", host="127.0.0.1", port=self.server.port, username=FTP_USER,
                          password=FTP_PASSWORD, max_connections=self.cores)
        op, rows = self._timed(tracer, "sources.ingest", "ingest_csv", lambda: ingest.ingest_csv(
            spark, spec, "bulk", gen.BULK_SCHEMA, self.ingest_dest, pattern=r"\.csv$",
        ))
        self._check_ingest(op, rows)
        # the seed tree is untouched; the pass added only bulk_out/
        self._check_files(op, srv, {**self.seed_files, **{
            f"bulk_out/{k}": v for k, v in self.bulk_files.items()}})
        ops.append(op)
        self._restore()
        return ops

    def work_per_pass(self) -> tuple[int, int]:
        # each tree match is downloaded, uploaded, moved and deleted, each
        # bulk file downloaded, uploaded and ingested; bytes cross the data
        # channel on every download, upload and ingest
        return (4 * len(self.numbered) + 3 * len(self.bulk_files),
                2 * self.match_bytes + 3 * self.bulk["bytes"])

    def _timed(self, tracer, layer: str, name: str, fn) -> tuple[Op, object]:
        """Run ``fn`` as one operation inside a ``layer`` span."""
        self.server.reset()
        out, err = None, None
        buf = io.StringIO()
        t0 = time.perf_counter()
        try:
            with tracer.span(layer, name) as rec, contextlib.redirect_stdout(buf):
                out = fn()
                if rec is not None:
                    rec["result"] = out
        except Exception as e:  # an operation that raises is a failed operation
            err = f"{type(e).__name__}: {str(e)[:300]}"
        op = Op(name, time.perf_counter() - t0, err, connector=self.server.stats())
        if layer == "cli.blueprints" and err is None and out != 0:
            op.fail(f"exit code {out}: {buf.getvalue().strip()[-300:]}")
        return op, out

    def _check_files(self, op: Op, folder: str, want: dict[str, str]) -> None:
        """``folder`` holds exactly the files of ``want`` ({relpath: sha256})."""
        got = tree_files(folder) if os.path.isdir(folder) else {}
        if got != want:
            missing = sorted(set(want) - set(got))[:3]
            extra = sorted(set(got) - set(want))[:3]
            bad = sorted(k for k in set(got) & set(want) if got[k] != want[k])[:3]
            op.fail(f"{os.path.relpath(folder, self.work)}: missing {missing} "
                    f"extra {extra} content differs {bad}")

    def _check_ingest(self, op: Op, rows) -> None:
        if op.error is not None:
            return
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        t = ds.dataset(self.ingest_dest, format="parquet").to_table(columns=["id", "k"])
        got = (rows, t.num_rows, pc.sum(t["k"]).as_py(), pc.sum(t["id"]).as_py())
        want = (self.bulk["rows"],) * 2 + (self.bulk["sum_k"], self.bulk["sum_id"])
        if got != want:
            op.fail(f"ingest (returned rows, rows, sum k, sum id) {got} != {want}")

    def _restore(self) -> None:
        """Untimed: remove everything a pass created and leave the remote
        destination folders empty."""
        for name in os.listdir(self.srv_root):
            if name not in ("data", "bulk"):
                shutil.rmtree(os.path.join(self.srv_root, name))
        for name in REMOTE_DEST_FOLDERS:
            os.makedirs(os.path.join(self.srv_root, name))
        for path in (self.local, self.ingest_dest):
            shutil.rmtree(path, ignore_errors=True)
        os.makedirs(self.local)


# One query per registering module: scan/aggregate, near-duplicate
# detection (MinHash LSH), IVF top-k, corpus prep, event TTL dedup,
# count-min heavy hitters and perceptual-hash near-duplicates.
QUERY_MIX = (
    "q01_pricing_summary", "dd_minhash_lsh", "sim_ivf_topk", "tx_corpus_prep",
    "ev_ttl_dedup", "sk_cms_heavy_hitters", "mm_phash_neardup",
)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class QueryMix(Workload):
    name = "query_mix"
    modules = (
        "ftp_blueprints_spark.plans.relational", "ftp_blueprints_spark.plans.text_queries",
        "ftp_blueprints_spark.operators.dedup", "ftp_blueprints_spark.operators.similarity",
        "ftp_blueprints_spark.operators.sketches", "ftp_blueprints_spark.operators.multimodal",
        "ftp_blueprints_spark.streaming.events",
    )

    def prepare(self) -> dict:
        self.tables = os.path.join(self.work, "tables")
        sizes = gen.make_tables(self.tables, self.seed)
        self.inputs: dict[str, set[str]] = {}
        return {"rows": sum(r for r, _ in sizes.values()),
                "mb": sum(b for _, b in sizes.values()) / 1e6, "queries": len(QUERY_MIX)}

    def _query(self, name: str):
        from ftp_blueprints_spark.plans.registry import QUERIES

        return QUERIES[name]

    def family(self, name: str) -> str:
        return self._query(name).__module__.removeprefix("ftp_blueprints_spark.")

    def run_pass(self, spark, tracer, cold: bool = False) -> list[Op]:
        """Build each query and write it to the noop sink. The cold pass
        collects each result instead and checks it against the query's
        DuckDB oracle between queries, untimed: the first-pass costs
        (codegen, Python workers, index builds) are the same, and the
        checked results come without a second pass."""
        ops = []
        for name in QUERY_MIX:
            fn, fam = self._query(name), self.family(name)
            t0 = time.perf_counter()
            err = got = None
            try:
                with tracer.span(fam, name, kind="build"):
                    df = fn(spark, self.tables)
                with tracer.span(fam, name, kind="execute"):
                    if cold:
                        got = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                err = f"{type(e).__name__}: {str(e)[:300]}"
            op = Op(name, time.perf_counter() - t0, err)
            if cold and err is None:
                self._check(op, name, df, got)
            ops.append(op)
        return ops

    def _check(self, op: Op, name: str, df, got) -> None:
        """The result equals the query's ``oracle_sql`` result under
        DuckDB; also records the table files the plan reads."""
        import duckdb

        from ftp_blueprints_spark.plans.registry import ORACLES

        self.inputs[name] = {
            os.path.basename(f) for f in df.inputFiles()
            if os.path.exists(os.path.join(self.tables, os.path.basename(f)))}
        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(self.tables, t)}.parquet')")
            diff = compare_frames(got, con.execute(ORACLES[name]).fetchdf())
        if diff:
            op.fail(f"oracle mismatch: {diff}")

    def work_per_pass(self) -> tuple[int, int]:
        # table files each query's plan scans (DataFrame.inputFiles)
        return sum(len(f) for f in self.inputs.values()), sum(
            os.path.getsize(os.path.join(self.tables, f)) for fs in self.inputs.values() for f in fs)


def _canon(x) -> str:
    """Cell canonical form. 3.0 and 3 stay distinct: the engine's result
    types must match the oracle's, not only its values."""
    import numpy as np

    if x is None:
        return "NULL"
    if isinstance(x, np.generic):
        x = x.item()
    if isinstance(x, float):
        return "NULL" if math.isnan(x) else repr(x)
    if isinstance(x, (datetime.datetime, datetime.date)):
        return x.isoformat()
    if isinstance(x, np.ndarray):
        x = x.tolist()
    if isinstance(x, list):
        return "[" + ",".join(map(_canon, x)) + "]"
    if x != x:  # pandas NaT / NA
        return "NULL"
    return repr(x)


def compare_frames(got, want) -> str:
    """'' when both frames hold the same rows in any order, else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    a = sorted(tuple(_canon(v) for v in row) for row in got[cols].itertuples(index=False))
    b = sorted(tuple(_canon(v) for v in row) for row in want[cols].itertuples(index=False))
    if a != b:
        return f"values differ, first: {[(x, y) for x, y in zip(a, b) if x != y][:2]}"
    return ""


WORKLOADS = {w.name: w for w in (FtpPipeline, QueryMix)}
