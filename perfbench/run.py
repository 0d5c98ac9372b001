"""Benchmark of the FTP blueprints engine: one named workload per run.

    python3 perfbench/run.py --workload ftp_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. A run generates its inputs from ``--seed``
under ``perfbench/.work/``, sets the program up, runs one cold pass and
then warm passes for ``--seconds`` seconds, checks every output, and
prints a summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` writes a
Spark event log, interleaves traced and untraced warm passes, and reports
the per-layer metrics of the traced passes (``spans.py``) plus the
tracing overhead. Metric definitions are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

import spans  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402

END_TO_END = (
    ("setup_s", "s"), ("cold_run_s", "s"), ("run_s", "s"), ("files_per_s", "files/s"),
    ("mb_per_s", "MB/s"),
)


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def env_marker() -> dict:
    """Machine contention before our own JVM starts: 1-minute load
    average and the number of JVMs already running."""
    jvms = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    jvms += fh.read().strip() == "java"
            except OSError:
                continue
    return {"load_avg_1m": round(os.getloadavg()[0], 2), "sibling_jvms": jvms}


def configure_env(work: str, cores: int, event_log: str | None) -> None:
    """Environment the JVM and Spark's Python workers inherit: scratch
    space inside the work dir, the package on PYTHONPATH so workers
    import it from any cwd, and ``cores`` local cores."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cores),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
    })
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    conf = ["--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_log}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def set_up(modules: tuple[str, ...]):
    """The program's set-up: import, session, DataSource registration."""
    t0 = time.perf_counter()
    for m in modules:
        importlib.import_module(m)
    from ftp_blueprints_spark.session import get_spark
    from ftp_blueprints_spark.sources.datasource import ManifestDataSource

    t1 = time.perf_counter()
    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    spark.dataSource.register(ManifestDataSource)
    return spark, {"setup_s": time.perf_counter() - t0, "get_spark_s": t2 - t1}


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb() -> float:
    """VmHWM of this process plus every JVM descended from it."""
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))

    def hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                return next((int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")), 0)
        except OSError:
            return 0

    total, todo = hwm_kb(os.getpid()), list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    total += hwm_kb(pid)
        except OSError:
            pass
        todo += children.get(pid, [])
    return total / 1024


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


class Run:
    def __init__(self, args):
        self.args = args
        # half the CPUs: the Spark driver, its Python workers and the FTP server
        # need the rest, and fully loaded CPUs make every timing noisier
        self.cores = max(1, len(os.sched_getaffinity(0)) // 2)
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.event_log = os.path.join(self.work, "eventlog") if args.trace else None
        self.wl = WORKLOADS[args.workload](os.path.join(self.work, "in"), args.seed, self.cores)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.info: dict = {"env": env_marker(), "cpus": len(os.sched_getaffinity(0)),
                           "cores": self.cores}

    def account(self, ops: list[Op]) -> float:
        self.attempted += len(ops)
        for op in ops:
            if op.error:
                self.failed += 1
                self.errors.append(f"{op.name}: {op.error}")
        return sum(op.seconds for op in ops)

    def execute(self) -> dict:
        a = self.args
        configure_env(self.work, self.cores, self.event_log)
        ticks = cpu_ticks()
        try:
            t = time.perf_counter()
            self.info["inputs"] = self.wl.prepare()
            self.info["gen_s"] = time.perf_counter() - t
            spark, self.setup = set_up(self.wl.modules)
            try:
                tracer = spans.Tracer(spark.sparkContext)
                self.info["default_parallelism"] = spark.sparkContext.defaultParallelism
                self.passes(spark, tracer)
                self.files, self.bytes = self.wl.work_per_pass()
                self.info["peak_rss_mb"] = round(peak_rss_mb(), 1)
                self.info["steal"] = round(steal_share(ticks, cpu_ticks()), 4)
            finally:
                stop_spark(spark)
        finally:
            self.wl.close()
        return self.trace_metrics(tracer) if a.trace else self.end_to_end()

    def passes(self, spark, tracer) -> None:
        """The cold pass, then warm passes for ``--seconds`` (at least one).
        Traced runs repeat untraced, traced, untraced warm passes, so the
        warm-up still going on across passes cancels out of the
        traced-minus-untraced overhead."""
        a = self.args
        self.cold_ops = self.wl.run_pass(spark, tracer, cold=True)
        self.cold = self.account(self.cold_ops)
        self.warm, self.traced, self.traced_ops = [], [], []
        order = (False, True, False) if a.trace else (False,)
        deadline = time.perf_counter() + a.seconds
        i = 0
        while time.perf_counter() < deadline or i % len(order) or not i:
            traced = order[i % len(order)]
            i += 1
            if traced:
                with tracer.traced_pass(i), tracer.patched(self.wl.trace_targets()):
                    ops = self.wl.run_pass(spark, tracer)
                self.traced.append(self.account(ops))
                self.traced_ops.append((i, ops))
                self._count_listings(tracer, i)
            else:
                self.last_ops = self.wl.run_pass(spark, tracer)
                self.warm.append(self.account(self.last_ops))

    def _count_listings(self, tracer, pass_no: int) -> None:
        """Untimed: manifest entries each traced listing returned."""
        for s in tracer.spans:
            if s["pass"] == pass_no and s["layer"] == "sources.listing" and s["result"] is not None:
                s["result"] = s["result"].count()

    def end_to_end(self) -> dict:
        run_s = statistics.median(self.warm)
        return {
            "setup_s": self.setup["setup_s"],
            "cold_run_s": self.cold,
            "run_s": run_s,
            "files_per_s": self.files / run_s,
            "mb_per_s": self.bytes / 1e6 / run_s,
        }

    def trace_metrics(self, tracer) -> dict:
        log = spans.read_event_log(self.event_log)
        cores = self.info["default_parallelism"]
        per_pass = []
        for pass_no, ops in self.traced_ops:
            ss = [s for s in tracer.spans if s["pass"] == pass_no]
            m = spans.layer_metrics(ss, log, cores)
            m.update(self._extras(ss, ops))
            per_pass.append(m)
        out = {name: statistics.median(p[name] for p in per_pass) for name, _ in spans.per_layer_names()
               if name not in ("session.get_spark_s", "trace.overhead_s")}
        out["session.get_spark_s"] = self.setup["get_spark_s"]
        out["trace.overhead_s"] = statistics.median(self.traced) - statistics.median(self.warm)
        self.info["calls"] = self._call_breakdown(tracer, log, cores)
        return out

    def _extras(self, ss: list[dict], ops: list[Op]) -> dict:
        def results(layer):
            return [s["result"] for s in ss if s["layer"] == layer and s["result"] is not None]

        acts = results("operators.actions")
        ok = sum(r.get("ok", 0) for r in acts)
        bad = sum(r.get("failed", 0) + r.get("skipped", 0) for r in acts)
        ingest_busy = sum(s["end"] - s["start"] for s in ss if s["layer"] == "sources.ingest")
        conn = [op.connector for op in ops if op.connector]
        files = self.wl.work_per_pass()[0]
        return {
            "sources.listing.entries": sum(results("sources.listing")),
            "operators.actions.files_ok": ok,
            "operators.actions.files_failed": bad,
            "operators.actions.useful_ratio": ok / (ok + bad) if ok + bad else 0.0,
            "operators.manifest.matches": ok + bad,
            "sources.ingest.rows_per_s": sum(results("sources.ingest")) / ingest_busy
            if ingest_busy else 0.0,
            "sources.connector.sessions": sum(c["sessions"] for c in conn),
            "sources.connector.peak_sessions": max((c["peak_sessions"] for c in conn), default=0),
            "sources.connector.data_conns": sum(c["data_conns"] for c in conn),
            "sources.connector.cmds_per_file": sum(c["commands"] for c in conn) / files
            if conn else 0.0,
            "sources.connector.bytes_in_mb": sum(c["bytes_in"] for c in conn) / spans.MB,
            "sources.connector.bytes_out_mb": sum(c["bytes_out"] for c in conn) / spans.MB,
        }

    def _call_breakdown(self, tracer, log, cores) -> list[dict]:
        """Per operation of the last traced pass and per layer inside it:
        calls, tasks of each Spark job, and the server sessions opened,
        peak concurrent sessions and data connections in its spans."""
        pass_no, ops = self.traced_ops[-1]
        ss = [s for s in tracer.spans if s["pass"] == pass_no]
        # an operation's top-level spans are consecutive and carry its name
        tops = itertools.groupby((s for s in ss if s["parent"] is None), key=lambda s: s["name"])
        rows = []
        for (_, group), op in zip(tops, ops):
            ids = {s["id"] for s in group}
            row = {"op": op.name, "s": round(op.seconds, 3)}
            for layer in spans.SPAN_LAYERS + spans.QUERY_FAMILIES:
                kids = [s for s in ss if s["layer"] == layer and (s["id"] in ids or s["parent"] in ids)]
                if not kids:
                    continue
                groups = {k["group"] for k in kids}
                jobs = sorted(j for j, v in log["jobs"].items() if v["group"] in groups)
                cell = {"calls": len(kids),
                        "busy_s": round(sum(k["end"] - k["start"] for k in kids), 3),
                        "tasks_per_job": [sum(len(st["tasks"]) for st in log["stages"].values()
                                              if st["job"] == j) for j in jobs]}
                if op.connector:
                    per = [spans.connector_in(op.connector, k["start"], k["end"]) for k in kids]
                    cell["connector"] = {
                        "sessions": sum(p["sessions"] for p in per),
                        "peak_sessions": max(p["peak_sessions"] for p in per),
                        "data_conns": sum(p["data_conns"] for p in per)}
                row[layer] = cell
            rows.append(row)
        return rows

    def report(self, metrics: dict) -> dict:
        units = dict(END_TO_END) if not self.args.trace else dict(spans.per_layer_names())
        print(f"# workload={self.args.workload} seed={self.args.seed} trace={self.args.trace} "
              f"info={json.dumps(self.info, default=str)}")
        if self.args.trace:
            print(f"# traced passes={[round(x, 3) for x in self.traced]} "
                  f"untraced passes={[round(x, 3) for x in self.warm]}")
        else:
            q1, med, q3 = quartiles(self.warm)
            print(f"# run_s median={med:.4f} q1={q1:.4f} q3={q3:.4f} n={len(self.warm)} "
                  f"passes={[round(x, 3) for x in self.warm]}")
            for label, ops in (("cold", self.cold_ops), ("last warm", self.last_ops)):
                print(f"# ops of the {label} pass: "
                      + ", ".join(f"{op.name}={op.seconds:.3f}s" for op in ops))
        print(f"# failed_ops={self.failed / self.attempted:.4f} ratio "
              f"({self.failed} of {self.attempted})")
        for e in self.errors[:10]:
            print(f"# error: {e}")
        for name, v in metrics.items():
            print(f"# {name} = {v:.6g} {units[name]}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "ftp_blueprints_spark")):
        print(f"no ftp_blueprints_spark package beside {HERE}", file=sys.stderr)
        return 2
    run = Run(args)
    try:
        metrics = run.execute()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    result = run.report(metrics)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
