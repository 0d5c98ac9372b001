"""Layer spans recorded from outside the program, and the Spark event-log
parser that turns them into per-layer metrics.

A span times one call into a public function of the program. Each span
runs its Spark jobs under its own job group (``SparkContext.setJobGroup``),
so the event log names the span that caused every job, stage and task.
Spans are kept in memory; the event log is read once, after the session
stops and the log is complete.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time

SPAN_LAYERS = ("sources.listing", "sources.ingest", "operators.manifest", "operators.actions")
SPAN_METRICS = (
    "calls", "busy_s", "self_s", "jobs", "tasks", "executor_run_s", "shuffle_mb",
    "driver_only_s", "parallelism", "straggler_ratio",
)
CLI_LAYER = "cli.blueprints"
CLI_METRICS = ("calls", "busy_s", "self_s")
QUERY_FAMILIES = (
    "plans.relational", "plans.text_queries", "operators.dedup", "operators.similarity",
    "operators.sketches", "operators.multimodal", "streaming.events",
)
FAMILY_METRICS = (
    "build_s", "execute_s", "jobs", "executor_run_s", "shuffle_mb", "driver_only_s",
    "parallelism", "straggler_ratio",
)
CONNECTOR_METRICS = (
    "sessions", "peak_sessions", "data_conns", "cmds_per_file", "bytes_in_mb", "bytes_out_mb",
)
EXTRA_METRICS = (
    "sources.listing.entries", "operators.actions.files_ok", "operators.actions.files_failed",
    "operators.actions.useful_ratio", "operators.manifest.matches", "sources.ingest.rows_per_s",
    "session.get_spark_s", "trace.overhead_s",
)

_UNITS = {
    "calls": "count", "jobs": "count", "tasks": "count", "shuffle_mb": "MB",
    "parallelism": "ratio", "straggler_ratio": "ratio", "sessions": "count",
    "peak_sessions": "count", "data_conns": "count", "cmds_per_file": "cmds/file",
    "bytes_in_mb": "MB", "bytes_out_mb": "MB", "entries": "count", "files_ok": "count",
    "files_failed": "count", "useful_ratio": "ratio", "matches": "count",
    "rows_per_s": "rows/s",
}

MB = 1e6


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    names = [f"{layer}.{m}" for layer in SPAN_LAYERS for m in SPAN_METRICS]
    names += [f"{CLI_LAYER}.{m}" for m in CLI_METRICS]
    names += [f"{fam}.{m}" for fam in QUERY_FAMILIES for m in FAMILY_METRICS]
    names += [f"sources.connector.{m}" for m in CONNECTOR_METRICS]
    names += list(EXTRA_METRICS)
    return [(n, _UNITS.get(n.rsplit(".", 1)[1], "s")) for n in names]


class Tracer:
    """Records spans of the passes it is told to trace.

    ``span`` is a no-op while no traced pass is open, so the same
    workload code runs traced and untraced."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.pass_no: int | None = None

    @contextlib.contextmanager
    def traced_pass(self, pass_no: int):
        self.pass_no = pass_no
        try:
            yield
        finally:
            self.pass_no = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, kind: str = ""):
        if self.pass_no is None:
            yield None
            return
        rec = {
            "id": len(self.spans), "layer": layer, "name": name, "kind": kind,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "pass": self.pass_no, "group": f"perfbench-{len(self.spans)}",
            "start": time.time(), "end": None, "result": None,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(rec["group"], f"{layer} {name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["layer"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, layer: str, fn):
        """``fn`` with every call recorded as a ``layer`` span whose
        ``result`` is the call's return value."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__) as rec:
                out = fn(*args, **kwargs)
                if rec is not None:
                    rec["result"] = out
                return out

        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Replace each ``(module, attribute, layer)`` with a traced
        wrapper for the duration of the block."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
        for (mod, attr, layer), (_, _, fn) in zip(targets, saved):
            setattr(mod, attr, self.wrap(layer, fn))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from one uncompressed, non-rolling event log.

    Returns ``{"jobs": {id: {"group", "start", "end"}}, "stages": {id:
    {"group", "job", "tasks": [(duration_ms, run_ms, shuffle_bytes)]}}}``;
    times are epoch seconds. A stage belongs to the job that ran it: the
    last job started before the stage was submitted that lists it."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {"group": None, "job": None, "submitted": 0.0, "tasks": []})

    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000, "end": None,
                    "stage_ids": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stage(info["Stage ID"])
                st["group"] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                st["submitted"] = (info.get("Submission Time") or 0) / 1000
            elif kind == "SparkListenerTaskEnd":
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                rd = tm.get("Shuffle Read Metrics") or {}
                wr = tm.get("Shuffle Write Metrics") or {}
                shuffle = (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                           + wr.get("Shuffle Bytes Written", 0))
                stage(ev["Stage ID"])["tasks"].append(
                    (info["Finish Time"] - info["Launch Time"], tm.get("Executor Run Time", 0), shuffle)
                )
    for jid in sorted(jobs, key=lambda j: jobs[j]["start"]):
        for sid in jobs[jid]["stage_ids"]:
            st = stages.get(sid)
            if st is not None and jobs[jid]["start"] <= st["submitted"] + 1e-3:
                st["job"] = jid
    return {"jobs": jobs, "stages": stages}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _clip(intervals, a: float, b: float) -> list[tuple[float, float]]:
    return [(max(x, a), min(y, b)) for x, y in intervals if min(y, b) > max(x, a)]


def spark_work(spans: list[dict], log: dict, cores: int) -> dict:
    """Spark-side totals of a set of spans: jobs, tasks, executor run
    time, shuffle bytes, time with no job running, parallelism and the
    straggler ratio."""
    groups = {s["group"] for s in spans}
    jobs = [j for j in log["jobs"].values() if j["group"] in groups]
    stages = [st for st in log["stages"].values() if st["group"] in groups]
    tasks = [t for st in stages for t in st["tasks"]]
    run_s = sum(t[1] for t in tasks) / 1000
    covered = driver_only = 0.0
    for s in spans:
        ivs = _clip([(j["start"], j["end"] or s["end"]) for j in jobs if j["group"] == s["group"]],
                    s["start"], s["end"])
        u = _union(ivs)
        covered += u
        driver_only += (s["end"] - s["start"]) - u
    # straggler ratio per stage (slowest task / median task), weighted by
    # the stage's executor run time so tiny stages do not dominate
    weighted = weight = 0.0
    for st in stages:
        durs = [t[0] for t in st["tasks"]]
        med = statistics.median(durs) if durs else 0
        if med > 0:
            w = sum(t[1] for t in st["tasks"]) or 1
            weighted += w * max(durs) / med
            weight += w
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "executor_run_s": run_s,
        "shuffle_mb": sum(t[2] for t in tasks) / MB,
        "driver_only_s": max(0.0, driver_only),
        "parallelism": run_s / (covered * cores) if covered > 0 else 0.0,
        "straggler_ratio": weighted / weight if weight else 0.0,
    }


def connector_in(conn: dict, start: float, end: float) -> dict:
    """Server sessions opened, peak concurrent sessions and data
    connections within [start, end], from the server's event times."""
    delta = {"open": 1, "close": -1}
    events = sorted(map(tuple, conn.get("events", [])))
    active = conn.get("active_at_reset", 0) + sum(delta.get(k, 0) for t, k in events if t < start)
    inside = [k for t, k in events if start <= t <= end]
    peak = active
    for k in inside:
        active += delta.get(k, 0)
        peak = max(peak, active)
    return {"sessions": inside.count("open"), "peak_sessions": peak,
            "data_conns": inside.count("data")}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def layer_metrics(spans: list[dict], log: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics of ONE traced pass (the spans of that pass)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)

    def self_time(s: dict) -> float:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        return _dur(s) - _union(_clip(kids, s["start"], s["end"]))

    out: dict[str, float] = {}
    for layer in SPAN_LAYERS:
        ss = [s for s in spans if s["layer"] == layer]
        out[f"{layer}.calls"] = len(ss)
        out[f"{layer}.busy_s"] = sum(map(_dur, ss))
        out[f"{layer}.self_s"] = sum(map(self_time, ss))
        for k, v in spark_work(ss, log, cores).items():
            out[f"{layer}.{k}"] = v
    cli = [s for s in spans if s["layer"] == CLI_LAYER]
    out[f"{CLI_LAYER}.calls"] = len(cli)
    out[f"{CLI_LAYER}.busy_s"] = sum(map(_dur, cli))
    out[f"{CLI_LAYER}.self_s"] = sum(map(self_time, cli))
    for fam in QUERY_FAMILIES:
        ss = [s for s in spans if s["layer"] == fam]
        out[f"{fam}.build_s"] = sum(_dur(s) for s in ss if s["kind"] == "build")
        out[f"{fam}.execute_s"] = sum(_dur(s) for s in ss if s["kind"] == "execute")
        work = spark_work(ss, log, cores)
        for m in FAMILY_METRICS[2:]:
            out[f"{fam}.{m}"] = work[m]
    return out
