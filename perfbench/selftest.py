"""Self-test of the span recorder and the event-log parser.

    python3 perfbench/selftest.py

Runs a tiny traced pass on a local Spark session with an event log: a
``cli.blueprints`` span holding a ``sources.listing`` span that runs two
jobs and an ``operators.manifest`` span that runs one job and then waits
on the driver. It asserts the job count per span, ``driver_only_s >= 0``
(and at least the driver-side wait), ``self_s <= busy_s``, and the
server-event attribution of ``connector_in``. Exits 0 and prints ``ok``
when every assertion holds.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import spans
from run import HERE, configure_env, stop_spark

WAIT_S = 0.3


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest failed: {what}")


def main() -> int:
    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    log_dir = os.path.join(work, "eventlog")
    configure_env(work, 2, log_dir)
    try:
        from ftp_blueprints_spark.session import get_spark

        spark = get_spark("perfbench-selftest")
        sc = spark.sparkContext
        tracer = spans.Tracer(sc)
        # RDD actions run exactly one job each (DataFrame actions may run
        # one per adaptive stage)
        sc.parallelize(range(10)).count()  # outside any traced pass: no span
        with tracer.traced_pass(1):
            with tracer.span("cli.blueprints", "main"):
                with tracer.span("sources.listing", "two_jobs"):
                    sc.parallelize(range(100), 2).count()
                    sc.parallelize(range(100), 2).sum()
                with tracer.span("operators.manifest", "one_job_then_wait"):
                    sc.parallelize(range(10), 3).count()
                    time.sleep(WAIT_S)
        stop_spark(spark)
        m = spans.layer_metrics(tracer.spans, spans.read_event_log(log_dir), cores=2)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    check(m["sources.listing.jobs"] == 2, f"listing jobs {m['sources.listing.jobs']} != 2")
    check(m["operators.manifest.jobs"] == 1, f"manifest jobs {m['operators.manifest.jobs']} != 1")
    check(m["operators.manifest.tasks"] == 3, f"manifest tasks {m['operators.manifest.tasks']} != 3")
    check(m["sources.listing.tasks"] == 4, f"listing tasks {m['sources.listing.tasks']} != 4")
    for layer in ("sources.listing", "operators.manifest"):
        check(m[f"{layer}.driver_only_s"] >= 0, f"{layer} driver_only_s < 0")
        check(m[f"{layer}.self_s"] <= m[f"{layer}.busy_s"], f"{layer} self_s > busy_s")
        check(m[f"{layer}.executor_run_s"] >= 0, f"{layer} executor_run_s < 0")
    check(m["operators.manifest.driver_only_s"] >= WAIT_S, "driver-side wait not counted")
    check(m["cli.blueprints.calls"] == 1, "cli calls != 1")
    check(0 <= m["cli.blueprints.self_s"] < m["cli.blueprints.busy_s"], "cli self_s not below busy_s")
    check(m["cli.blueprints.busy_s"] >= m["sources.listing.busy_s"] + m["operators.manifest.busy_s"],
          "parent span shorter than its children")

    conn = {"active_at_reset": 1, "events": [
        (1.0, "open"), (1.5, "data"), (2.0, "open"), (2.5, "data"), (3.0, "close"), (4.0, "open"),
    ]}
    got = spans.connector_in(conn, 1.8, 3.5)
    check(got == {"sessions": 1, "peak_sessions": 3, "data_conns": 1}, f"connector_in {got}")
    check(spans._union([(0, 2), (1, 3), (5, 6)]) == 4, "interval union")
    print("ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
