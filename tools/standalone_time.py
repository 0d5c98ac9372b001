"""Fresh-JVM standalone timing for one or more bench queries.

Budgets in bench.BUDGETS model a query's own plan cost, but an in-suite
run warms shared subtrees (the dd_incremental-after-dd_quality_keeper
trap: 0.9 s in-suite vs ~3.3 s fresh).  This script reproduces bench's
exact session config and timing protocol (untimed q01 warmup, explicit
GC, warm = min of two runs) but in a JVM that has executed NOTHING else,
so the number is the one budgets should be derived from.

Usage:  python tools/standalone_time.py <query> [<query> ...]
        (each query still shares this one JVM with the ones before it —
        for a strict per-query fresh JVM, invoke once per query)
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: standalone_time.py <query> [...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from ftp_blueprints_spark.session import get_spark

    spark = get_spark(
        "standalone-time", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    import bench

    qs = entry_mod.queries()
    work = None
    run_counter = [0]
    if any(n in bench.PIPELINES for n in names):
        # side-effectful pipeline benches need the same untimed setup
        # (CSV tree + DataSource session warm) the bench gives them
        import tempfile

        work = tempfile.mkdtemp(prefix="standalone_pipe_")
        bench._setup_pipelines(spark, sf_dir, work)

    def run(name: str) -> float:
        run_counter[0] += 1
        t0 = time.perf_counter()
        if name in bench.PIPELINES:
            bench.PIPELINES[name](spark, sf_dir, work, run_counter[0])
        else:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run("q01_pricing_summary")  # untimed warmup, same as bench
    out = {}
    for name in names:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        first = run(name)
        out[name] = {"first": round(first, 3), "warm": round(min(first, run(name)), 3)}
    if work is not None:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    import json

    print(json.dumps(out))


if __name__ == "__main__":
    main()
