"""Recall-vs-MAX_SHINGLE_DF sweep for dd_containment (r9 verdict task 5).

The df cap bounds per-shingle join fan-out (work per shingle <= df^2),
which is what keeps the pair stream linear — but every capped shingle is
also removed from the numerator AND the size denominators, so the
question the exponent-watch kept reopening is empirical: how many true
pairs does the cap actually lose at the operating point?  This sweep
computes the qualifying pair set at several caps against the uncapped
set and prints recall / extras / wall per cap; the measured table lives
in dd_containment's docstring.

Usage: python tools/containment_recall.py  (env SPARK_GRAFT_SF_DIR)
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from ftp_blueprints_spark.session import get_spark

    spark = get_spark(
        "containment-recall", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    from ftp_blueprints_spark.operators.dedup import containment_pairs
    from ftp_blueprints_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")

    def pair_set(max_df: int) -> tuple[set, float]:
        t0 = time.perf_counter()
        rows = containment_pairs(docs, max_df=max_df).select(
            "doc_a", "doc_b"
        ).collect()
        return {(r.doc_a, r.doc_b) for r in rows}, round(
            time.perf_counter() - t0, 2
        )

    uncapped, t_unc = pair_set(1 << 40)
    out = {"sf_dir": sf_dir, "uncapped_pairs": len(uncapped), "t_uncapped_s": t_unc}
    sweeps = {}
    for cap in (25, 50, 100, 200):
        got, t = pair_set(cap)
        hit = len(got & uncapped)
        sweeps[cap] = {
            "pairs": len(got),
            "recall_vs_uncapped": round(hit / max(1, len(uncapped)), 4),
            "extra_pairs": len(got - uncapped),
            "wall_s": t,
        }
    out["caps"] = sweeps
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
