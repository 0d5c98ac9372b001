"""Dump .explain("formatted") for bench queries to plans/<round>/<q>_<tag>.txt
(round dir from $SPARK_GRAFT_PLANS_ROUND, default r16).

Usage:  python tools/explain_dump.py <tag> <query> [<query> ...]
        python tools/explain_dump.py <tag> --heavy   (the heavy set)

Uses the bench's exact session config so the captured plan is the one
the bench times (AQE initial plan; the judge checks plan claims against
these files and the code). Queries whose construction runs driver-side
jobs (centroid collects, index builds) execute those during capture —
the dump is the plan of the RETURNED DataFrame.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "q_pagerank", "sim_ivf_retrain", "sim_ivfpq_retrain",
    "q_label_propagation", "sim_ivfpq_topk", "q_triangle_count",
    "dd_quality_keeper", "sim_ivf_topk", "sim_ivfpq_incremental",
    "sim_ivf_incremental", "dd_minhash_lsh", "dd_incremental",
    "dd_containment", "ev_mad_outliers", "sim_kcenter",
    "q_copurchase_pairs", "tx_lm_bigram", "sim_cluster_sample",
    "dd_semantic", "q_profile_stats", "q_bloom_join_prune",
    "sim_ivf_cadence", "sim_lsh_cadence", "mm_phash_neardup_wide",
    "tx_rep_ngram", "dd_novelty", "sim_lsh_retrain",
]


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    if names == ["--heavy"]:
        names = HEAVY
    if not names:
        raise SystemExit("usage: explain_dump.py <tag> <query> [...] | --heavy")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from ftp_blueprints_spark.session import get_spark

    spark = get_spark(
        "explain-dump", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16"),
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(path)


if __name__ == "__main__":
    main()
