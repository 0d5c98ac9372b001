#!/usr/bin/env python
"""Benchmark harness: run the headline queries at SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line: {"metric","value","unit","queries":{name: sec},"sf"}.

Execution is forced with the noop datasource (full pipeline runs on
executors, nothing funnels to the driver) so wall-times measure the
distributed plan, not a collect. Each query runs twice and reports the
MIN: the first execution pays one-time whole-stage-codegen compilation
(several seconds for the wide MinHash aggregates — a fixed cost that
is noise at real data scale but dominates a sub-second sf0.1 run);
the min reflects the steady-state distributed plan. Both numbers'
totals are emitted ("value" = min-total, "first_run_total" = cold).
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# Headline set: one per major operator family (scan/agg, joins, windows,
# time-bucketed agg, JSON, as-of join, dedup exact + MinHash-LSH, top-k
# cosine, text quality, mapInPandas multimodal, manifest pipeline).
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_volume",
    "q_cust_order_stats",
    "q_window_running",
    "q_monthly_revenue",
    "q_json_events",
    "q_asof_join",
    "dd_exact",
    "dd_minhash_lsh",
    "sim_topk_bruteforce",
    "sim_ivf_topk",
    "sim_knn_label",
    "tx_quality",
    "tx_corpus_prep",
    "tx_decontaminate",
    "mm_decode_meta",
    "ev_tumbling_counts",
    "ev_ttl_dedup",
    "ev_view_click_join",
    "sk_cms_heavy_hitters",
    "dd_embedding_neardup_keepers",
    "dd_span_dedup",
    "dd_semantic",
    "tx_quality_topp",
    "tx_gopher_rules",
    "sim_pq_topk",
    "tx_bm25",
    "tx_lm_bigram",
    "sim_hybrid_rrf",
    "sim_cluster_sample",
    "tx_dsir_weights",
    "sk_kmv_distinct",
    "sim_ivfpq_topk",
    "sim_ivfpq_query",
    "mm_phash_neardup",
    "pipe_download",
    "pipe_ingest_csv",
    # r5 additions
    "sim_mmr_topk",
    "tx_bpe_pairs",
    "tx_quality_classifier",
    "mm_crossmodal_topk",
    "ev_late_data",
    "q_copurchase_pairs",
    "q_pagerank",
    "q_pivot",
    "ev_gap_fill",
    "ev_cdc_compact",
    "ev_fill_forward",
    "q_fuzzy_match",
    "sim_kcenter",
    "q_triangle_count",
    "ev_mad_outliers",
    "q_skyline",
    "dd_entity_resolution",
    "q_profile_stats",
    "ev_rate_spike",
    "dd_containment",
    "ev_winsorize",
    "q_zorder_layout",
    "ev_markov_transitions",
    "tx_dataset_card",
    "dd_novelty",
    # r6 additions: ANN serving splits (build once, serve per call),
    # deterministic domain-cap / weighted sampling, Bloom-pruned join
    "sim_ivf_query",
    "sim_ann_lsh_query",
    "tx_domain_cap",
    "tx_weighted_sample",
    "q_bloom_join_prune",
    "ev_scd2_history",
    "ev_last_touch_attribution",
    "tx_corpus_drift",
    "ev_trending_topk",
    "q_label_propagation",
    # r8 additions: quality-aware survivorship, incremental snapshot
    # dedup, Gopher repetition fractions, per-doc keywords, dwell time
    "dd_quality_keeper",
    "dd_incremental",
    "tx_rep_ngram",
    "tx_keywords",
    "ev_dwell_time",
    # r9 addition: bucketed sweep-line peak concurrency
    "ev_concurrency",
    # r10 additions: incremental ANN index maintenance (snapshot assign
    # into frozen centroids + drift report); the sweep's per-bucket
    # intermediates as their own oracle surface (the rows the
    # streaming twin finalizes)
    "sim_ivf_incremental",
    "ev_concurrency_buckets",
    # r11 additions: the adaptive-width phash contract (the 48-bit
    # query's at-scale twin — width = phash_width_for(n), ~log2 n bits
    # per band, O(1) bucket loads where the fixed layout saturates);
    # incremental IVFPQ maintenance (residual PQ codes against frozen
    # codebooks + per-cid quantization-error drift)
    "mm_phash_neardup_wide",
    "sim_ivfpq_incremental",
    # r12 additions (built + probed in r11, registered r12): frozen-
    # plane LSH snapshot hashing + per-band collision-density drift;
    # the merged-partials CMS heavy-hitter report (merge-exactness)
    "sim_lsh_incremental",
    "sk_cms_incremental",
    # r13 addition (built + probed in r12, registered r13): the retrain
    # closing the maintained-IVF loop — refit centroids on the served
    # union (lists ∪ appends, raw corpus never re-read), re-assign, and
    # report the refreshed space with moved-label counts
    "sim_ivf_retrain",
    # r14 additions (built + probed in r13, registered r14): the two
    # remaining family retrains — IVFPQ (exact-corpus refit: centroids,
    # codebooks, every code, the qerr yardstick) and LSH (width-adaptive
    # re-hash: frozen-width vs doubled-width collision-pair collapse)
    "sim_ivfpq_retrain",
    "sim_lsh_retrain",
    # r15 additions (built + probed in r14, registered r15): the retrain
    # cadence triggers' exact-integer arithmetic as driver surfaces —
    # per-cid mix expectation over the IVF drift report; per-band
    # collision densities + the integer 2x cost-ratio verdict for LSH
    "sim_ivf_cadence",
    "sim_lsh_cadence",
]

# Per-query regression budgets (sec, sf0.1, local[32]): 2x the round-2
# min-times (BENCH_r02.json), floored at 1s to absorb scheduler noise on
# sub-second queries. tests/test_bench_smoke.py asserts these so a
# registry reshuffle or plan regression fails loudly instead of slowly.
BUDGETS = {
    "q01_pricing_summary": 3.2,
    "q03_shipping_priority": 2.0,
    "q05_region_volume": 2.1,
    "q_cust_order_stats": 1.6,
    "q_window_running": 1.3,
    "q_monthly_revenue": 1.0,
    "q_json_events": 1.1,
    "q_asof_join": 1.0,
    "dd_exact": 1.0,
    # raised 2.9 -> 3.4 in r8, deliberately: the capped-shingle rewrite
    # (hot-set broadcast-anti instead of the count window) costs ~0.5 s
    # of hot-build overhead at sf0.1 (measured A/B 2.2 -> 2.7 s warm)
    # and halves the 100x wall time (18.6 -> 11.8 s, SCALEPROBE
    # mult_100) — the scale trade is the point of the plan
    "dd_minhash_lsh": 3.4,
    "sim_topk_bruteforce": 1.4,
    "sim_ivf_topk": 4.1,
    "sim_knn_label": 1.6,
    "tx_quality": 1.1,
    "tx_corpus_prep": 2.3,
    "tx_decontaminate": 2.9,
    "mm_decode_meta": 1.0,
    "ev_tumbling_counts": 1.0,
    "ev_ttl_dedup": 1.2,
    # the r3 "accumulated-session overhead" drift disappeared once the
    # per-query GC purge landed: r4 clean in-bench times are 2.3s
    # (download) / 1.3s (ingest); budgets are ~2x those
    "pipe_download": 5.0,
    # cold/warm gap profiled r10 (the largest ratio among headliners,
    # 5.2-6.5 s cold vs ~1.3 s warm): a fresh-JVM sub-phase split
    # measured plan-only first load() = 2.8 s — one-time Python
    # DataSource session init (driver-side plan-runner spawn + cold
    # pyspark imports), NOT per-job work — with runs settling
    # 3.6 -> 1.6 -> 1.3 s.  The warm budget below is correct as is;
    # first_runs in the artifact carry the init visibly.
    "pipe_ingest_csv": 3.0,
    "ev_view_click_join": 2.0,
    "sk_cms_heavy_hitters": 2.0,
    # iterative component convergence adds run-to-run variance
    # (r4 clean: 3.3s; 2x + slack for extra label-propagation rounds)
    "dd_embedding_neardup_keepers": 7.0,
    # r3 additions (warm sf0.1 measurements + ~60% headroom)
    "dd_span_dedup": 2.5,
    # per-cluster matmul pair scoring (r4 clean: 1.8s at sf0.1)
    "dd_semantic": 3.6,
    "tx_quality_topp": 3.4,
    "tx_gopher_rules": 1.2,
    "sim_pq_topk": 2.8,
    # retrieval family (clean-warm sf0.1 times x ~2)
    "tx_bm25": 3.0,
    "tx_lm_bigram": 4.8,
    "sim_hybrid_rrf": 3.6,
    # r4 additions (warm sf0.1 measurements x ~2)
    "sim_cluster_sample": 5.2,
    "tx_dsir_weights": 2.1,
    "sk_kmv_distinct": 3.0,
    # ~2.1s of this is the shared IVF substructure (centroids+assign);
    # at scale codes are precomputed, here they rebuild per run
    "sim_ivfpq_topk": 8.6,
    # serving path over the prebuilt index (r5: ~1.3s warm at sf0.1;
    # builds on first call, so the min-of-two reflects pure serving)
    "sim_ivfpq_query": 3.0,
    "mm_phash_neardup": 5.5,
    # r5 additions (clean-warm sf0.1 mins x ~2, floored at 1s)
    "sim_mmr_topk": 2.4,
    "tx_bpe_pairs": 1.0,
    "tx_quality_classifier": 1.6,
    "mm_crossmodal_topk": 1.6,
    "ev_late_data": 1.0,
    "q_copurchase_pairs": 5.0,
    # 3 fixed iterations over the ~7M-edge co-purchase graph
    "q_pagerank": 13.0,
    "q_pivot": 1.6,
    "ev_gap_fill": 1.2,
    "ev_cdc_compact": 1.0,
    "ev_fill_forward": 1.0,
    "q_fuzzy_match": 1.3,
    # K sequential scans with per-iteration materialization
    "sim_kcenter": 5.5,
    # lineitem self-join for support counting dominates
    "q_triangle_count": 7.0,
    "ev_mad_outliers": 2.6,
    "q_skyline": 1.0,
    # component-loop variance slack, same as dd_embedding_neardup_keepers
    "dd_entity_resolution": 3.2,
    # 4 exact per-column distinct counts expand the single scan
    "q_profile_stats": 7.0,
    "ev_rate_spike": 2.1,
    "dd_containment": 4.0,
    "ev_winsorize": 2.6,
    "q_zorder_layout": 1.6,
    "ev_markov_transitions": 1.9,
    "tx_dataset_card": 1.5,
    "dd_novelty": 3.4,
    # r6: serving paths over prebuilt indexes (~1.0s warm at sf0.1;
    # first call builds, so min-of-two reflects pure serving)
    "sim_ivf_query": 2.0,
    "sim_ann_lsh_query": 2.1,
    "tx_domain_cap": 1.0,
    "tx_weighted_sample": 1.0,
    # dim-side bloom-build job + literal-mask probe scan (~2.0s warm)
    "q_bloom_join_prune": 4.0,
    "ev_scd2_history": 1.6,
    "ev_last_touch_attribution": 1.0,
    "tx_corpus_drift": 1.0,
    "ev_trending_topk": 1.5,
    # two rounds over the co-purchase self-join graph (pagerank family)
    "q_label_propagation": 8.0,
    # r9 re-baseline: all five r8 budgets below derive from fresh-JVM
    # standalone warm times (tools/standalone_time.py, one JVM per
    # query, idle sandbox) at 2x warm — never from in-suite numbers,
    # where shared-subtree warming (the dd_incremental-after-
    # dd_quality_keeper trap: 0.9 s in-suite vs 3.55 s fresh) makes
    # budgets look generous while actually modeling the wrong run.
    # jaccard pair pipeline + diameter-bounded label-propagation rounds
    # (each round is a blocking job; cost is job count, not data)
    "dd_quality_keeper": 7.6,  # fresh-JVM warm 3.80
    # runs the full jaccard pair pipeline (same family as dd_minhash_lsh)
    # plus four min-agg/join layers
    "dd_incremental": 7.1,  # fresh-JVM warm 3.55 (was 4.5, set in-suite)
    "tx_rep_ngram": 4.5,  # fresh-JVM warm 2.22 (was 2.9, set in-suite)
    # r9 checkpointed-tf plan
    "tx_keywords": 2.6,  # fresh-JVM warm 1.26
    "ev_dwell_time": 1.5,  # fresh-JVM warm 0.75
    "ev_concurrency": 2.1,  # fresh-JVM warm 1.02 (r9)
    # half-corpus Lloyd train + two frozen-centroid assignments
    "sim_ivf_incremental": 5.0,  # fresh-JVM warm 2.45 (r10)
    "ev_concurrency_buckets": 1.9,  # fresh-JVM warm 0.80-0.95 (r10)
    "mm_phash_neardup_wide": 5.7,  # fresh-JVM warm 2.84 (r11)
    # half-corpus Lloyd train + codebook slice + two frozen-book encodes
    "sim_ivfpq_incremental": 8.7,  # fresh-JVM warm 3.7-4.4 (r11)
    # two Arrow hyperplane matmuls + constant-size per-band density agg
    "sim_lsh_incremental": 4.2,  # fresh-JVM warm 1.1-1.5 (r12)
    # two half-corpus partials + constant-size cell merge + tf report
    "sk_cms_incremental": 2.4,  # fresh-JVM warm 0.8-0.9 (r12)
    # two Lloyd trains + three frozen-centroid literal assignments over
    # the localCheckpointed served union
    "sim_ivf_retrain": 8.0,  # fresh-JVM warm 1.1-3.8 (r12 pre-proofs)
    # two Lloyd trains + PQ codebook slice + two Arrow encode passes
    # over the localCheckpointed served union
    "sim_ivfpq_retrain": 10.0,  # fresh-JVM warm 4-5 (r13 pre-proofs)
    # one Arrow hyperplane matmul at the doubled width + one explode/
    # bucket-count chain (frozen-width sigs are substrings)
    "sim_lsh_retrain": 4.0,  # fresh-JVM warm 1.4-1.8 (r13 pre-proofs)
    # sim_ivf_incremental's plan + a K-row integer projection
    "sim_ivf_cadence": 6.0,  # fresh-JVM warm ~3 (r14 pre-proofs)
    # sim_lsh_incremental's plan + a constant-ANN_BANDS-row projection
    "sim_lsh_cadence": 4.2,  # fresh-JVM warm ~1.4 (r14 pre-proofs)
}


# --------------------------------------------------------------------------
# Pipeline benchmarks: the engine's raison-d'etre (the reference's
# list -> match -> project -> act dataflow) and the columnar ingest path.
# These are side-effectful (real bytes land on disk), so they are timed
# as callables rather than noop-sunk DataFrames. Inputs derive from the
# driver's parquet testdata; each timed run gets a fresh dest directory.
# --------------------------------------------------------------------------

_ORDERS_CSV_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderpriority string"
)


def _setup_pipelines(spark, sf_dir: str, work: str) -> None:
    """Untimed setup: materialize a CSV tree (orders, derived from the
    driver testdata) for the ingest bench."""
    import pyspark.sql.functions as F

    csv_dir = os.path.join(work, "csv_tree")
    (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderpriority",
        )
        .repartition(8)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(csv_dir)
    )


def _pipe_download(spark, sf_dir: str, work: str, run_id: int) -> None:
    """S2-S11 end-to-end over the local-FS connector: list the sf_dir
    tree, regex-match the parquet files, project destination paths
    keeping each source's basename (no file numbering), fan the byte
    transfer out over max_connections clients (driver threads: the
    listing is driver-held)."""
    from ftp_blueprints_spark.operators.actions import download
    from ftp_blueprints_spark.operators.manifest import match_files, with_destination
    from ftp_blueprints_spark.sources.connector import ClientSpec
    from ftp_blueprints_spark.sources.listing import list_tree

    spec = ClientSpec(kind="local", root=sf_dir, max_connections=16)
    mf = list_tree(spark, spec, "")
    matched = match_files(mf, pattern=r".*[.]parquet$")
    manifest = with_destination(matched)  # dest_path = basename per match
    dest_root = os.path.join(work, f"dl_{run_id}")
    stats = download(manifest, spec, dest_root=dest_root)
    if not stats.get("ok"):
        raise RuntimeError(f"pipe_download transferred nothing: {stats}")


def _pipe_ingest_csv(spark, sf_dir: str, work: str, run_id: int) -> None:
    """Columnar ingest: CSV tree -> list_tree + rlike match -> fetch of
    the matched files' bytes (executor-side) ->
    decode/split/posexplode/from_csv -> parquet."""
    from ftp_blueprints_spark.sources.connector import ClientSpec
    from ftp_blueprints_spark.sources.ingest import ingest_csv

    spec = ClientSpec(kind="local", root=os.path.join(work, "csv_tree"))
    n = ingest_csv(
        spark,
        spec,
        folder="",
        schema=_ORDERS_CSV_SCHEMA,
        dest=os.path.join(work, f"ingested_{run_id}"),
        pattern=r".*[.]csv$",
        header=True,
    )
    if n <= 0:
        raise RuntimeError("pipe_ingest_csv wrote no rows")


PIPELINES = {
    "pipe_download": _pipe_download,
    "pipe_ingest_csv": _pipe_ingest_csv,
}


def _env_marker() -> dict:
    """Snapshot machine contention BEFORE our own JVM starts.

    load_avg_1m: 1-minute load average; sibling_jvms: count of java
    processes already running (the driver's correctness-sweep JVM, a
    concurrent pytest session).  On an idle 32-cpu box both are ~0;
    the driver's post-sweep bench typically shows sibling_jvms >= 1
    and an elevated load average."""
    try:
        load = round(os.getloadavg()[0], 2)
    except OSError:
        load = -1.0
    jvms = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        jvms += 1
            except OSError:
                continue
    except OSError:
        jvms = -1
    return {"load_avg_1m": load, "sibling_jvms": jvms}


def main() -> None:
    _ENV_MARKER = _env_marker()  # before our own JVM exists
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # scale factor from the directory name (sf0.1 -> 0.1); 0.0 if unparseable
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(tail.replace("sf", ""))
    except ValueError:
        sf = 0.0

    from ftp_blueprints_spark.session import get_spark

    spark = get_spark(
        "ftp-blueprints-spark-bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    import shutil
    import tempfile

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    work = tempfile.mkdtemp(prefix="bench_pipe_")
    _setup_pipelines(spark, sf_dir, work)
    run_counter = [0]

    def run(name: str) -> float:
        run_counter[0] += 1
        t0 = time.perf_counter()
        if name in PIPELINES:
            PIPELINES[name](spark, sf_dir, work, run_counter[0])
        else:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run("q01_pricing_summary")  # warmup (JIT, codegen, parquet footer cache)

    times: dict[str, float] = {}
    first: dict[str, float] = {}
    for name in HEADLINE:
        if name not in qs and name not in PIPELINES:
            continue
        # session hygiene between queries: 29 queries in one JVM
        # accumulate codegen-cache/listener/GC state that drifts later
        # queries ~1.5x; an explicit untimed GC isolates each query's
        # own plan cost (what the budget tracks) from session age.
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        first[name] = run(name)
        times[name] = round(min(first[name], run(name)), 3)
    shutil.rmtree(work, ignore_errors=True)

    total = round(sum(times.values()), 3)
    # apples-to-apples regression signal: the 16 queries benched in
    # round 2 (BENCH_r02.json), so a grown HEADLINE list never hides a
    # slowdown of (or masquerades as) the original set
    #
    # Measured idle-noise band (r9 VERDICT finding 2): across three
    # IDLE-machine runs in round 9 (load < 0.2, zero sibling JVMs) the
    # r2 subset spanned 13.45-17.62 s and the headliner warm total
    # 95.9-113.4 s with NO plan changes between runs — the sandbox's
    # phase noise concentrates on sub-second fixed-overhead queries
    # (median per-query drift 1.16x) while multi-second queries stay
    # within ~10%.  Interpret readings against that spread: the 2x gate
    # on the r2 subset (20.0 s = 2 x 10.003 s, BENCH_r02.json) leaves
    # only ~2.4 s of headroom over the WORST idle reading, so a 1.9x
    # measurement is as likely environment as regression — check the
    # per-query warm times of the heavy queries (stable under noise)
    # and the env_* markers below before concluding either way.
    # r10 widened the band further: five idle runs on IDENTICAL plans
    # measured totals 95.6-139.1 s / r2 12.5-18.1 s (load < 0.2, zero
    # siblings), drifting slower through the day — morning runs are
    # the fast phase. Marginal (<0.5 s) budget breaches in a slow-phase
    # run are environment until proven otherwise by a fresh-JVM
    # standalone timing.
    r2_set = {
        "q01_pricing_summary", "q03_shipping_priority", "q05_region_volume",
        "q_cust_order_stats", "q_window_running", "q_monthly_revenue",
        "q_json_events", "q_asof_join", "dd_exact", "dd_minhash_lsh",
        "sim_topk_bruteforce", "tx_quality", "tx_corpus_prep",
        "mm_decode_meta", "ev_tumbling_counts", "ev_ttl_dedup",
    }
    r2_subset_total = round(sum(t for n, t in times.items() if n in r2_set), 3)
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        # per-query COLD numbers (first of the two runs): codegen/
        # first-run regressions are invisible in warm minima alone
        "first_runs": {n: round(t, 3) for n, t in first.items()},
        "first_run_total": round(sum(first.values()), 3),
        "r2_subset_total": r2_subset_total,
        "sf": sf,
        # the host the numbers come from: the local[N] master and the
        # parallelism Spark derived from it
        "cpus": int(cpus),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        # Contention marker (r7 VERDICT task 7): the driver benches
        # right after its 13-min correctness sweep in the same sandbox,
        # which inflated the recorded r2 subset 12.95->14.16 s across
        # r6->r7 while idle runs stayed flat (~11.5 s).  Recording the
        # 1-min load average and sibling-JVM count at bench start lets
        # a reviewer separate environment drift from plan drift without
        # re-running.
        "env_load_avg_1m": _ENV_MARKER["load_avg_1m"],
        "env_sibling_jvms": _ENV_MARKER["sibling_jvms"],
    }
    print(json.dumps(result))
    # Durable copy: the driver captures only the stdout TAIL (~2000
    # chars), which truncated round 6's warm per-query dict out of
    # BENCH_r06.json.  Write the full JSON to a repo file in the same
    # run so the per-query evidence survives regardless of how the
    # caller captures stdout.  Round selection (r7 ADVICE, medium):
    # inference from max(CORRECTNESS_r{N})+1 is order-dependent — a
    # bench run AFTER round N's correctness file lands writes r{N+1},
    # which round N+1's own bench would silently overwrite.  So: an
    # explicit SPARK_GRAFT_ROUND env var wins and writes (overwriting
    # its own round's file is the intended refresh); otherwise the
    # inferred name is opened with 'x' and, if taken, falls back to a
    # timestamped suffix — never clobbering an existing artifact.
    # SPARK_GRAFT_BENCH_ARTIFACT=0 skips the durable write entirely:
    # the test suite's bench subprocess is contended and must not claim
    # a round's canonical artifact name (it did exactly that once the
    # no-clobber logic landed — the suite ran before the driver).
    try:
        write_artifact(result, _REPO, os.environ)
    except OSError:
        pass  # read-only checkout: stdout line remains the record
    spark.stop()


def write_artifact(result: dict, repo: str, env) -> str | None:
    """Write the durable BENCH_LOCAL artifact; returns the path written
    (None when opted out).  Pure function of (result, repo dir, env) so
    the four-way round-selection policy is unit-testable without a
    Spark run.  OSError propagates — main() treats it as best-effort."""
    import glob
    import re

    if env.get("SPARK_GRAFT_BENCH_ARTIFACT") == "0":
        return None  # opted out: contended callers (the test suite's
        # bench subprocess) must not claim a round's artifact name
    explicit_round = None
    explicit = env.get("SPARK_GRAFT_ROUND")
    if explicit:
        # a malformed round ("r08") must warn loudly and fall back to
        # inference, not silently skip the artifact
        try:
            explicit_round = int(explicit)
        except ValueError:
            print(
                f"bench: invalid SPARK_GRAFT_ROUND={explicit!r} "
                "(expected an integer); falling back to round inference",
                file=sys.stderr,
            )
    if explicit_round is not None:
        path = os.path.join(repo, f"BENCH_LOCAL_r{explicit_round:02d}.json")
        with open(path, "w") as fh:
            json.dump(result, fh, indent=1)
        return path
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    rnd = max(rounds, default=0) + 1
    path = os.path.join(repo, f"BENCH_LOCAL_r{rnd:02d}.json")
    try:
        with open(path, "x") as fh:
            json.dump(result, fh, indent=1)
        return path
    except FileExistsError:
        stamped = f"{path[:-5]}_{int(time.time())}.json"
        with open(stamped, "w") as fh:
            json.dump(result, fh, indent=1)
        return stamped


if __name__ == "__main__":
    main()
