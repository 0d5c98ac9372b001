"""Retrain-cadence calibration (r13 VERDICT task 6): the documented
thresholds in MAINTENANCE.md ("Retrain cadence: calibrated defaults")
computed on the sf0.1 fixtures, end-to-end through the real append
path. Per family: build on the even half, append the ODD half (a
same-distribution batch — the trigger must stay quiet), then append a
CONSTRUCTED drifted batch (the trigger must fire). This is the
measurement the runbook's defaults rest on: the same-distribution
batch sits inside the training yardstick's own cross-cid spread, the
drifted one does not.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ftp_blueprints_spark.operators import similarity as S
from ftp_blueprints_spark.session import load_table

SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@pytest.fixture(scope="module")
def halves(spark, tmp_path_factory):
    """Even-half fixture dir + two disjoint odd-quarter batches: the
    first is the BASELINE batch (first post-build append — calibrates
    away the train-vs-holdout optimism gap), the second the no-drift
    batch that must stay quiet against it."""
    if not os.path.isdir(SF01):
        pytest.skip(f"sf0.1 fixtures not found at {SF01}")
    emb = load_table(spark, SF01, "embeddings").select("vec_id", "embedding")
    half_dir = tmp_path_factory.mktemp("cadence_half")
    emb.filter(F.col("vec_id") % 2 == 0).write.mode("overwrite").parquet(
        str(half_dir / "embeddings.parquet")
    )
    odd1 = emb.filter(F.col("vec_id") % 4 == 1).localCheckpoint(eager=True)
    odd3 = emb.filter(F.col("vec_id") % 4 == 3).localCheckpoint(eager=True)
    return str(half_dir), odd1, odd3


def _shift_ids(df, offset=10_000_000):
    return df.withColumn("vec_id", F.col("vec_id") + F.lit(offset))


def test_centroid_trigger_is_mix_adjusted(spark):
    """The r14 review's false-alarm scenario, pinned: a batch whose
    vectors all land in one extreme-but-legitimate cell AT that cell's
    training quality must stay quiet (its deviation from the GLOBAL
    mean is the weighted max, which always >= the CV threshold — the
    un-adjusted comparison fired here by construction), while the same
    composition at genuinely degraded quality fires."""
    # two training cells: means 1.0 and 0.5 (micro-units), CV = 1/3
    def report(new_sum_c1):
        return spark.createDataFrame(
            [
                (0, 100, 0, 100_000_000, 0),
                (1, 100, 50, 50_000_000, new_sum_c1),
            ],
            "cid bigint, n_base bigint, n_new bigint,"
            " base_cos_sum_mu bigint, new_cos_sum_mu bigint",
        )

    # 50 members in cell 1 at exactly cell 1's training mean (0.5):
    # global-mean comparison would read rel = 0.5/0.75 - 1 = -1/3 and
    # fire at the CV threshold (also 1/3); mix-adjusted rel is 0
    quiet = S.ivf_retrain_due(report(25_000_000))
    assert abs(quiet["rel_drift"]) < 1e-12
    assert quiet["due"] is False

    # same composition, each member 40% worse than its cell's mean
    loud = S.ivf_retrain_due(report(15_000_000))
    assert loud["rel_drift"] == pytest.approx(-0.4)
    assert loud["due"] is True


@pytest.mark.parametrize(
    "fam", [f for f in S._FAMILIES if f.yardstick], ids=lambda f: f.kind
)
def test_yardstick_columns_in_empty_report(spark, fam):
    """The family spec's yardstick names columns its drift report
    carries: the empty-batch report (built from ``empty_stats``) has
    the base_/new_ columns that _mix_cadence and the retrain
    trigger read, and both run on it."""
    val, sign = fam.yardstick
    assert sign in (-1, +1)
    empty = spark.createDataFrame([], fam.empty_stats)
    rep = fam.drift(empty, empty)
    assert {f"base_{val}", f"new_{val}", "n_base", "n_new"} <= set(rep.columns)
    assert S._mix_cadence(rep, fam).columns[-2:] == ["mix_exp_mu", "mix_gap_mu"]
    assert S._centroid_retrain_due(rep, fam)["due"] is False


def test_centroid_trigger_reports_unseen_cell_mass(spark):
    """The r14 second review pass: batch mass landing in cells the
    training stats never saw (n_base = 0 — a Lloyd cell can be empty
    at training time and still attract batch vectors) must never be
    DROPPED silently from the verdict. It is excluded from the
    calibrated comparison (no yardstick exists for it) but returned as
    unseen_frac, and a majority-unseen batch fires outright — the
    frozen space demonstrably does not cover it."""
    def report(rows):
        return spark.createDataFrame(
            rows,
            "cid bigint, n_base bigint, n_new bigint,"
            " base_cos_sum_mu bigint, new_cos_sum_mu bigint",
        )

    # minority unseen: surfaced, not due (matched mass at training
    # quality)
    r = S.ivf_retrain_due(
        report(
            [
                (0, 100, 50, 50_000_000, 25_000_000),
                (9, 0, 10, 0, 9_000_000),
            ]
        )
    )
    assert r["unseen_frac"] == pytest.approx(10 / 60)
    assert r["due"] is False

    # majority unseen fires even with matched cells at perfect quality
    r2 = S.ivf_retrain_due(
        report(
            [
                (0, 100, 10, 50_000_000, 5_000_000),
                (9, 0, 50, 0, 45_000_000),
            ]
        )
    )
    assert r2["unseen_frac"] == pytest.approx(50 / 60)
    assert r2["due"] is True

    # entirely unseen: the degenerate branch is due, never quiet
    r3 = S.ivf_retrain_due(report([(9, 0, 50, 0, 45_000_000)]))
    assert r3["due"] is True
    assert r3["unseen_frac"] == 1.0


def test_corpus_check_refuses_null_embeddings(spark, tmp_path):
    """A NULL embedding (bad upstream join) gets its OWN refusal, not
    a misleading 'duplicate row' message (r14 review: count_distinct
    skips nulls, so a null row used to count as a duplicate and the
    remediation advice — dedup — could never clear it)."""
    ids = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(8)],
        "vec_id bigint, embedding array<float>",
    )
    with_null = ids.unionByName(
        spark.createDataFrame(
            [(99,)], "vec_id bigint"
        ).withColumn("embedding", F.lit(None).cast("array<float>"))
    )
    served = with_null.select("vec_id")
    with pytest.raises(ValueError, match="NULL-embedding"):
        S._retrain_corpus_check(with_null, served, "test_op", "/dev/null")
    # and a clean corpus still passes, returning the distinct id count
    assert S._retrain_corpus_check(ids, ids.select("vec_id"), "t", "x") == 8


def test_ivf_cadence_thresholds_on_sf01(spark, halves, tmp_path):
    """IVF: a same-distribution batch must not alarm against the
    baseline batch; a batch with the centroid span projected OUT of
    its vectors — cos ~0 to every centroid by construction — must.
    Also PINS the
    calibration measurement the baseline contract rests on: the
    training yardstick is optimistically biased (Lloyd centroids fit
    the members that trained them), so even a same-distribution
    holdout shows a large NEGATIVE raw drift — the reason the runbook
    prescribes differencing against the first post-build append. The
    computed threshold is the documented max(CV, 1%)."""
    half_dir, odd1, odd3 = halves
    idx = S.ivf_build(spark, half_dir, index_dir=str(tmp_path / "ivf"))

    r0 = S.ivf_append(spark, idx, odd1, batch_id=0)
    r1 = S.ivf_append(spark, idx, odd3, batch_id=1)
    quiet = S.ivf_retrain_due(r1, baseline=r0)
    # the threshold IS the training space's own spread, and on real
    # fixtures it dominates the 1% floor — the documented calibration
    assert quiet["threshold"] >= S.DRIFT_REL_FLOOR
    assert abs(quiet["rel_vs_baseline"]) < quiet["threshold"]
    assert quiet["due"] is False
    # the optimism gap itself, measured: BOTH holdout batches sit far
    # below the training yardstick (the raw single-report trigger is
    # conservative by exactly this), and by roughly the same amount
    assert quiet["rel_drift"] <= -quiet["threshold"]
    assert quiet["baseline_rel_drift"] <= -quiet["threshold"]

    # a geometry-GUARANTEED drifted batch: project the centroid span
    # out of the vectors, so cos-to-every-centroid is ~0 (a negated
    # batch is NOT drifted enough here: with mean cos-to-centroid only
    # ~0.27, -v's best centroid still scores ~ -min_c cos(v,c) ~ 0.22,
    # inside the band — measured r14)
    import numpy as np

    cents = np.array(
        [
            r["c_emb"]
            for r in spark.read.parquet(
                os.path.join(idx, "centroids")
            ).collect()
        ]
    )
    q, _ = np.linalg.qr(cents.T)  # orthonormal basis of the span
    rows = odd3.collect()
    v = np.array([r["embedding"] for r in rows], dtype=np.float64)
    v_perp = v - (v @ q) @ q.T
    drifted = spark.createDataFrame(
        [
            (int(r["vec_id"]) + 10_000_000, [float(x) for x in vec])
            for r, vec in zip(rows, v_perp)
        ],
        "vec_id bigint, embedding array<float>",
    )
    loud = S.ivf_retrain_due(
        S.ivf_append(spark, idx, drifted, batch_id=2), baseline=r0
    )
    assert loud["rel_vs_baseline"] <= -loud["threshold"]
    assert loud["due"] is True


@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_ivfpq_cadence_thresholds_on_sf01(spark, halves, tmp_path):
    """IVFPQ: a same-distribution batch must not alarm against the
    baseline batch; a scaled batch (3x vectors -> ~9x residual energy
    against the frozen codebooks) must — the POSITIVE qerr direction
    the runbook documents. Pins the family's optimism gap too (the
    codebooks quantize their own training residuals better than any
    holdout's): positive raw drift on both holdout batches."""
    half_dir, odd1, odd3 = halves
    idx = S.ivfpq_build(spark, half_dir, index_dir=str(tmp_path / "ivfpq"))

    r0 = S.ivfpq_append(spark, idx, odd1, batch_id=0)
    r1 = S.ivfpq_append(spark, idx, odd3, batch_id=1)
    quiet = S.ivfpq_retrain_due(r1, baseline=r0)
    assert quiet["threshold"] >= S.DRIFT_REL_FLOOR
    assert abs(quiet["rel_vs_baseline"]) < quiet["threshold"]
    assert quiet["due"] is False
    # the measured optimism gap: holdout residuals quantize WORSE
    # against books fit on the training half (positive raw drift)
    assert quiet["rel_drift"] > 0
    assert quiet["baseline_rel_drift"] > 0

    drifted = _shift_ids(
        odd3.withColumn(
            "embedding",
            F.expr("transform(embedding, x -> x * cast(3.0 as float))"),
        )
    )
    loud = S.ivfpq_retrain_due(
        S.ivfpq_append(spark, idx, drifted, batch_id=2), baseline=r0
    )
    assert loud["rel_vs_baseline"] >= loud["threshold"]
    assert loud["due"] is True


@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_lsh_cadence_thresholds_on_sf01(spark, halves, tmp_path):
    """LSH: the odd half must not reach the 2x collision-cost ratio; a
    degenerate batch (one vector repeated — every row in one bucket
    per band) must blow far past it. Also pins the growth trigger's
    arithmetic: lsh_rows_for vs the published marker width."""
    half_dir, odd1, _odd3 = halves
    odd = odd1
    idx = S.ann_lsh_build(spark, half_dir, index_dir=str(tmp_path / "lsh"))

    # no baseline differencing here, by design: the planes are a
    # fixed-seed function of nothing — the LSH drift report has no
    # train-vs-holdout bias for a baseline to cancel
    quiet = S.lsh_retrain_due(S.ann_lsh_append(spark, idx, odd, batch_id=0))
    assert quiet["max_ratio"] < quiet["threshold_ratio"] == 2.0
    assert quiet["due"] is False

    # one vector repeated: every row lands in ONE bucket per band, so
    # batch density = (m-1)/2 pairs/row — m = 6000 clears 2x even
    # against the theoretical max training density at sf0.1 (all 2500
    # standing rows colliding would be ~1250 pairs/row)
    one = odd.orderBy("vec_id").limit(1).select("embedding")
    clones = (
        spark.range(6000)
        .select((F.col("id") + 20_000_000).alias("vec_id"))
        .crossJoin(F.broadcast(one))
    )
    loud = S.lsh_retrain_due(S.ann_lsh_append(spark, idx, clones, batch_id=1))
    assert loud["max_ratio"] >= 2.0
    assert loud["due"] is True

    # growth trigger (drift-independent): the build hashes at the
    # fixed ANN_ROWS, which sf0.1's corpus has already outgrown —
    # lsh_rows_for demands more bits than the published marker width,
    # so the trigger is DUE on the fixed-width build...
    _bands, width0 = S._lsh_index_width(idx)
    n_base = (
        spark.read.parquet(os.path.join(idx, "sigs"))
        .filter(F.col("band") == 0)
        .count()
    )
    assert width0 == S.ANN_ROWS
    assert S.lsh_rows_for(n_base) > width0  # due: corpus outgrew width

    # ...and goes QUIET after the width-adaptive re-hash on the exact
    # served corpus (even half + both appended batches)
    emb = load_table(spark, SF01, "embeddings").select("vec_id", "embedding")
    corpus = (
        emb.filter(F.col("vec_id") % 2 == 0)
        .unionByName(odd)
        .unionByName(clones.select("vec_id", "embedding"))
    )
    assert S.ann_lsh_retrain(spark, idx, corpus) is True
    _bands, width1 = S._lsh_index_width(idx)
    n_served = (
        spark.read.parquet(os.path.join(idx, "sigs"))
        .filter(F.col("band") == 0)
        .count()
    )
    assert S.lsh_rows_for(n_served) <= width1  # quiet: width refreshed


@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_centroid_trigger_randomized_properties(spark):
    """Randomized invariants of the centroid cadence trigger — the
    property form of the two r14 review bugs, so neither can regress:

    (i)  composition invariance — a batch at EXACTLY training quality
         per cell (new_sum_c = n_new_c * m_base_c) never fires, no
         matter how lopsided its cell mix (the un-adjusted global-mean
         comparison fired here whenever the mix favored an extreme
         cell);
    (ii) common-bias cancellation — two batches sharing one
         multiplicative quality bias g (the train-vs-holdout optimism
         gap's shape) never fire when differenced against each other,
         for ANY g and ANY mixes;
    (iii) calibrated firing — with batch quality g1 x training and
         baseline quality g0 x training, the alarm fires when
         sign * (g1 - g0) clears the returned threshold with margin,
         and stays quiet well inside it (integer rounding of the
         micro-unit sums is absorbed by the margins)."""
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import HealthCheck, given, settings, strategies as st

    cell = st.tuples(
        st.integers(min_value=1, max_value=1000),     # n_base
        st.integers(min_value=10_000, max_value=1_000_000),  # m_base (mu)
        st.integers(min_value=0, max_value=500),      # n_new
    )

    def report_df(cells, g):
        rows = [
            (
                cid,
                nb,
                nn,
                nb * mb,
                int(round(g * nn * mb)),
            )
            for cid, (nb, mb, nn) in enumerate(cells)
        ]
        return spark.createDataFrame(
            rows,
            "cid bigint, n_base bigint, n_new bigint,"
            " base_cos_sum_mu bigint, new_cos_sum_mu bigint",
        )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.data())
    def run(data):
        cells = data.draw(st.lists(cell, min_size=1, max_size=5))
        if not any(nn for _, _, nn in cells):
            cells[0] = (cells[0][0], cells[0][1], 7)  # ensure a batch

        # (i) exact training quality, arbitrary mix: never due
        r = S.ivf_retrain_due(report_df(cells, 1.0))
        assert r["due"] is False
        assert abs(r["rel_drift"]) < 1e-6  # integer rounding only

        # (ii) a shared bias g cancels under baseline differencing
        g = data.draw(st.floats(min_value=0.2, max_value=2.0))
        cells2 = data.draw(st.lists(cell, min_size=1, max_size=5))
        if not any(nn for _, _, nn in cells2):
            cells2[0] = (cells2[0][0], cells2[0][1], 7)
        # the baseline must describe the SAME training space (same
        # base cells) — only the batch mix differs
        cells2 = [
            (nb, mb, nn2)
            for (nb, mb, _), (_, _, nn2) in zip(
                cells, cells2 * (len(cells) // len(cells2) + 1)
            )
        ]
        both = S.ivf_retrain_due(
            report_df(cells, g), baseline=report_df(cells2, g)
        )
        assert both["due"] is False
        assert abs(both["rel_vs_baseline"]) < 1e-3  # rounding of g*nn*mb

        # the caching hook is bit-identical to the DataFrame path: a
        # precomputed baseline_rel (what the auto-retrain stream caches
        # across micro-batches) must reproduce the verdict exactly
        cached = S.ivf_retrain_due(
            report_df(cells, g),
            baseline_rel=both["baseline_rel_drift"],
        )
        assert cached == both

        # (iii) calibrated firing around the returned threshold
        thr = both["threshold"]
        drop = data.draw(st.sampled_from([1.5, 0.4])) * thr
        fired = S.ivf_retrain_due(
            report_df(cells, g * (1.0 - drop)),
            baseline=report_df(cells2, g),
        )
        # rel1 = g(1-drop) - 1, rel0 = g - 1 -> difference = -g*drop;
        # assert only outside a 1% dead band around the threshold so
        # micro-unit integer rounding can never flip a boundary draw
        if g * drop >= thr * 1.01:
            assert fired["due"] is True, (g, drop, thr, fired)
        elif g * drop <= thr * 0.99:
            assert fired["due"] is False, (g, drop, thr, fired)

    run()


def test_cadence_baseline_persisted_for_restart(spark, halves, tmp_path):
    """r14 VERDICT task 5 (IVF side): the first post-build append's
    drift report is an INDEX ARTIFACT (<index>/cadence_baseline), not
    process state — a restarted monitor passing index_dir= reaches the
    IDENTICAL verdict the first-append process reached with the report
    in memory. Also pins write-once (a later append never overwrites),
    the empty-batch guard (an empty first batch must not burn the
    baseline slot on a vacuous n_new=0 report), and explicit-baseline
    override."""
    half_dir, odd1, odd3 = halves
    idx = S.ivf_build(spark, half_dir, index_dir=str(tmp_path / "ivf"))
    # never appended: no baseline — the conservative single-report mode
    assert S.load_cadence_baseline(spark, idx) is None
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    S.ivf_append(spark, idx, empty, batch_id=0)
    assert S.load_cadence_baseline(spark, idx) is None

    r0 = S.ivf_append(spark, idx, odd1, batch_id=1)
    bl = S.load_cadence_baseline(spark, idx)
    assert bl is not None
    assert {r["baseline_bid"] for r in bl.collect()} == {1}

    r1 = S.ivf_append(spark, idx, odd3, batch_id=2)
    # write-once: the second append did not rotate the baseline
    assert {
        r["baseline_bid"]
        for r in S.load_cadence_baseline(spark, idx).collect()
    } == {1}
    # restart parity: bigint columns round-trip parquet exactly, so
    # every float in the verdict matches bit-for-bit, not approximately
    assert S.ivf_retrain_due(r1, index_dir=idx) == S.ivf_retrain_due(
        r1, baseline=r0
    )
    # an explicit baseline beats the persisted copy (self-baseline
    # differencing is exactly zero)
    override = S.ivf_retrain_due(r1, baseline=r1, index_dir=idx)
    assert override["rel_vs_baseline"] == 0.0


@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_cadence_baseline_ivfpq_and_retrain_refresh(spark, halves, tmp_path):
    """r14 VERDICT task 5 (IVFPQ side + the swap contract): the
    compressed family persists/reads the baseline identically, and a
    RETRAIN refreshes it by construction — the artifact lives inside
    the swapped dir, so the published snapshot starts baseline-less
    and the first post-retrain append records a new one against the
    refreshed yardstick."""
    from ftp_blueprints_spark.session import load_table

    half_dir, odd1, odd3 = halves
    idx = S.ivfpq_build(spark, half_dir, index_dir=str(tmp_path / "ivfpq"))
    r0 = S.ivfpq_append(spark, idx, odd1, batch_id=0)
    assert {
        r["baseline_bid"]
        for r in S.load_cadence_baseline(spark, idx).collect()
    } == {0}
    r1 = S.ivfpq_append(spark, idx, odd3, batch_id=1)
    assert S.ivfpq_retrain_due(r1, index_dir=idx) == S.ivfpq_retrain_due(
        r1, baseline=r0
    )

    emb = load_table(spark, SF01, "embeddings").select("vec_id", "embedding")
    corpus = (
        emb.filter(F.col("vec_id") % 2 == 0)
        .unionByName(odd1)
        .unionByName(odd3)
    )
    assert S.ivfpq_retrain(spark, idx, corpus) is True
    assert S.load_cadence_baseline(spark, idx) is None
    r2 = S.ivfpq_append(spark, idx, _shift_ids(odd3), batch_id=5)
    assert {
        r["baseline_bid"]
        for r in S.load_cadence_baseline(spark, idx).collect()
    } == {5}
    # the refreshed baseline is r2 itself: self-differencing is zero
    assert S.ivfpq_retrain_due(r2, index_dir=idx)["rel_vs_baseline"] == 0.0


@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_auto_retrain_stream_closes_the_loop(spark, halves, tmp_path):
    """r14 VERDICT task 6: trigger→retrain as ONE path, end-to-end
    with the calibrated thresholds and no manual report plumbing —
    run_incremental_ivf_stream(auto_retrain=True) streams four
    batches: the baseline batch and a same-distribution batch stay
    quiet, the span-projected drifted batch fires ivf_retrain_due
    against the index-owned persisted baseline and performs the
    retrain INSIDE its foreachBatch call, and the post-retrain batch
    appends against the refreshed space (re-snapshotted centroids +
    epoch) and records the fresh baseline. A subsequent
    drifted-distribution batch is quiet — one retrain sufficed."""
    import numpy as np

    half_dir, odd1, odd3 = halves
    idx = str(tmp_path / "idx")
    S.ivf_build(spark, half_dir, index_dir=idx)

    cents = np.array(
        [
            r["c_emb"]
            for r in spark.read.parquet(os.path.join(idx, "centroids")).collect()
        ]
    )
    q, _ = np.linalg.qr(cents.T)
    rows = odd3.collect()
    v = np.array([r["embedding"] for r in rows], dtype=np.float64)
    v_perp = v - (v @ q) @ q.T
    schema = "vec_id bigint, embedding array<float>"

    def drifted(offset):
        return spark.createDataFrame(
            [
                (int(r["vec_id"]) + offset, [float(x) for x in vec])
                for r, vec in zip(rows, v_perp)
            ],
            schema,
        )

    src_dir = tmp_path / "parts"
    batches = [
        odd1,
        odd3,
        drifted(10_000_000),
        drifted(20_000_000),
    ]
    for i, df in enumerate(batches):
        out = str(src_dir / f"part{i}")
        df.select("vec_id", "embedding").coalesce(1).write.mode(
            "overwrite"
        ).parquet(out)
        for f in os.listdir(out):
            os.utime(os.path.join(out, f), (1_700_000_000 + i,) * 2)

    source = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src_dir))
    )
    S.run_incremental_ivf_stream(spark, idx, source, auto_retrain=True)

    # exactly ONE retrain fired (each bumps the epoch once), and it
    # stamped the folded high-water mark at the drifted batch's bid
    assert S.compaction_epoch(idx) == 1
    assert S._folded_hwm(idx) == 2
    # batches 0-2 folded by the in-stream retrain; batch 3 re-appended
    ap = os.path.join(idx, "appends")
    assert {d for d in os.listdir(ap) if d.startswith("bid=")} == {"bid=3"}
    # the refreshed baseline is the first POST-retrain batch's report
    assert {
        r["baseline_bid"]
        for r in S.load_cadence_baseline(spark, idx).collect()
    } == {3}
    # serving = training corpus ∪ all four batches, each exactly once
    served = S.ivf_lists_with_appends(spark, idx).select("vec_id")
    n_corpus = spark.read.parquet(
        os.path.join(half_dir, "embeddings.parquet")
    ).count()
    n_batches = sum(df.count() for df in batches)
    assert served.count() == served.distinct().count() == n_corpus + n_batches

    # the loop is closed: more data from the drifted distribution is
    # QUIET against the retrained space and its refreshed baseline
    verdict = S.ivf_retrain_due(
        S.ivf_append(spark, idx, drifted(30_000_000), batch_id=9),
        index_dir=idx,
    )
    assert verdict["due"] is False


@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_cadence_baseline_replay_after_retrain_not_recorded(
    spark, halves, tmp_path
):
    """r15 review: a redelivery of a batch a RETRAIN already folded
    (the auto-retrain crash window; a restart-AFRESH stream re-reading
    old files) produces an IN-TRAINING report — its vectors are
    training members of the refreshed yardstick, no optimism gap — and
    must NOT become the cadence baseline, or every later genuine
    holdout would look ~gap worse than baseline and spuriously fire.
    The folded high-water mark (_folded_hwm, stamped by the retrain
    swap) fences it; a genuinely new bid above the mark records."""
    half_dir, odd1, odd3 = halves
    idx = S.ivf_build(spark, half_dir, index_dir=str(tmp_path / "ivf"))
    assert S._folded_hwm(idx) == -1  # never retrained: fence inert
    r0 = S.ivf_append(spark, idx, odd1, batch_id=0)
    holdout_rel = S.ivf_retrain_due(r0)["rel_drift"]
    assert S.ivf_retrain(spark, idx) is True
    assert S._folded_hwm(idx) == 0
    assert S.load_cadence_baseline(spark, idx) is None

    # crash-window replay of the folded batch: report is ~gapless
    # (its vectors trained the yardstick), baseline slot stays empty
    rep_replay = S.ivf_append(spark, idx, odd1, batch_id=0)
    assert S.load_cadence_baseline(spark, idx) is None
    replay_rel = S.ivf_retrain_due(rep_replay)["rel_drift"]
    # the bias the fence blocks, measured: the in-training report sits
    # far above the genuine holdout's raw drift
    assert replay_rel > holdout_rel / 2

    # a genuinely new bid above the mark records the baseline
    S.ivf_append(spark, idx, odd3, batch_id=1)
    assert {
        r["baseline_bid"]
        for r in S.load_cadence_baseline(spark, idx).collect()
    } == {1}
