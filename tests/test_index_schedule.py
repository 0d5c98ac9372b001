"""Randomized-schedule property for the maintained ANN indexes (IVF
inverted lists, the compressed IVFPQ codes, AND the LSH sig table):
ANY interleaving of appends (fresh bids AND replays), fenced
stream-appends, compacts, and CRASH-compacts (fault injected at a
random rename boundary) must keep the serving invariants — the
stateful generalization of the example crash-ladder walk in
tests/test_similarity.py, run against all three wrappers of the
shared _compact_index core. The serve surface is family-shaped:
(dedup-key tuple, payload) pairs — (vec_id,)->cid for IVF,
(cand_id,)->cid for IVFPQ, and the composite (vec_id, band)->sig for
LSH, where a vector legitimately owns one row per band.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyspark.sql.functions as F  # noqa: F401 - parity with sibling files
import pytest

from ftp_blueprints_spark.operators import similarity as S
from tests.test_similarity import _write_crafted_embeddings

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

N_CHUNKS = 3

# family descriptors: how to build, append into, compact, and read the
# servable rows of each maintained index kind; ``dim`` is the fixture
# vector width (the LSH planes are DIM-wide by contract, the two
# centroid families keep the cheap 8-dim fixture the crash-ladder test
# established)
FAMILIES = {
    "ivf": dict(
        build=S.ivf_build,
        compact=S.ivf_compact,
        data="lists",
        appends="appends",
        dim=8,
    ),
    "ivfpq": dict(
        build=S.ivfpq_build,
        compact=S.ivfpq_compact,
        data="codes",
        appends="code_appends",
        dim=8,
    ),
    "annlsh": dict(
        build=S.ann_lsh_build,
        compact=S.ann_lsh_compact,
        data="sigs",
        appends="appends",
        dim=S.DIM,
    ),
}


def _crafted_vectors(dim):
    """The 24-vector schedule fixture: IVF_K near-axis vectors (two
    active coordinates each) plus 8 all-ones variants, unit-normed."""
    vecs = []
    for k in range(S.IVF_K):
        e = np.zeros(dim)
        e[k % dim] = 1.0
        e[(k + 3) % dim] = 0.25 + 0.05 * (k // dim)
        vecs.append(e / np.linalg.norm(e))
    for j in range(8):
        v = np.ones(dim)
        v[j % dim] += 0.5 + 0.1 * j
        vecs.append(v / np.linalg.norm(v))
    return vecs


def _served_pairs(spark, idx, family):
    """(dedup-key tuple, payload) pairs of the servable rows."""
    if family == "ivf":
        rows = S.ivf_lists_with_appends(spark, idx).collect()
        return [((r["vec_id"],), r["cid"]) for r in rows]
    if family == "ivfpq":
        rows = S.ivfpq_codes_with_appends(spark, idx).collect()
        return [((r["cand_id"],), r["cid"]) for r in rows]
    rows = S.ann_lsh_sigs_with_appends(spark, idx).collect()
    return [((r["vec_id"], r["band"]), r["sig"]) for r in rows]


@pytest.mark.parametrize("family", sorted(FAMILIES))
@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_maintained_index_random_schedule_property(
    spark, tmp_path_factory, family
):
    """Property: starting from a built index, for ANY schedule of
    {append chunk c (bid=c; re-drawing an already-appended chunk is an
    at-least-once REPLAY), fenced stream-append carrying the open-time
    epoch, compact, crash-compact at a random rename boundary}, serving
    holds (a) an id is served at most twice, and twice ONLY when its
    bid was replayed after a compact already folded it into the base —
    the documented quiesce-contract residue, healed at the next
    compact (every other double-serve is a bug), (b) no invented rows
    (⊆ base ∪ appended chunks), (c) the base corpus is never lost,
    (d) every successfully appended chunk is served except in the
    bounded post-crash degraded window (appends renamed aside, not yet
    folded), (e) a stale-epoch stream-append refuses and lands
    NOTHING, and (f) after a CLEAN compact — including the final
    healing one — serving equals base ∪ appended exactly (no
    duplicates) with no fold leftovers. The example-based crash-ladder
    test walks each boundary once in a fixed order; this walks random
    interleavings — replay-after-fold, replay-after-crash,
    crash-after-crash — over all THREE index families. The property's first
    run falsified a TOO-STRONG invariant (never any dup), reproducing
    the replay-after-fold residue the heal test documents: it now pins
    that residue's exact bound."""
    fam = FAMILIES[family]
    # template: built once, copied per example (a build per example
    # would dominate the property's runtime)
    base_dir = tmp_path_factory.mktemp(f"sched_base_{family}")
    dim = fam["dim"]
    vecs = _crafted_vectors(dim)
    _write_crafted_embeddings(base_dir / "embeddings.parquet", vecs)
    template = str(base_dir / "idx")
    fam["build"](spark, str(base_dir), index_dir=template)

    if family == "annlsh":
        cents = None  # frozen state is the deterministic planes
    else:
        cents = spark.read.parquet(
            os.path.join(template, "centroids")
        ).localCheckpoint(eager=True)
    books_q = S._load_books_q(spark, template) if family == "ivfpq" else None

    def append(idx, c, df, expect_epoch=None):
        if family == "ivf":
            S.ivf_append(
                spark, idx, df, batch_id=c, cents=cents,
                expect_epoch=expect_epoch,
            )
        elif family == "ivfpq":
            S.ivfpq_append(
                spark, idx, df, batch_id=c, cents=cents, books_q=books_q,
                expect_epoch=expect_epoch,
            )
        else:
            S.ann_lsh_append(spark, idx, df, batch_id=c, expect_epoch=expect_epoch)

    def df_pairs(df):
        """The family's (dedup-key, payload) surface of a chunk frame:
        the coarse assignment for the two centroid families (codes ride
        along, proven equal by the machinery tests), the frozen-plane
        band sigs for LSH."""
        if family == "annlsh":
            return {
                ((r["vec_id"], r["band"]), r["sig"])
                for r in S.band_signatures(
                    df, S.ANN_BANDS, S.ANN_ROWS, quantize=True
                )
                .select("vec_id", "band", "sig")
                .collect()
            }
        return {
            ((r["vec_id"],), r["cid"])
            for r in S.ivf_assign(df, cents, round_digits=6).collect()
        }

    base_pairs = set(_served_pairs(spark, template, family))
    chunk_dfs, chunk_pairs = {}, {}
    for c in range(N_CHUNKS):
        rows = [
            (1000 + 10 * c + i, [float(x) for x in np.roll(vecs[i], c + 1)])
            for i in range(4)
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        chunk_dfs[c] = df
        chunk_pairs[c] = df_pairs(df)

    real_rename = os.rename

    class Boom(Exception):
        pass

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(st.data())
    def run(data):
        idx = os.path.join(str(tmp_path_factory.mktemp("sched")), "idx")
        shutil.copytree(template, idx)
        appended: set[int] = set()
        folded: set[int] = set()  # bids a compact moved into the base
        residue: set[int] = set()  # folded bids later replayed (dup window)
        degraded = False  # a crash left appends renamed aside (unserved)
        # a long-lived fenced stream: epoch snapshotted once, at open
        stream_epoch = S.compaction_epoch(idx)

        def expected():
            out = set(base_pairs)
            for c in appended:
                out |= chunk_pairs[c]
            return out

        def check(data_must_exist: bool):
            """Serving invariants; returns the served pairs (or None in
            the legal mid-swap window) so callers reuse the collect."""
            if not os.path.isdir(os.path.join(idx, fam["data"])):
                assert not data_must_exist  # only a mid-swap crash window
                return None
            served = _served_pairs(spark, idx, family)
            from collections import Counter

            cnt = Counter(v for v, _ in served)
            dup_ok = {
                vid for c in residue for vid, _ in chunk_pairs[c]
            }
            # (a) at most 2 copies, and only for replayed-after-fold ids
            assert all(n <= 2 for n in cnt.values())
            assert {v for v, n in cnt.items() if n > 1} <= dup_ok
            assert set(served) <= expected()  # (b) never invents rows
            assert set(served) >= base_pairs  # (c) base never lost
            return served

        n_ops = data.draw(st.integers(min_value=2, max_value=6))
        for _ in range(n_ops):
            op = data.draw(
                st.sampled_from(
                    ["append", "append", "compact", "crash", "stream_append"]
                )
            )
            if op == "stream_append":
                # the fenced path: the stream's open-time epoch either
                # still holds (append lands like any other) or a fold
                # advanced it (append must refuse and land NOTHING)
                c = data.draw(st.integers(0, N_CHUNKS - 1))
                if S.compaction_epoch(idx) == stream_epoch:
                    append(idx, c, chunk_dfs[c], expect_epoch=stream_epoch)
                    appended.add(c)
                    # a fenced replay-after-fold is impossible by
                    # construction: every fold bumps the epoch, so the
                    # stream branch can only land while nothing folded
                    assert c not in folded
                    check(data_must_exist=not degraded)
                else:
                    before = (
                        sorted(_served_pairs(spark, idx, family))
                        if os.path.isdir(os.path.join(idx, fam["data"]))
                        else None
                    )
                    with pytest.raises(S.CompactionFenceError):
                        append(idx, c, chunk_dfs[c], expect_epoch=stream_epoch)
                    if before is not None:  # (e) refused = landed nothing
                        assert sorted(_served_pairs(spark, idx, family)) == before
                continue
            if op == "append":
                c = data.draw(st.integers(0, N_CHUNKS - 1))
                append(idx, c, chunk_dfs[c])
                appended.add(c)
                if c in folded:
                    residue.add(c)  # replay of an already-folded bid
                # a prior mid-swap crash may leave the base dir missing
                # until the next compact restores it — the append never
                # touches it, so that window is legal while degraded
                served = check(data_must_exist=not degraded)
                if served is not None:
                    assert chunk_pairs[c] <= set(served)  # (d) landed bid serves
            elif op == "compact":
                fam["compact"](spark, idx)
                degraded = False
                folded |= set(appended)
                residue.clear()  # key-dedup healed the replay residue
                served = check(data_must_exist=True)
                assert sorted(served) == sorted(expected())  # (f) exact, no dups
            else:  # crash-compact: fault at a random idx-scoped rename
                # up to 5 renames: a compact on an already-degraded
                # index restores the backup FIRST (restore, aside,
                # epoch, data->old, tmp->data) — k=5 reaches the
                # publish boundary in crash-after-crash schedules;
                # draws past the path's actual count fall through as
                # clean folds (handled below)
                k = data.draw(st.integers(min_value=1, max_value=5))
                calls = {"n": 0}

                def boom(src, dst, *, _k=k, _calls=calls):
                    if str(src).startswith(idx):
                        _calls["n"] += 1
                        if _calls["n"] == _k:
                            raise Boom(src)
                    return real_rename(src, dst)

                os.rename = boom
                try:
                    folded_now = fam["compact"](spark, idx)
                    crashed = False
                except Boom:
                    crashed = True
                finally:
                    os.rename = real_rename
                if crashed:
                    degraded = True
                else:
                    # the injection point exceeded the rename count (a
                    # folding-leftovers-only fold has 3) — a clean fold
                    if folded_now:
                        folded |= set(appended)
                        residue.clear()
                    degraded = False
                check(data_must_exist=False)

        # final heal: one compact restores the exact-equality invariant
        # (False = nothing to fold is only legal when not degraded)
        healed = fam["compact"](spark, idx)
        assert healed or not degraded
        final = _served_pairs(spark, idx, family)
        assert sorted(final) == sorted(expected())  # exact, residue healed
        leftovers = [
            d
            for d in os.listdir(idx)
            if d.startswith(
                (f"{fam['appends']}.folding.", f"{fam['data']}.compacting.")
            )
        ]
        assert leftovers == []

    run()


READERS = {
    "ivf": S.ivf_lists_with_appends,
    "ivfpq": S.ivfpq_codes_with_appends,
    "annlsh": S.ann_lsh_sigs_with_appends,
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_stale_serve_frame_fails_loudly_after_compact(
    spark, tmp_path, family
):
    """Pins the serve-frame reader contract for every maintained index
    family (r11 VERDICT task 5, the CMS registry's stale-reader test
    applied to its three older siblings): a with-appends frame acquired
    BEFORE a compact is bound to the pre-fold base and append files;
    after the compact's two-rename publish replaces the base and clears
    the appends, the stale frame's first action must fail LOUDLY with a
    missing-file error — never silently serve a stale or partial index.
    A frame re-acquired after the compact serves the exact folded rows."""
    fam = FAMILIES[family]
    base_dir = tmp_path / "corpus"
    base_dir.mkdir()
    dim = fam["dim"]
    vecs = _crafted_vectors(dim)
    _write_crafted_embeddings(base_dir / "embeddings.parquet", vecs)
    idx = str(tmp_path / "idx")
    fam["build"](spark, str(base_dir), index_dir=idx)

    cents = (
        None
        if family == "annlsh"
        else spark.read.parquet(
            os.path.join(idx, "centroids")
        ).localCheckpoint(eager=True)
    )
    books_q = S._load_books_q(spark, idx) if family == "ivfpq" else None
    chunk = spark.createDataFrame(
        [
            (2000 + i, [float(x) for x in np.roll(vecs[i], 1)])
            for i in range(4)
        ],
        "vec_id bigint, embedding array<float>",
    )
    if family == "ivf":
        S.ivf_append(spark, idx, chunk, batch_id=0, cents=cents)
    elif family == "ivfpq":
        S.ivfpq_append(
            spark, idx, chunk, batch_id=0, cents=cents, books_q=books_q
        )
    else:
        S.ann_lsh_append(spark, idx, chunk, batch_id=0)

    expected = sorted(_served_pairs(spark, idx, family))
    stale = READERS[family](spark, idx)  # plan bound pre-compact
    assert fam["compact"](spark, idx) is True

    with pytest.raises(Exception) as ei:
        stale.collect()
    msg = str(ei.value)
    assert (
        "FileNotFound" in msg
        or "does not exist" in msg
        or "PATH_NOT_FOUND" in msg
    ), f"stale read failed but not loudly-missing: {msg[:300]}"
    assert not isinstance(ei.value, AssertionError)
    # a fresh frame serves the folded index exactly
    assert sorted(_served_pairs(spark, idx, family)) == expected


@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_exact_dedup_index_random_schedule_property(spark, tmp_path_factory):
    """Randomized replay/crash schedule for the maintained exact-dedup
    index (r11 VERDICT task 6) — the property backing the written
    adjudication in run_incremental_exact_stream's docstring: this
    family needs NO append/compact/epoch fence because it never folds;
    every commit is a bid-keyed dynamic partition overwrite whose
    content is a deterministic function of (batch content,
    bid-watermarked index reads), so replays rewrite bit-identical
    partitions. The property drives _incremental_microbatch (the
    foreachBatch body) directly under the at-least-once model: first
    deliveries in bid order, a crashed delivery redelivered before the
    next new bid (exactly Structured Streaming's recovery), arbitrary
    replays of committed bids (stronger than the real guarantee),
    corpus re-seeds, and crashes injected before either of the two
    partition commits (out landed / index not — the partial-commit
    window foreachBatch recovery must heal). Invariants after every
    completed op: the index holds exactly the seed plus each
    index-committed bid's first-seen (h, min-id) rows — one row per h,
    no residue, no healing needed; every landed out partition holds
    exactly the schedule-independent expected classification; no
    duplicate doc_id rows ever."""
    from collections import Counter

    from pyspark.sql.readwriter import DataFrameWriter

    from ftp_blueprints_spark.operators import dedup as D

    corpus_rows = [(1, "A"), (3, "B"), (5, "C")]
    batches = {
        0: [(2, "A"), (4, "X"), (6, "X")],  # corpus twin; new; in-batch twin
        1: [(8, "X"), (10, "Y")],  # earlier-batch twin; new
        2: [(12, "Y"), (14, "B"), (16, "Z")],  # batch twin; corpus twin; new
    }
    n_batches = len(batches)

    # schedule-independent expected state, derived from the documented
    # classification rule (first deliveries are in bid order, so the
    # index a batch reads always holds every lower bid)
    model_idx = {h: (min(d for d, hh in corpus_rows if hh == h), "corpus", -1)
                 for _, h in corpus_rows}
    expected_idx_rows = {}  # bid -> {(h, ref, origin, bid)}
    expected_out_rows = {}  # bid -> {(doc_id, status, ref, bid)}
    for k in sorted(batches):
        rows = batches[k]
        mb_first = {}
        for d, h in rows:
            mb_first[h] = min(mb_first.get(h, d), d)
        out = set()
        for d, h in rows:
            hit = model_idx.get(h)
            if hit is not None:
                status = "dup_corpus" if hit[1] == "corpus" else "dup_batch"
                ref = hit[0]
            elif d > mb_first[h]:
                status, ref = "dup_batch", mb_first[h]
            else:
                status, ref = "kept", d
            out.add((d, status, ref, k))
        expected_out_rows[k] = out
        new = {
            (h, mb_first[h], "batch", k)
            for h in mb_first
            if h not in model_idx
        }
        expected_idx_rows[k] = new
        for h, ref, origin, bid in new:
            model_idx[h] = (ref, origin, bid)
    seed_rows = {
        (h, ref, "corpus", -1)
        for h, (ref, _, _) in model_idx.items()
        if model_idx[h][1] == "corpus"
    }

    real_parquet = DataFrameWriter.parquet

    class Boom(Exception):
        pass

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(st.data())
    def run(data):
        base = str(tmp_path_factory.mktemp("dd_sched"))
        index_dir = os.path.join(base, "idx")
        out_dir = os.path.join(base, "out")
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, h string")
        D.seed_exact_index(corpus, index_dir)
        landed_out: set[int] = set()
        landed_idx: set[int] = set()
        committed: set[int] = set()
        pending: int | None = None  # crashed bid awaiting redelivery
        next_new = 0

        def deliver(k, crash_at=None):
            nonlocal pending
            df = spark.createDataFrame(batches[k], "doc_id long, h string")
            if crash_at is None:
                D._incremental_microbatch(df, k, index_dir, out_dir)
                landed_out.add(k)
                landed_idx.add(k)
                committed.add(k)
                # only a redelivery of THE crashed bid clears it — a
                # replay of an older committed bid must not (the first
                # harness draft cleared unconditionally, and hypothesis
                # promptly generated the illegal schedule deliver(2)
                # with bid 1 still uncommitted, which Structured
                # Streaming's sequential batch commit cannot produce)
                if k == pending:
                    pending = None
                return
            calls = {"n": 0}

            def boom(self, path, *a, **kw):
                calls["n"] += 1
                if calls["n"] == crash_at:
                    raise Boom(path)
                return real_parquet(self, path, *a, **kw)

            DataFrameWriter.parquet = boom
            try:
                with pytest.raises(Boom):
                    D._incremental_microbatch(df, k, index_dir, out_dir)
            finally:
                DataFrameWriter.parquet = real_parquet
            if crash_at == 2:
                landed_out.add(k)  # partial commit: out only
            if k not in committed:
                pending = k

        def check():
            idx = {
                (r.h, r.ref, r.origin, r.bid)
                for r in spark.read.schema(D._INCR_IDX_SCHEMA)
                .parquet(index_dir)
                .collect()
            }
            expect_idx = set(seed_rows)
            for k in landed_idx:
                expect_idx |= expected_idx_rows[k]
            assert idx == expect_idx, (
                index_dir,
                sorted(os.listdir(index_dir)),
                sorted(landed_idx),
            )  # one row per h, no residue
            assert len({h for h, *_ in idx}) == len(idx)
            if landed_out:
                out = [
                    (r.doc_id, r.status, r.dedup_ref, r.bid)
                    for r in spark.read.parquet(out_dir).collect()
                ]
                expect_out = set()
                for k in landed_out:
                    expect_out |= expected_out_rows[k]
                assert set(out) == expect_out
                dup = Counter((d, b) for d, _, _, b in out)
                assert all(n == 1 for n in dup.values())  # no dup doc rows

        for _ in range(data.draw(st.integers(min_value=3, max_value=7))):
            choices = ["reseed"]
            if pending is not None or next_new < n_batches:
                choices += ["deliver", "deliver", "crash"]
            if committed:
                choices += ["replay", "crash_replay"]
            op = data.draw(st.sampled_from(choices))
            if op == "deliver":
                k = pending if pending is not None else next_new
                if pending is None:
                    next_new += 1
                deliver(k)
            elif op == "crash":
                k = pending if pending is not None else next_new
                if pending is None:
                    next_new += 1
                deliver(k, crash_at=data.draw(st.integers(1, 2)))
            elif op == "replay":
                deliver(data.draw(st.sampled_from(sorted(committed))))
            elif op == "crash_replay":
                deliver(
                    data.draw(st.sampled_from(sorted(committed))),
                    crash_at=data.draw(st.integers(1, 2)),
                )
            else:
                D.seed_exact_index(corpus, index_dir)
            check()

        # recovery converges: redeliver any crashed bid, then everything
        # delivered is served exactly
        if pending is not None:
            deliver(pending)
        check()

    run()


TWINS = {
    "ivf": S.run_incremental_ivf_stream,
    "ivfpq": S.run_incremental_ivfpq_stream,
    "annlsh": S.run_incremental_lsh_stream,
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_fresh_checkpoint_refused_on_live_appends(spark, tmp_path, family):
    """r12 (the CMS registry's fresh-checkpoint hazard generalized to
    the index families): a stream twin opened with a FRESH checkpoint
    while live append bids exist must refuse loudly BEFORE any batch
    lands — its ids would restart at 0 and the bid-keyed dynamic
    overwrites would partially replace the prior stream's bid=0
    partitions, silently dropping appended vectors; neither the epoch
    fence (a fresh stream snapshots the current epoch) nor compact's
    append-only contract (rows are removed, not changed) can see it.
    Legal starts must stay legal: no appends yet, resumed checkpoint,
    or appends folded away by a compact."""
    fam = FAMILIES[family]
    base_dir = tmp_path / "corpus"
    base_dir.mkdir()
    dim = fam["dim"]
    vecs = _crafted_vectors(dim)
    _write_crafted_embeddings(base_dir / "embeddings.parquet", vecs)
    idx = str(tmp_path / "idx")
    fam["build"](spark, str(base_dir), index_dir=idx)

    missing_ckpt = str(tmp_path / "fresh_ckpt")  # never created
    # legal: first start, no appends yet
    S._refuse_fresh_checkpoint(idx, fam["appends"], missing_ckpt)

    cents = (
        None
        if family == "annlsh"
        else spark.read.parquet(
            os.path.join(idx, "centroids")
        ).localCheckpoint(eager=True)
    )
    books_q = S._load_books_q(spark, idx) if family == "ivfpq" else None
    chunk = spark.createDataFrame(
        [
            (3000 + i, [float(x) for x in np.roll(vecs[i], 1)])
            for i in range(4)
        ],
        "vec_id bigint, embedding array<float>",
    )
    if family == "ivf":
        S.ivf_append(spark, idx, chunk, batch_id=0, cents=cents)
    elif family == "ivfpq":
        S.ivfpq_append(
            spark, idx, chunk, batch_id=0, cents=cents, books_q=books_q
        )
    else:
        S.ann_lsh_append(spark, idx, chunk, batch_id=0)
    served = sorted(_served_pairs(spark, idx, family))

    # the refusal, through the real twin entry point: raises at open,
    # before the checkpoint exists or any batch lands
    with pytest.raises(S.CompactionFenceError, match="fresh checkpoint"):
        TWINS[family](spark, idx, chunk, checkpoint_dir=missing_ckpt)
    assert not os.path.isdir(missing_ckpt)
    assert sorted(_served_pairs(spark, idx, family)) == served

    # an existing-but-EMPTY checkpoint dir is still fresh (r12 review:
    # deploy tooling pre-creates dirs; ids still assign from 0)
    os.makedirs(missing_ckpt)
    with pytest.raises(S.CompactionFenceError, match="fresh checkpoint"):
        S._refuse_fresh_checkpoint(idx, fam["appends"], missing_ckpt)
    # committed offsets mark it resumed — the check is skipped
    os.makedirs(os.path.join(missing_ckpt, "offsets"))
    with open(os.path.join(missing_ckpt, "offsets", "0"), "w") as fh:
        fh.write("{}")
    S._refuse_fresh_checkpoint(idx, fam["appends"], missing_ckpt)
    # ...and a compact folds the bids away, so a genuinely new stream
    # (new checkpoint) may start
    assert fam["compact"](spark, idx) is True
    S._refuse_fresh_checkpoint(
        idx, fam["appends"], str(tmp_path / "fresh_ckpt2")
    )


@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_ivf_retrain_random_schedule_property(spark, tmp_path_factory):
    """RETRAIN joins the walk alphabet (r12 VERDICT task 6): starting
    from a built IVF index, for ANY schedule of {append (re-drawing =
    at-least-once replay), compact, retrain, crash-retrain at either
    publish rename}, the serving invariants hold — and a PUBLISHED
    retrain (clean, or rolled forward after a mid-swap crash) leaves
    serving EXACTLY equal to the assignment of base ∪ appended ids
    into the newly published centroids, with appends consumed and
    replay residue deduped out of the refit (the multiset-vs-set
    hazard this property was pointed at: training on raw
    lists ∪ appends would double-weight replayed vectors).

    Crash model (exact-path rename injection, as the example ladder):
    k=1 dies INSTEAD of rename1 — the live index is untouched, the
    ready snapshot is swept by the next retrain; k=2 dies between the
    renames — the index dir is MISSING (readers fail loudly) until the
    next retrain call rolls the ready snapshot forward. After any
    publish the walk reloads the frozen centroids before appending
    again — the restart-AFRESH stream rule applied to the walk's
    append closure.

    r15: the CADENCE BASELINE artifact joins the modeled state. The
    invariant, held at every checkpoint of the walk: the persisted
    baseline is exactly the drift report of the first successful
    append since the last publish whose bid clears the FOLDED
    HIGH-WATER MARK (bids a retrain folded are training members of the
    live yardstick — their replayed reports carry no optimism gap and
    must never calibrate it; _folded_hwm), recomputable from the live
    stats yardstick + that chunk's assignment; it is ABSENT iff no
    such append landed since (fresh build, just-published retrain, or
    only sub-hwm replays since one); replays and later appends never
    rotate it (write-once); a fenced refused append never records one;
    compact never touches it and never advances the mark (it folds
    rows without refitting the yardstick, so its replays remain
    genuine holdouts); every publish — clean retrain or rolled-forward
    dead swap — clears the baseline and advances the mark to the
    fold's highest bid."""
    base_dir = tmp_path_factory.mktemp("resched_base")
    dim = FAMILIES["ivf"]["dim"]
    vecs = _crafted_vectors(dim)
    _write_crafted_embeddings(base_dir / "embeddings.parquet", vecs)
    template = str(base_dir / "idx")
    S.ivf_build(spark, str(base_dir), index_dir=template)
    base_df = spark.read.parquet(
        str(base_dir / "embeddings.parquet")
    ).localCheckpoint(eager=True)

    chunk_dfs = {}
    for c in range(N_CHUNKS):
        rows = [
            (1000 + 10 * c + i, [float(x) for x in np.roll(vecs[i], c + 1)])
            for i in range(4)
        ]
        chunk_dfs[c] = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        ).localCheckpoint(eager=True)

    real_rename = os.rename

    class Boom(Exception):
        pass

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(st.data())
    def run(data):
        idx = os.path.join(str(tmp_path_factory.mktemp("resched")), "idx")
        shutil.copytree(template, idx)
        cents_cur = spark.read.parquet(
            os.path.join(idx, "centroids")
        ).localCheckpoint(eager=True)
        appended: set[int] = set()
        folded: set[int] = set()
        residue: set[int] = set()
        missing = False  # k=2 crash: index dir gone until healed
        # a long-lived fenced stream: epoch snapshotted once, at open.
        # Every retrain bumps the epoch BEFORE its fold (even one that
        # later crashes or refuses), so the stream branch must refuse
        # from the first retrain-ish op onward — the bump→refuse
        # semantics the engine's fence is for.
        stream_epoch = S.compaction_epoch(idx)

        def assign_pairs(df):
            return {
                ((r["vec_id"],), r["cid"])
                for r in S.ivf_assign(df, cents_cur, round_digits=6).collect()
            }

        def expected():
            out = assign_pairs(base_df)
            for c in appended:
                out |= assign_pairs(chunk_dfs[c])
            return out

        # model: first post-publish appended bid above the folded hwm
        baseline_bid = [None]
        hwm = [-1]  # model twin of _folded_hwm

        def live_bids() -> set[int]:
            # the bids currently under appends/ (fresh + replay residue)
            return (appended - folded) | residue

        def note_append(c: int) -> None:
            if baseline_bid[0] is None and c > hwm[0]:
                baseline_bid[0] = c

        def check_baseline():
            assert S._folded_hwm(idx) == hwm[0]
            bl = S.load_cadence_baseline(spark, idx)
            if baseline_bid[0] is None:
                assert bl is None
                return
            rows = bl.collect()
            assert {r["baseline_bid"] for r in rows} == {baseline_bid[0]}

            def key(rs):
                return sorted(
                    (
                        r["cid"], r["n_base"], r["n_new"],
                        r["base_cos_sum_mu"], r["new_cos_sum_mu"],
                        r["drift_num_mu"],
                    )
                    for r in rs
                )

            # content = that bid's report, recomputable from the LIVE
            # yardstick (a baseline can only exist under the frozen
            # state it was recorded against — publishes clear it)
            exp_rep = S._drift_report(
                spark.read.parquet(os.path.join(idx, "stats")),
                S._assign_cos_stats(
                    S.ivf_assign(
                        chunk_dfs[baseline_bid[0]], cents_cur, round_digits=6
                    ),
                    cents_cur,
                ),
            )
            assert key(rows) == key(exp_rep.collect())

        def check():
            served = _served_pairs(spark, idx, "ivf")
            from collections import Counter

            cnt = Counter(v for v, _ in served)
            dup_ok = {
                vid for c in residue for vid, _ in assign_pairs(chunk_dfs[c])
            }
            assert all(n <= 2 for n in cnt.values())
            assert {v for v, n in cnt.items() if n > 1} <= dup_ok
            assert set(served) <= expected()
            assert set(served) >= assign_pairs(base_df)
            check_baseline()
            return served

        def after_publish():
            # a PUBLISHED retrain: appends consumed, residue deduped
            # out of the refit, frozen state refreshed — reload the
            # centroids (restart-AFRESH) and require exact serving
            nonlocal cents_cur, missing
            missing = False
            cents_cur = spark.read.parquet(
                os.path.join(idx, "centroids")
            ).localCheckpoint(eager=True)
            folded.clear()
            folded.update(appended)
            residue.clear()
            baseline_bid[0] = None  # the artifact lives in the old dir
            assert not os.path.isdir(os.path.join(idx, "appends"))
            check_baseline()
            assert sorted(_served_pairs(spark, idx, "ivf")) == sorted(
                expected()
            )

        n_ops = data.draw(st.integers(min_value=2, max_value=6))
        for _ in range(n_ops):
            if missing:
                # only legal move: heal via the preamble (roll forward
                # publishes the dead swap's snapshot)
                S.ivf_retrain(spark, idx)
                after_publish()
                continue
            op = data.draw(
                st.sampled_from(
                    [
                        "append",
                        "append",
                        "compact",
                        "retrain",
                        "crash_retrain",
                        "stream_append",
                    ]
                )
            )
            if op == "stream_append":
                c = data.draw(st.integers(0, N_CHUNKS - 1))
                if S.compaction_epoch(idx) == stream_epoch:
                    S.ivf_append(
                        spark, idx, chunk_dfs[c], batch_id=c, cents=cents_cur,
                        expect_epoch=stream_epoch,
                    )
                    appended.add(c)
                    note_append(c)
                    assert c not in folded  # folds always bump first
                    check()
                else:
                    before = sorted(_served_pairs(spark, idx, "ivf"))
                    with pytest.raises(S.CompactionFenceError):
                        S.ivf_append(
                            spark, idx, chunk_dfs[c], batch_id=c,
                            cents=cents_cur, expect_epoch=stream_epoch,
                        )
                    # refused = landed nothing, recorded no baseline
                    assert sorted(_served_pairs(spark, idx, "ivf")) == before
                    check_baseline()
                continue
            if op == "append":
                c = data.draw(st.integers(0, N_CHUNKS - 1))
                S.ivf_append(
                    spark, idx, chunk_dfs[c], batch_id=c, cents=cents_cur
                )
                appended.add(c)
                note_append(c)
                if c in folded:
                    residue.add(c)
                served = check()
                assert assign_pairs(chunk_dfs[c]) <= set(served)
            elif op == "compact":
                S.ivf_compact(spark, idx)
                folded.update(appended)
                residue.clear()
                served = check()
                assert sorted(served) == sorted(expected())
            elif op == "retrain":
                live = live_bids()
                if S.ivf_retrain(spark, idx):
                    hwm[0] = max(hwm[0], max(live))
                    after_publish()
                else:
                    check()  # no appends: state untouched
            else:  # crash_retrain at publish rename k ∈ {1, 2}
                k = data.draw(st.integers(min_value=1, max_value=2))
                live = live_bids()
                calls = {"n": 0}

                def boom(src, dst, *, _k=k, _calls=calls):
                    if str(src) == idx or str(dst) == idx:
                        _calls["n"] += 1
                        if _calls["n"] == _k:
                            raise Boom(src)
                    return real_rename(src, dst)

                os.rename = boom
                try:
                    ran = S.ivf_retrain(spark, idx)
                    crashed = False
                except Boom:
                    crashed = True
                finally:
                    os.rename = real_rename
                if not crashed:
                    # no appends: the no-op returned before the renames
                    assert ran is False
                    check()
                elif k == 1:
                    # died INSTEAD of rename1: fully live, old state
                    # served; the ready snapshot is swept next retrain
                    check()
                else:
                    # died between the renames: loud, never stale; the
                    # fully-written snapshot (it will roll forward)
                    # carries the crashed fold's high-water mark
                    missing = True
                    hwm[0] = max(hwm[0], max(live))
                    assert not os.path.isdir(idx)

        if missing:
            S.ivf_retrain(spark, idx)
            after_publish()
        # final heal: a retrain (or no-op) then exact serving
        live = live_bids()
        if S.ivf_retrain(spark, idx):
            hwm[0] = max(hwm[0], max(live))
            after_publish()
        final = _served_pairs(spark, idx, "ivf")
        # residue may remain if the walk ended append-after-fold with
        # no later publish; one compact erases it exactly — and leaves
        # the baseline artifact alone (the yardstick is not refit)
        S.ivf_compact(spark, idx)
        check_baseline()
        final = _served_pairs(spark, idx, "ivf")
        assert sorted(final) == sorted(expected())
        leftovers = [
            d
            for d in os.listdir(idx)
            if d.startswith(("appends.folding.", "lists.compacting."))
        ]
        assert leftovers == []

    run()


@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_lsh_retrain_random_schedule_property(spark, tmp_path_factory):
    """The corpus-taking, WIDTH-CHANGING retrain joins the walk: for
    ANY schedule of {append/replay, compact, adaptive retrain,
    crash-retrain at either publish rename, retrain-with-a-WRONG-
    corpus}, the LSH index's serving invariants hold at whatever width
    is currently published — appends hash at the marker width
    (_lsh_index_width), a published retrain serves exactly
    band_signatures(base ∪ appended ids) at the newly recorded width
    with appends consumed, a wrong corpus changes NOTHING, and the
    mid-swap crash window stays loud until rolled forward. This is the
    IVF retrain walk generalized to the family where the frozen state
    (the hash width) actually changes shape across retrains."""
    base_dir = tmp_path_factory.mktemp("lshsched_base")
    dim = S.DIM
    rng_vecs = _crafted_vectors(dim)
    _write_crafted_embeddings(base_dir / "embeddings.parquet", rng_vecs)
    template = str(base_dir / "idx")
    S.ann_lsh_build(spark, str(base_dir), index_dir=template)
    base_df = (
        spark.read.parquet(str(base_dir / "embeddings.parquet"))
        .select("vec_id", "embedding")  # crafted fixture carries extras
        .localCheckpoint(eager=True)
    )

    chunk_dfs = {}
    for c in range(N_CHUNKS):
        rows = [
            (
                1000 + 10 * c + i,
                [float(x) for x in np.roll(rng_vecs[i], c + 1)],
            )
            for i in range(4)
        ]
        chunk_dfs[c] = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        ).localCheckpoint(eager=True)

    real_rename = os.rename

    class Boom(Exception):
        pass

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(st.data())
    def run(data):
        idx = os.path.join(str(tmp_path_factory.mktemp("lshsched")), "idx")
        shutil.copytree(template, idx)
        appended: set[int] = set()
        folded: set[int] = set()
        residue: set[int] = set()
        missing = False

        def width():
            return S._lsh_index_width(idx)[1]

        def hash_pairs(df, w):
            return {
                ((r["vec_id"], int(r["band"])), r["sig"])
                for r in S.band_signatures(df, S.ANN_BANDS, w, quantize=True)
                .select("vec_id", "band", "sig")
                .collect()
            }

        def corpus_now():
            out = base_df
            for c in sorted(appended):
                out = out.unionByName(chunk_dfs[c])
            return out

        def expected(w):
            out = hash_pairs(base_df, w)
            for c in appended:
                out |= hash_pairs(chunk_dfs[c], w)
            return out

        def check():
            w = width()
            served = _served_pairs(spark, idx, "annlsh")
            from collections import Counter

            cnt = Counter(v for v, _ in served)
            dup_ok = {
                key for c in residue for key, _ in hash_pairs(chunk_dfs[c], w)
            }
            assert all(n <= 2 for n in cnt.values())
            assert {v for v, n in cnt.items() if n > 1} <= dup_ok
            assert set(served) <= expected(w)
            assert set(served) >= hash_pairs(base_df, w)
            return served

        def after_publish():
            nonlocal missing
            missing = False
            folded.clear()
            folded.update(appended)
            residue.clear()
            assert not os.path.isdir(os.path.join(idx, "appends"))
            assert sorted(_served_pairs(spark, idx, "annlsh")) == sorted(
                expected(width())
            )

        n_ops = data.draw(st.integers(min_value=2, max_value=5))
        for _ in range(n_ops):
            if missing:
                S.ann_lsh_retrain(spark, idx, corpus_now())
                after_publish()
                continue
            op = data.draw(
                st.sampled_from(
                    [
                        "append",
                        "append",
                        "compact",
                        "retrain",
                        "crash_retrain",
                        "bad_retrain",
                        "dup_retrain",
                    ]
                )
            )
            if op == "append":
                c = data.draw(st.integers(0, N_CHUNKS - 1))
                S.ann_lsh_append(spark, idx, chunk_dfs[c], batch_id=c)
                appended.add(c)
                if c in folded:
                    residue.add(c)
                served = check()
                assert hash_pairs(chunk_dfs[c], width()) <= set(served)
            elif op == "compact":
                S.ann_lsh_compact(spark, idx)
                folded.update(appended)
                residue.clear()
                served = check()
                assert sorted(served) == sorted(expected(width()))
            elif op == "bad_retrain":
                # a wrong corpus (base only, missing appended ids, or
                # with appended ids the index lacks) must change NOTHING
                if appended:
                    wrong = base_df  # missing the appended ids
                else:
                    wrong = base_df.unionByName(chunk_dfs[0])  # extras
                before = sorted(_served_pairs(spark, idx, "annlsh"))
                with pytest.raises(
                    ValueError, match="does not match the served"
                ):
                    S.ann_lsh_retrain(spark, idx, wrong, force=True)
                assert sorted(_served_pairs(spark, idx, "annlsh")) == before
            elif op == "dup_retrain":
                # the RIGHT id set as a multiset — a duplicated row, or
                # one vec_id carrying a second embedding — must refuse
                # loudly and change NOTHING (r13 advice)
                extra = base_df.orderBy("vec_id").limit(1)
                if data.draw(st.booleans()):
                    extra = extra.withColumn(
                        "embedding",
                        F.expr(
                            "transform(embedding,"
                            " x -> x + cast(1.0 as float))"
                        ),
                    )
                    msg = "more than one distinct embedding"
                else:
                    msg = "duplicate row"
                before = sorted(_served_pairs(spark, idx, "annlsh"))
                with pytest.raises(ValueError, match=msg):
                    S.ann_lsh_retrain(
                        spark, idx, corpus_now().unionByName(extra),
                        force=True,
                    )
                assert sorted(_served_pairs(spark, idx, "annlsh")) == before
            elif op == "retrain":
                if S.ann_lsh_retrain(spark, idx, corpus_now()):
                    after_publish()
                else:
                    check()
            else:  # crash_retrain
                if not any(
                    d.startswith("bid=")
                    for d in (
                        os.listdir(os.path.join(idx, "appends"))
                        if os.path.isdir(os.path.join(idx, "appends"))
                        else []
                    )
                ):
                    continue  # would no-op before the renames
                k = data.draw(st.integers(min_value=1, max_value=2))
                calls = {"n": 0}

                def boom(src, dst, *, _k=k, _calls=calls):
                    if str(src) == idx or str(dst) == idx:
                        _calls["n"] += 1
                        if _calls["n"] == _k:
                            raise Boom(src)
                    return real_rename(src, dst)

                os.rename = boom
                try:
                    S.ann_lsh_retrain(spark, idx, corpus_now())
                    crashed = False
                except Boom:
                    crashed = True
                finally:
                    os.rename = real_rename
                assert crashed
                if k == 1:
                    check()  # fully live, old width still served
                else:
                    missing = True
                    assert not os.path.isdir(idx)

        if missing:
            S.ann_lsh_retrain(spark, idx, corpus_now())
            after_publish()
        if S.ann_lsh_retrain(spark, idx, corpus_now()):
            after_publish()
        S.ann_lsh_compact(spark, idx)
        final = _served_pairs(spark, idx, "annlsh")
        assert sorted(final) == sorted(expected(width()))

    run()


@pytest.mark.slow  # >10 s measured (r16 durations profile)
def test_ivfpq_retrain_random_schedule_property(spark, tmp_path_factory):
    """The THIRD family joins the retrain walk (r13 VERDICT task 4):
    for ANY schedule of {append/replay, compact, retrain-on-the-exact-
    corpus, crash-retrain at either publish rename, retrain-with-a-
    WRONG-corpus, retrain-with-a-DUPLICATE-or-CONFLICTING-corpus}, the
    IVFPQ index's serving invariants hold. The family's load-bearing
    simplification: centroids only change at a retrain, and a retrain
    consumes every append — so at EVERY point in ANY schedule, every
    served row's coarse label equals the round-6 assignment of its
    vector against the CURRENTLY published centroids (fit labels ARE
    that assignment; append labels are made against the same frozen
    state). The walk asserts exactly that, plus the replay-residue
    bound, the wrong/duplicate/conflicting-corpus refusals changing
    NOTHING, and the mid-swap crash window staying loud until rolled
    forward. The compressed family's four-artifact atomic publish
    (centroids + codes + stats + codebooks) is exactly this property's
    state-space shape — the walk found a real bug on every family it
    was pointed at."""
    base_dir = tmp_path_factory.mktemp("pqsched_base")
    dim = S.DIM
    vecs = _crafted_vectors(dim)
    _write_crafted_embeddings(base_dir / "embeddings.parquet", vecs)
    template = str(base_dir / "idx")
    S.ivfpq_build(spark, str(base_dir), index_dir=template)
    base_df = (
        spark.read.parquet(str(base_dir / "embeddings.parquet"))
        .select("vec_id", "embedding")  # crafted fixture carries extras
        .localCheckpoint(eager=True)
    )

    chunk_dfs = {}
    for c in range(N_CHUNKS):
        rows = [
            (
                1000 + 10 * c + i,
                [float(x) for x in np.roll(vecs[i], c + 1)],
            )
            for i in range(4)
        ]
        chunk_dfs[c] = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        ).localCheckpoint(eager=True)

    real_rename = os.rename

    class Boom(Exception):
        pass

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(st.data())
    def run(data):
        idx = os.path.join(str(tmp_path_factory.mktemp("pqsched")), "idx")
        shutil.copytree(template, idx)
        appended: set[int] = set()
        folded: set[int] = set()
        residue: set[int] = set()
        missing = False

        def cur_cents():
            return spark.read.parquet(
                os.path.join(idx, "centroids")
            ).localCheckpoint(eager=True)

        def assign_pairs(df, cents):
            return {
                ((r["vec_id"],), int(r["cid"]))
                for r in S.ivf_assign(df, cents, round_digits=6).collect()
            }

        def corpus_now():
            out = base_df
            for c in sorted(appended):
                out = out.unionByName(chunk_dfs[c])
            return out

        def expected(cents):
            out = assign_pairs(base_df, cents)
            for c in appended:
                out |= assign_pairs(chunk_dfs[c], cents)
            return out

        def check():
            cents = cur_cents()
            served = _served_pairs(spark, idx, "ivfpq")
            from collections import Counter

            cnt = Counter(v for v, _ in served)
            dup_ok = {
                (1000 + 10 * c + i,) for c in residue for i in range(4)
            }
            assert all(n <= 2 for n in cnt.values())
            assert {v for v, n in cnt.items() if n > 1} <= dup_ok
            assert set(served) <= expected(cents)
            assert set(served) >= assign_pairs(base_df, cents)
            return served

        def after_publish():
            nonlocal missing
            missing = False
            folded.clear()
            folded.update(appended)
            residue.clear()
            assert not os.path.isdir(os.path.join(idx, "code_appends"))
            assert sorted(_served_pairs(spark, idx, "ivfpq")) == sorted(
                expected(cur_cents())
            )

        n_ops = data.draw(st.integers(min_value=2, max_value=5))
        for _ in range(n_ops):
            if missing:
                S.ivfpq_retrain(spark, idx, corpus_now())
                after_publish()
                continue
            op = data.draw(
                st.sampled_from(
                    [
                        "append",
                        "append",
                        "compact",
                        "retrain",
                        "crash_retrain",
                        "bad_retrain",
                        "dup_retrain",
                    ]
                )
            )
            if op == "append":
                c = data.draw(st.integers(0, N_CHUNKS - 1))
                # cents/books default to the index's CURRENT frozen
                # state — the retrain walk's whole point (the generic
                # walk pins the template's, legal only retrain-free)
                S.ivfpq_append(spark, idx, chunk_dfs[c], batch_id=c)
                appended.add(c)
                if c in folded:
                    residue.add(c)
                served = check()
                assert assign_pairs(chunk_dfs[c], cur_cents()) <= set(served)
            elif op == "compact":
                S.ivfpq_compact(spark, idx)
                folded.update(appended)
                residue.clear()
                served = check()
                assert sorted(served) == sorted(expected(cur_cents()))
            elif op == "bad_retrain":
                # a wrong id set must change NOTHING
                if appended:
                    wrong = base_df  # missing the appended ids
                else:
                    wrong = base_df.unionByName(chunk_dfs[0])  # extras
                before = sorted(_served_pairs(spark, idx, "ivfpq"))
                with pytest.raises(
                    ValueError, match="does not match the served"
                ):
                    S.ivfpq_retrain(spark, idx, wrong, force=True)
                assert sorted(_served_pairs(spark, idx, "ivfpq")) == before
            elif op == "dup_retrain":
                # the RIGHT id set as a multiset — a duplicated row, or
                # one vec_id carrying a second embedding — must refuse
                # loudly and change NOTHING (r13 advice)
                extra = base_df.orderBy("vec_id").limit(1)
                if data.draw(st.booleans()):
                    extra = extra.withColumn(
                        "embedding",
                        F.expr(
                            "transform(embedding,"
                            " x -> x + cast(1.0 as float))"
                        ),
                    )
                    msg = "more than one distinct embedding"
                else:
                    msg = "duplicate row"
                before = sorted(_served_pairs(spark, idx, "ivfpq"))
                with pytest.raises(ValueError, match=msg):
                    S.ivfpq_retrain(
                        spark, idx, corpus_now().unionByName(extra),
                        force=True,
                    )
                assert sorted(_served_pairs(spark, idx, "ivfpq")) == before
            elif op == "retrain":
                if S.ivfpq_retrain(spark, idx, corpus_now()):
                    after_publish()
                else:
                    check()
            else:  # crash_retrain
                if not any(
                    d.startswith("bid=")
                    for d in (
                        os.listdir(os.path.join(idx, "code_appends"))
                        if os.path.isdir(os.path.join(idx, "code_appends"))
                        else []
                    )
                ):
                    continue  # would no-op before the renames
                k = data.draw(st.integers(min_value=1, max_value=2))
                calls = {"n": 0}

                def boom(src, dst, *, _k=k, _calls=calls):
                    if str(src) == idx or str(dst) == idx:
                        _calls["n"] += 1
                        if _calls["n"] == _k:
                            raise Boom(src)
                    return real_rename(src, dst)

                os.rename = boom
                try:
                    S.ivfpq_retrain(spark, idx, corpus_now())
                    crashed = False
                except Boom:
                    crashed = True
                finally:
                    os.rename = real_rename
                assert crashed
                if k == 1:
                    check()  # fully live, old space still served
                else:
                    missing = True
                    assert not os.path.isdir(idx)

        if missing:
            S.ivfpq_retrain(spark, idx, corpus_now())
            after_publish()
        if S.ivfpq_retrain(spark, idx, corpus_now()):
            after_publish()
        S.ivfpq_compact(spark, idx)
        final = _served_pairs(spark, idx, "ivfpq")
        assert sorted(final) == sorted(expected(cur_cents()))

    run()


APPENDS = {
    "ivf": S.ivf_append,
    "ivfpq": S.ivfpq_append,
    "annlsh": S.ann_lsh_append,
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_maintained_index_lifecycle(spark, tmp_path, family):
    """The shared core walked once per family in the default tier:
    build, append, an at-least-once replay of the same bid, serving
    base ∪ appends (the new rows exactly once), compact, and serving
    again (unchanged, appends folded, a second compact a no-op)."""
    fam = FAMILIES[family]
    vecs = _crafted_vectors(fam["dim"])
    _write_crafted_embeddings(tmp_path / "embeddings.parquet", vecs)
    idx = str(tmp_path / "idx")
    fam["build"](spark, str(tmp_path), index_dir=idx)
    base = _served_pairs(spark, idx, family)
    new = spark.createDataFrame(
        [(1000 + i, [float(x) for x in np.roll(vecs[i], 1)]) for i in range(4)],
        "vec_id bigint, embedding array<float>",
    )
    rows_per_vec = S.ANN_BANDS if family == "annlsh" else 1

    for _ in range(2):  # the second call replays bid 0
        rep = APPENDS[family](spark, idx, new, 0)
        assert sum(r["n_new"] for r in rep.collect()) == 4 * rows_per_vec
    served = _served_pairs(spark, idx, family)
    added = sorted(set(served) - set(base))
    assert len(served) == len(base) + 4 * rows_per_vec  # new rows once
    assert sorted({k[0] for k, _ in added}) == [1000, 1001, 1002, 1003]
    assert len({k for k, _ in added}) == len(added) == 4 * rows_per_vec

    assert fam["compact"](spark, idx) is True
    assert not os.path.isdir(os.path.join(idx, fam["appends"]))
    assert S.compaction_epoch(idx) == 1
    assert sorted(_served_pairs(spark, idx, family)) == sorted(served)
    assert fam["compact"](spark, idx) is False


def test_layout_names_spelled_once():
    """Each appends dir and default stream checkpoint name is one
    string constant in similarity.py (docstrings aside): the family
    specs own the layout, and every lifecycle step reads it there."""
    import ast

    tree = ast.parse(open(S.__file__).read())
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    consts = [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and id(n) not in docstrings
    ]
    names = ["appends", "code_appends", "_append_ckpt", "_code_append_ckpt",
             "_sig_append_ckpt"]
    assert {consts.count(n) for n in names} == {1}, {
        n: consts.count(n) for n in names
    }
