"""Similarity search over embedding columns (ArrayType(FloatType)).

- sim_topk_bruteforce: exact top-k cosine — the correctness baseline,
  oracle-checked against DuckDB list arithmetic.
- sim_embedding_neardup: near-dup pairs by cosine threshold, routed
  through banded hyperplane LSH buckets — candidate pairs only form
  inside equal (band, signature) buckets, never an all-pairs join,
  and each bucket scores its members with ONE exact integer gram
  matmul (see the function docstring for why the earlier
  self-join + HOF cosine shape was slower).
  16 bands x 8 planes -> P(miss a true pair at cos 0.9) = (1-0.857^8)^16
  ~ 0.4%, while a random pair collides in a band with prob 2^-8, so
  the candidate set is ~6% of all pairs (and far less on clustered
  real-embedding corpora).
- sim_ann_lsh: multi-band OR-construction ANN — 32 bands x 4 planes,
  measured recall@10 = 1.0 vs brute force at sf0.01
  (tests/test_similarity.py asserts >= 0.9). On this near-random
  synthetic corpus (top-10 neighbors at cos 0.24-0.40) the candidate
  fraction is high (~0.85); the pruning power of the identical plan
  grows as real corpora concentrate neighbors at higher cosine.

Planes are deterministic Gaussian vectors (fixed-seed numpy): sign
projections run as ONE Arrow-batched BLAS matmul per batch inside a
vectorized pandas_udf — a narrow projection, no shuffle to assign
buckets. (A first attempt derived planes from a linear integer
formula; its planes were correlated and recall collapsed — Gaussian
i.i.d. planes are load-bearing. A second formulation evaluated the
projections as Catalyst higher-order lambdas over a literal plane
matrix; HOFs are interpreted per element and cost ~100x the matmul —
see band_signatures.)

Pair scoring in the ANN shortlists stays built-in zip_with/aggregate
cosine (functions/vectors.py) where each pair is scored once in a
projection; dense all-pairs work (near-dup buckets, SemDedup clusters)
goes through Arrow-batched numpy matmuls instead — Catalyst HOFs are
interpreted per element, and an expression referenced by both a join
condition and a projection evaluates twice per row.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.vectors import _fold_sum, cosine, cosine_arrow
from ..plans.registry import query
from ..session import load_table, local_checkpoint, table_rows

N_QUERIES = 5  # query set: the N lowest vec_ids
TOP_K = 10
DIM = 64
PLANE_SEED = 42

_COS_SQL = (
    "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))"
)


@query(
    "sim_topk_bruteforce",
    f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         ROUND({_COS_SQL}, 6) AS cos_sim
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT * FROM (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
""",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine: broadcast the (tiny) query set against all
    candidates; rank per query. At scale: queries broadcast, candidates
    stay partitioned -> embarrassingly parallel scoring, then a per-query
    top-k window on rounded score with vec_id tiebreak (deterministic)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            # cosine_arrow: bit-identical doubles to the HOF fold (guide
            # §4.2); ROUND + the top-k tie surface stay JVM-side
            F.round(cosine_arrow(F.col("q_emb"), F.col("c_emb")), 6).alias("cos_sim"),
        )
    )
    return per_query_topk(scored)


# --- banded random-hyperplane LSH -------------------------------------------


def _planes(n_planes: int, dim: int = DIM, seed: int = PLANE_SEED) -> np.ndarray:
    """Deterministic i.i.d. Gaussian hyperplanes (fixed seed: every
    engine/run derives identical planes)."""
    return np.random.default_rng(seed).standard_normal((n_planes, dim))



def per_query_topk(scored, k: int = TOP_K):
    """THE per-query top-k tie surface shared by every retrieval
    variant: rank by (cos_sim DESC, cand_id ASC), keep k. Every oracle
    replays exactly this order — a variant carrying its own copy risks
    a silent tie-surface fork (one missed site = a driver hash
    mismatch), so new retrieval ops must rank through here."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def probe_centroids(q, cents, nprobe=None):
    """Per query: the nprobe nearest centroid ids on the ROUND(.,6)
    tie surface — the probe-selection block shared verbatim by the IVF
    and IVFPQ serve paths."""
    n = IVF_NPROBE if nprobe is None else nprobe
    q_cent = q.join(F.broadcast(cents), how="cross").select(
        "query_id", "q_emb", "cid",
        F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("c_cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("cid"))
    return (
        q_cent.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n)
        .select("query_id", "q_emb", "cid")
    )


def band_signatures(
    df: DataFrame,
    bands: int,
    rows: int,
    emb_col: str = "embedding",
    quantize: bool = False,
) -> DataFrame:
    """Explode each vector into ``bands`` rows keyed by (band, sig),
    where sig is the concatenated sign pattern of that band's ``rows``
    hyperplane projections.

    ``quantize=True`` computes the projection in EXACT int64 — both the
    vector and the plane components floor to micro-units (x * 1e6), the
    dot product is an integer sum, and the sign compare has no float
    tie surface. That makes bucket membership engine-reproducible
    (DuckDB replays the identical integer arithmetic), which is what
    lets sim_ann_lsh carry an exact oracle; a sign can only differ from
    the float projection for points within ~1e-6 of a hyperplane, so
    recall is unchanged. Float (default) keeps the BLAS fast path for
    callers whose oracle doesn't depend on bucket identity
    (sim_embedding_neardup verifies candidates by exact cosine).

    The projection matrix multiply runs as an Arrow-batched pandas_udf
    (one BLAS ``M @ planes.T`` per batch) — dense linear algebra is the
    case vectorized Python beats Catalyst expressions: Spark's
    higher-order functions (transform/aggregate/zip_with) evaluate
    INTERPRETED per element, and a literal-planes HOF formulation
    measured ~30 ms/row for 128 x 64-dim projections at sf0.1 (the
    ``signs`` subexpression additionally re-evaluates once per band
    behind the lambda boundary) vs ~0.3 µs/row for the matmul — ~100x
    end-to-end, with bit-identical signatures on this corpus. Still a
    narrow projection: no join, no shuffle; the explode factor is
    ``bands`` and the downstream join is keyed on (band, sig), so at
    100 TB the shuffle is bucket-sized, never O(n^2)."""
    from pyspark.sql.types import ArrayType, StringType

    planes = _planes(bands * rows)  # (bands*rows, dim); ~64 KB closure
    planes_q = np.floor(planes * 1_000_000).astype(np.int64)

    @F.pandas_udf(ArrayType(StringType()))
    def band_sigs(s: pd.Series) -> pd.Series:
        m = np.stack(s.to_numpy()).astype(np.float64)
        if quantize:
            mq = np.floor(m * 1_000_000).astype(np.int64)
            proj = mq @ planes_q.T  # exact: |terms| < 2^50, dim 64 -> < 2^56
        else:
            proj = m @ planes.T
        bits = (proj >= 0).astype(np.uint8).astype("U1")
        return pd.Series(
            [
                ["".join(r[b * rows : (b + 1) * rows]) for b in range(bands)]
                for r in bits
            ]
        )

    return df.withColumn("sigs", band_sigs(emb_col)).select(
        *df.columns, F.posexplode("sigs").alias("band", "sig")
    )


NEARDUP_COS = 0.9
NEARDUP_BANDS = 16
NEARDUP_TARGET_BUCKET = 32  # expected random-bucket occupancy ceiling
NEARDUP_MISS_P = 0.005  # per-pair miss budget at cos = NEARDUP_COS


def neardup_params(n: int) -> tuple[int, int]:
    """Corpus-size-adaptive (bands, rows) for near-dup hyperplane LSH.

    Fixed-width signatures do NOT scale: with rows=8 a band has only
    2^8 buckets, so random-bucket occupancy grows as n/256 and the
    band self-join goes QUADRATIC in n (measured: the 10x scale probe
    put dd_embedding_neardup_keepers at exponent 1.54 before this).
    Keep occupancy bounded instead: rows = log2(n / TARGET_BUCKET),
    then grow bands so per-pair recall at cos=NEARDUP_COS stays
    >= 1 - NEARDUP_MISS_P (1-(1-p^rows)^bands with p the same-side
    probability 1 - acos(cos)/pi). Candidate work per doc is then
    O(bands * TARGET_BUCKET) — constant in n — at the classic LSH
    price of band count growing with corpus size. At the tested
    sf0.01/sf0.1 sizes this returns the original (16, 8), so driver
    evidence and bench numbers are unchanged."""
    import math

    p = 1.0 - math.acos(NEARDUP_COS) / math.pi  # 0.857 at cos 0.9
    rows = max(
        NEARDUP_ROWS, math.ceil(math.log2(max(n, 2) / NEARDUP_TARGET_BUCKET))
    )
    pr = p**rows
    bands = max(
        NEARDUP_BANDS, math.ceil(math.log(NEARDUP_MISS_P) / math.log(1.0 - pr))
    )
    return bands, rows
NEARDUP_ROWS = 8


NEARDUP_COS_MICROS = int(round(NEARDUP_COS * 1_000_000))
# Per-bucket member cap: a bucket beyond this is a mass-duplication
# cluster (exact dedup's job); scoring it densely would be O(m^2) in one
# task. Generous vs. real near-dup cluster sizes; far above anything the
# driver/bench corpora produce, so oracle parity is unaffected there.
NEARDUP_MAX_BUCKET = 1000

# Skipped-bucket accumulators, one per SparkContext (keyed by appId so a
# restarted session gets a fresh counter).  The cap silently DROPS every
# pair of an over-cap bucket — and since true duplicates collide in all
# bands, such a cluster loses ALL its pairs — so the guard must be
# observable: divergence from the all-pairs oracle at scale should show
# up as a non-zero counter, not a mystery.
_NEARDUP_SKIPPED_ACC: dict = {}


def _neardup_skip_acc(sc):
    acc = _NEARDUP_SKIPPED_ACC.get(sc.applicationId)
    if acc is None:
        acc = sc.accumulator(0)
        _NEARDUP_SKIPPED_ACC[sc.applicationId] = acc
    return acc


def neardup_skipped_buckets(spark: SparkSession) -> int:
    """How many LSH buckets the NEARDUP_MAX_BUCKET guard has skipped in
    this session (across all executed sim_embedding_neardup plans).
    Non-zero means the pair surface is missing every pair of at least
    one mass-duplication cluster and the caller should route those
    members through exact/normalized dedup instead.

    This is a SIGNAL, not an exact count: the accumulator increments
    once per UDF execution, so plan re-execution (multiple actions on
    the returned DataFrame, AQE re-runs, task retries/speculation)
    inflates it by whole multiples of the per-pass skip count; only
    zero-vs-nonzero is invariant."""
    acc = _NEARDUP_SKIPPED_ACC.get(spark.sparkContext.applicationId)
    return int(acc.value) if acc is not None else 0


def neardup_pairs_sql() -> str:
    """All-pairs ground-truth SQL for the near-dup pair surface, shared
    by the sim_embedding_neardup and dd_embedding_neardup_keepers
    oracles: quantize each vector to FLOOR(x*1e6) BIGINT micro-units,
    take EXACT integer dot products, and emit the floor-micros cosine
    cos_micros = FLOOR(ab/(sqrt(aa)*sqrt(bb)) * 1e6). Every step is
    either exact integer arithmetic or an IEEE op on identical doubles,
    so the surface is bit-reproducible across engines — unlike
    ROUND(x, 6), whose half-away vs half-even tie behavior differs."""
    j = f"range(1, {DIM + 1})"
    dot = "CAST(list_sum(list_transform({r}, j -> {a}.vq[j]*{b}.vq[j])) AS DOUBLE)"
    ab = dot.format(r=j, a="a", b="b")
    aa = dot.format(r=j, a="a", b="a")
    bb = dot.format(r=j, a="b", b="b")
    return f"""
  SELECT vec_a, vec_b, cos_micros FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(FLOOR({ab} / (sqrt({aa}) * sqrt({bb})) * 1000000) AS BIGINT)
             AS cos_micros
    FROM xq a JOIN xq b ON a.vec_id < b.vec_id
  ) WHERE cos_micros >= {NEARDUP_COS_MICROS}"""


_NEARDUP_XQ_CTE = """xq AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        e -> CAST(FLOOR(e * 1000000) AS BIGINT)) AS vq
  FROM embeddings)"""


@query(
    "sim_embedding_neardup",
    f"""
WITH {_NEARDUP_XQ_CTE}
{neardup_pairs_sql()}
""",
)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.9) through LSH buckets,
    scored per bucket with one Arrow-batched integer matmul.

    (bands, rows) adapt to the corpus size via neardup_params so
    per-pair recall stays >= 99.5% while bucket occupancy — and with
    it candidate work per bucket — stays bounded as n grows ((16, 8)
    at all driver/bench sizes); ``n`` comes from parquet footer
    metadata (session.table_rows), NOT a count() scan job per call.

    Why not a band self-join + zip_with cosine: that shape evaluated
    the cosine as a Catalyst higher-order function in
    BOTH the join condition and the projection — HOFs are interpreted
    per element, and the double evaluation of 3 dot products per
    candidate pair dominated the query (~4.5 s of a 2000-vector sf0.1
    run). Why not groupBy(band, sig).applyInPandas:
    random LSH buckets hold ~TARGET_BUCKET rows, so the grouped-map
    paid one pandas round trip per BUCKET — 310k buckets at the 100x
    probe, ~40 s of pure per-group overhead. The scorer is now a
    partition-sorted mapInPandas scan (repartition on (band, sig) +
    sortWithinPartitions — the ttl_dedup_batch discipline): per
    bucket, quantize to FLOOR(x*1e6) int64 micro-units, one exact
    integer gram matmul (|terms| <= 64*1e12 < 2^63), upper-triangle
    threshold, emit surviving pairs; buckets spanning Arrow batch
    boundaries ride a NEARDUP_MAX_BUCKET-bounded carry. Measured 100x:
    48 -> 10.1 s (keepers end-to-end 44 -> 10.1 s). One sig-keyed
    exchange moves each vector ``bands`` times; the pair dedup
    exchange carries only true near-dups (ids + one BIGINT).

    The output surface is cos_micros = FLOOR(cos * 1e6): derived from
    exact integer dots, it is bit-identical in numpy and DuckDB (see
    neardup_pairs_sql), closing the np.round-vs-ROUND tie-mode risk.
    Caveat (documented, by design): the oracle is exact all-pairs, so
    hash-parity is probabilistic-by-construction at corpus sizes where
    any true pair lands in the 0.5% LSH miss budget; at the
    driver-checked sizes expected misses are << 1 and every round's
    check has been exact. At 100 TB the operator's contract is the
    recall bound, not oracle equality.

    Mass-duplication guard: neardup_params bounds RANDOM bucket
    occupancy, but a true-duplicate cluster collides by construction —
    every member shares every band — and a 100k-member cluster would
    hand one task an m x m gram matrix (the dense-matmul twin of the
    skew the MinHash pipeline caps with MAX_LSH_BUCKET). Buckets
    larger than NEARDUP_MAX_BUCKET are therefore skipped: a cluster
    that size is exact/normalized dedup's job (its members agree
    near-verbatim), not a near-dup scorer's, and the cap keeps
    per-task memory at O(NEARDUP_MAX_BUCKET^2) regardless of corpus
    pathology."""
    emb = load_table(spark, sf_dir, "embeddings")
    bands, rows = neardup_params(table_rows(sf_dir, "embeddings"))
    sig = band_signatures(emb, bands, rows)
    skip_acc = _neardup_skip_acc(spark.sparkContext)

    def _score_bucket(ids, X, out, true_size=None):
        """Exact integer gram scoring of ONE bucket (vec_id-ascending);
        appends surviving (a, b, cos_micros) arrays to ``out``.
        ``true_size`` reports the REAL membership in the skip
        diagnostic when the rows were cap-truncated in the carry."""
        m = len(ids)
        if m > NEARDUP_MAX_BUCKET:
            skip_acc.add(1)
            print(
                f"[neardup] SKIPPED bucket of {true_size or m} members "
                f"(> NEARDUP_MAX_BUCKET={NEARDUP_MAX_BUCKET}): "
                "mass-duplication cluster — route through exact dedup"
            )
            return
        if m < 2:
            return
        Q = np.floor(X.astype(np.float64) * 1_000_000).astype(np.int64)
        G = Q @ Q.T  # exact: 64 terms x (1e6)^2 < 2^63
        nrm = np.sqrt(np.diag(G).astype(np.float64))
        micros = np.floor(
            G.astype(np.float64) / np.outer(nrm, nrm) * 1_000_000
        ).astype(np.int64)
        ia, ib = np.triu_indices(m, k=1)
        keep = micros[ia, ib] >= NEARDUP_COS_MICROS
        out.append((ids[ia[keep]], ids[ib[keep]], micros[ia[keep], ib[keep]]))

    def bucket_scan(batches):
        """Partition-sorted scan over (band, sig, vec_id)-ordered rows:
        random LSH buckets are ~TARGET_BUCKET rows, so a grouped-map
        applyInPandas paid one pandas round trip per bucket — 310k
        buckets at the 100x probe, ~40 s of pure per-group overhead
        (the ttl_dedup_batch lesson: many small keys cost per GROUP,
        a sorted scan costs per ROW).  Buckets may span Arrow batch
        boundaries; the (key, ids, X) carry is bounded by
        NEARDUP_MAX_BUCKET rows."""
        carry_key = None  # (band, sig) tuple of the in-flight bucket
        carry_ids = None
        carry_X = None
        carry_total = 0  # TRUE membership incl. cap-truncated rows
        for pdf in batches:
            if not len(pdf):
                continue
            band = pdf["band"].to_numpy()
            sgn = pdf["sig"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            X = np.stack(pdf["embedding"].to_numpy())
            # segment boundaries from the native columns (an object-
            # string composite key cost ~100s of ns/row of allocation
            # in exactly the hot scan this rewrite exists to speed up)
            starts = np.flatnonzero(
                np.concatenate(
                    ([True], (band[1:] != band[:-1]) | (sgn[1:] != sgn[:-1]))
                )
            )
            ends = np.append(starts[1:], len(band))
            out: list = []
            # a carried bucket whose key does NOT continue into this
            # batch is complete: score and clear it before scanning
            if carry_key is not None and (band[0], sgn[0]) != carry_key:
                _score_bucket(carry_ids, carry_X, out, carry_total)
                carry_key, carry_ids, carry_X = None, None, None
            for s0, e0 in zip(starts, ends):
                key = (band[s0], sgn[s0])
                seg_ids, seg_X = ids[s0:e0], X[s0:e0]
                seg_total = e0 - s0
                if key == carry_key:
                    seg_ids = np.concatenate((carry_ids, seg_ids))
                    seg_X = np.concatenate((carry_X, seg_X))
                    seg_total += carry_total
                    carry_key, carry_ids, carry_X = None, None, None
                if e0 == len(band):
                    # bucket may continue into the next batch: carry —
                    # over-cap carries keep only the cap+1 head (the
                    # bucket is already condemned to the skip branch;
                    # the +1 keeps len > cap so the skip still fires,
                    # and carry_total reports the real membership)
                    carry_key = key
                    carry_ids = seg_ids[: NEARDUP_MAX_BUCKET + 1]
                    carry_X = seg_X[: NEARDUP_MAX_BUCKET + 1]
                    carry_total = seg_total
                else:
                    _score_bucket(seg_ids, seg_X, out, seg_total)
            if out:
                a = np.concatenate([o[0] for o in out])
                b = np.concatenate([o[1] for o in out])
                c = np.concatenate([o[2] for o in out])
                yield pd.DataFrame(
                    {"vec_a": a, "vec_b": b, "cos_micros": c}
                )
        if carry_key is not None:
            out = []
            _score_bucket(carry_ids, carry_X, out, carry_total)
            if out:
                yield pd.DataFrame(
                    {
                        "vec_a": out[0][0],
                        "vec_b": out[0][1],
                        "cos_micros": out[0][2],
                    }
                )

    return (
        sig.select("band", "sig", "vec_id", "embedding")
        .repartition("band", "sig")
        .sortWithinPartitions("band", "sig", "vec_id")
        .mapInPandas(bucket_scan, "vec_a long, vec_b long, cos_micros long")
        .dropDuplicates(["vec_a", "vec_b"])
    )


# --- IVF (inverted-file) ANN -------------------------------------------------

IVF_K = 16  # centroid count (would be ~sqrt(n) at scale)
IVF_NPROBE = 6  # centroid lists searched per query


# Up to this many centroids, assignment inlines the centroid matrix as
# a literal array and argmaxes in ONE narrow projection — zero shuffle,
# and Catalyst arithmetic end-to-end (the surface the sf0.01/sf0.1
# driver evidence is pinned to).  The HOF fold is INTERPRETED though —
# n x K x dim interpreter steps — so past this K assignment switches to
# a broadcast-numpy mapInPandas argmax (still zero shuffle, BLAS per
# Arrow batch; measured at the 100x probe, K=200: literal 45.7 s vs
# pandas 3.1 s) up to IVF_PANDAS_MAX_K, and finally to broadcast-join +
# max_by agg (one shuffle of N vector rows) when even collecting the
# centroid table to the driver would be unreasonable.  The crossover
# sits at 32: every oracle-checked caller uses K=16 (IVF_K / SEM_K
# floor), so the engine-exact literal surface is preserved exactly
# where hash evidence exists, and the interpreter never pays for more
# than 32 x dim steps per row.
IVF_LITERAL_MAX_K = 32
IVF_PANDAS_MAX_K = 65536


def _ivf_assign_pandas(
    emb: DataFrame, cents_rows: list, round_digits: int | None
) -> DataFrame:
    """Zero-shuffle argmax assignment for mid-size K: the collected
    centroid matrix rides the mapInPandas closure (Arrow-batched, K x
    dim float64 — a few MB at the IVF_PANDAS_MAX_K ceiling) and each
    batch scores X_n @ C_n.T with BLAS.  Tie surface: round half-away
    to ``round_digits`` via floor(|x|*scale + 0.5) on the BINARY value
    (np.round would be half-even — wrong here).  Spark's F.round on
    DOUBLE rounds the shortest-decimal repr instead (Scala BigDecimal),
    which agrees with the binary form except when x*scale lands within
    ~1 ulp (~1e-11 relative at 6 digits) of an exact .5 boundary AND
    the two roundings cross it in different directions — measured
    strictly smaller than the BLAS summation-order residual this path
    already documents, and only observable if an argmax tie ALSO hangs
    on that boundary.  First-max argmax over cid-ASCENDING columns =
    lowest cid on ties — the same order the literal path's strict->
    fold and the oracle's ROW_NUMBER produce."""
    import numpy as np
    import pandas as pd

    cents_rows = sorted(cents_rows, key=lambda r: int(r["cid"]))
    C = np.stack(
        [np.asarray(r["c_emb"], dtype=np.float64) for r in cents_rows]
    )
    cids = np.array([int(r["cid"]) for r in cents_rows], dtype=np.int64)
    c_norm = np.linalg.norm(C, axis=1)
    scale = None if round_digits is None else float(10**round_digits)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            # dot / (|x| * |c|), norms multiplied separately — the same
            # formula shape as functions.vectors.cosine / the oracle
            x_norm = np.linalg.norm(X, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                g = (X @ C.T) / (x_norm[:, None] * c_norm)
            if scale is not None:
                g = np.sign(g) * np.floor(np.abs(g) * scale + 0.5)
            # Zero-norm parity with the literal path: Spark SQL's /0 is
            # NULL and NULL > acc is false, so a zero-norm CENTROID never
            # wins and a zero-norm VECTOR keeps the fold's cid=-1 seed.
            # numpy's 0/0 is NaN, which np.argmax treats as maximal —
            # mask NaN to -inf, and stamp zero-norm rows -1 explicitly.
            g = np.where(np.isnan(g), -np.inf, g)
            best = cids[np.argmax(g, axis=1)]
            best = np.where(x_norm == 0.0, np.int64(-1), best)
            # all-candidates--inf parity: the literal fold's seed cid=-1
            # survives when every centroid is zero-norm (NULL > acc is
            # false); np.argmax over an all--inf row returns column 0,
            # which would silently elect cids[0] instead
            best = np.where(np.all(g == -np.inf, axis=1), np.int64(-1), best)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "cid": best,
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, embedding array<float>, cid long"
    )


def _cos_matrix_arrow(emb_col: str, cents_rows: list) -> F.Column:
    """array<double> of a row vector's cosines against every centroid,
    cid-ASCENDING — the Arrow-vectorized EXACT twin of the literal
    path's per-centroid HOF cosine (guide §4.2).  Arithmetic is
    bit-identical by construction: the same float->double widening, the
    same elementwise products, the same left-fold-from-0.0 summation
    (_fold_sum — cumsum cannot reassociate), the same
    dot / (sqrt(nx) * sqrt(nc)) expression tree.  The K x dim centroid
    matrix rides the closure (collected rows; py4j doubles are exact).
    Rounding and the argmax fold stay JVM-side in the caller, so the
    assignment's tie surface is untouched.  A zero-norm denominator
    yields NaN, which Spark's Arrow reader maps to null — the fold then
    treats it exactly like the HOF path's non-ANSI NULL (no fixture
    carries zero-norm vectors; under Spark 4 default ANSI the HOF twin
    would have thrown instead)."""
    rows = sorted(cents_rows, key=lambda r: int(r["cid"]))
    C = np.stack([np.asarray(r["c_emb"], dtype=np.float64) for r in rows])
    c_norm = np.sqrt(_fold_sum(C * C))  # per-centroid left-fold norms

    @F.pandas_udf("array<double>")
    def _cos_k(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="object")
        X = np.stack(s.to_numpy()).astype(np.float64)
        x_norm = np.sqrt(_fold_sum(X * X))
        g = np.empty((X.shape[0], C.shape[0]), dtype=np.float64)
        for k in range(C.shape[0]):
            g[:, k] = _fold_sum(X * C[k])
        den = x_norm[:, None] * c_norm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            g = g / den
        g[den == 0.0] = np.nan  # -> null, the non-ANSI /0.0 surface
        return pd.Series(list(g))

    return _cos_k(emb_col)


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    literal_max_k: int = IVF_LITERAL_MAX_K,
    round_digits: int | None = None,
    pandas_max_k: int = IVF_PANDAS_MAX_K,
) -> DataFrame:
    """Assign every vector to its nearest centroid (argmax cosine;
    ties -> lowest cid, matching the original window order).

    ``round_digits`` rounds each cosine before the argmax compare —
    oracle-checked callers (dd_semantic) need the same tie surface as
    DuckDB's ROUND(...,6) so last-ulp dot-product divergence between
    engines cannot flip an assignment. Approximate-by-construction
    callers (IVF) keep full precision.

    Small K (the common case — IVF centroid counts are ~sqrt(n)):
    collect the tiny centroid table (bounded by IVF_LITERAL_MAX_K+1
    rows via limit — never proportional to the corpus) and score it as
    a literal array inside one projection: ``transform`` computes the K
    cosines, ``aggregate`` left-folds the argmax. The assignment then
    runs entirely inside whole-stage codegen with NO exchange — at
    100 TB the vectors never move.

    Mid K (IVF_LITERAL_MAX_K < K <= IVF_PANDAS_MAX_K — the adaptive-K
    SemDedup range, K ~ n/1000): collect the centroid matrix once
    (bounded by IVF_PANDAS_MAX_K+1 rows), ship it to executors inside
    the mapInPandas closure, and argmax a float64 BLAS matmul per Arrow
    batch — still zero shuffle, and vectorized where the literal path's
    interpreted HOF fold would cost n x K x dim interpreter steps.  The
    tie surface reproduces ROUND-half-away to ``round_digits`` in
    integer arithmetic (np.round is half-even — wrong here) and breaks
    ties to the lowest cid via first-max argmax over a cid-sorted
    matrix.  Residual risk is the BLAS-vs-sequential-fold summation
    order (same accepted class as dd_semantic's cluster matmul).

    Large K: broadcast the centroids, score K rows per vector, collapse
    with map-side-combinable ``max_by`` so the single shuffle carries N
    rows, never N x K."""
    # ONE bounded collect decides the route (a separate probe per tier
    # would run a second TakeOrdered job over the centroid source —
    # for dd_semantic's adaptive K that source is a corpus TakeOrdered,
    # so the double probe cost a full extra corpus pass; a
    # checkpoint-the-prefix variant that avoided the double pass
    # measured +1.2 s on sim_ivf_topk because k-means calls this per
    # round and paid 3 jobs per assign instead of 1).  The bound is
    # the largest tier that collects at all: at most pandas_max_k + 1
    # rows ever reach the driver.  Known-huge-K callers (K certain to
    # exceed pandas_max_k — the collect would ship ~35 MB at the
    # default cap only to be discarded) should pass literal_max_k=0,
    # which skips the probe entirely and goes straight to the
    # broadcast-join route.
    collect_cap = max(literal_max_k, pandas_max_k if pandas_max_k > 0 else 0)
    cents = (
        centroids.orderBy("cid").limit(collect_cap + 1).collect()
        if literal_max_k > 0
        else []
    )
    if (
        literal_max_k > 0
        and pandas_max_k > 0
        and literal_max_k < len(cents) <= pandas_max_k
    ):
        return _ivf_assign_pandas(emb, cents, round_digits)
    if literal_max_k > 0 and len(cents) <= literal_max_k:
        # guide §4.2: the K cosines come from the Arrow kernel
        # (_cos_matrix_arrow — bit-identical left-fold doubles, ~5x the
        # interpreted per-element HOF fold that used to run here over a
        # K x dim centroid literal), while ROUND and the argmax fold
        # stay JVM-side over the K-element array, so the tie surface
        # (round half-up on the double, strict > keeps the lowest cid)
        # is byte-for-byte the one every oracle replays.  cid-ascending
        # literal order as before; one parsed SQL literal for the cids
        # (the K x dim c_emb literal is gone from the plan entirely).
        cos_arr = _cos_matrix_arrow("embedding", cents)
        lit_cids = F.expr(
            "array({})".format(
                ", ".join(
                    f"{int(r['cid'])}L"
                    for r in sorted(cents, key=lambda r: int(r["cid"]))
                )
            )
        )

        def _score(c, cid):  # noqa: ANN001 - Catalyst lambda
            cos = c
            if round_digits is not None:
                cos = F.round(cos, round_digits)
            return F.struct(cos.alias("cos"), cid.alias("cid"))

        scores = F.zip_with(cos_arr, lit_cids, _score)
        best = F.aggregate(
            scores,
            F.struct(
                F.lit(float("-inf")).alias("cos"),
                F.lit(-1).cast("bigint").alias("cid"),
            ),
            lambda acc, s: F.when(s["cos"] > acc["cos"], s).otherwise(acc),
        )
        # NULL-embedding parity with the old centroid-literal fold: there
        # the scores array never depended on the row (transform over a
        # literal), so a null vector still folded to the seed cid=-1;
        # here a null cos_arr would propagate NULL through zip_with.
        return emb.select(
            "vec_id",
            "embedding",
            F.coalesce(best["cid"], F.lit(-1).cast("bigint")).alias("cid"),
        )
    # The join path scores corpus x K rows (kmeans_centroids'
    # lazy-chain rounds) — the highest-volume cosine site left after the
    # literal path moved to the Arrow kernel; same bit-identical swap
    # (guide §4.2), argmax stays JVM-side (max_by below).
    agg_cos = cosine_arrow(F.col("embedding"), F.col("c_emb"))
    if round_digits is not None:
        agg_cos = F.round(agg_cos, round_digits)
    scored = emb.join(
        F.broadcast(centroids.select(F.col("cid"), F.col("c_emb"))),
        how="cross",
    ).select(
        "vec_id", "embedding", "cid",
        agg_cos.alias("c_cos"),
    )
    return scored.groupBy("vec_id").agg(
        F.first("embedding").alias("embedding"),  # constant within the group
        F.max_by(
            F.col("cid"),
            F.struct(F.col("c_cos").alias("c_cos"), (-F.col("cid")).alias("neg_cid")),
        ).alias("cid"),
    ).select("vec_id", "embedding", "cid")


def kmeans_centroids(emb: DataFrame, k: int = IVF_K, iters: int = 1) -> DataFrame:
    """Deterministic Lloyd k-means over the embedding column: seed with
    the k lowest vec_ids, then ``iters`` rounds of assign -> elementwise
    mean. Each round is one narrow assignment (no shuffle of vectors
    beyond the means agg) + a (cid, pos) partial-combinable avg whose
    result is K x dim — tiny at any corpus size. Lazy DAG: nothing is
    collected between rounds, one job computes the whole chain.
    Empty clusters keep their previous centroid (left join + coalesce),
    matching the classic Lloyd convention."""
    cents = (
        emb.orderBy("vec_id").limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb"))
    )
    for _ in range(iters):
        assigned = ivf_assign(emb, cents, literal_max_k=0)
        means = (
            assigned.select("cid", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("m")))
                    ),
                    lambda s: s["m"].cast("float"),
                ).alias("m_emb")
            )
        )
        cents = (
            cents.join(means, "cid", "left")
            .select("cid", F.coalesce("m_emb", "c_emb").alias("c_emb"))
        )
    return cents


KM_ITERS = 3


def portable_centroids(emb: DataFrame, k: int = IVF_K) -> DataFrame:
    """ONE engine-portable Lloyd round: seed with the k lowest vec_ids,
    assign on the ROUND(cos, 6) tie surface, and refine each centroid as
    integer micro-unit component sums divided once at the end —
    c[j] = CAST(sum_q AS DOUBLE) / CAST(n * 1e6 AS DOUBLE). Every step
    is bit-reproducible in DuckDB (see _portable_c1_cte), unlike the
    float-avg kmeans_centroids path. Clusters that lose all members
    drop out (inner join) — identically in both engines.

    Scale: zero-shuffle literal-argmax assignment + a (cid, pos)-keyed
    partial-combinable BIGINT sum of K x dim cells.  ONE corpus pass:
    the per-cell count doubles as the cluster size (with_count=True in
    _km_cells), so the cells1 JOIN n1 shape — each branch
    re-running the argmax projection over the corpus — collapses to a
    single aggregation (that double pass + join was ~40% of the
    1.7 s train phase at sf0.1, where n=2000 makes per-job overhead the
    entire cost)."""
    seeds = emb.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    a1 = ivf_assign(emb, seeds, round_digits=6)
    return (
        _km_cells(a1, with_count=True)
        .select(
            "cid",
            "pos",
            (
                F.col("s").cast("double")
                / (F.col("n") * F.lit(1_000_000)).cast("double")
            ).alias("m"),
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st["m"],
            ).alias("c_emb")
        )
    )


def _vectors_sql(x: str, xq: str, where: str = "") -> str:
    """CTEs ``x`` (vec_id, v: double vectors) and ``xq`` (vec_id, vq:
    FLOOR(v * 1e6) micro-unit ints) over ``embeddings {where}``."""
    return f"""{x} AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings {where}),
{xq} AS (SELECT vec_id,
              list_transform(v, e -> CAST(FLOOR(e * 1000000) AS BIGINT)) AS vq
       FROM {x})"""


def _nearest_sql(
    src: str, cents: str, n: int = 1, vid: str = "vec_id", v: str = "v"
) -> str:
    """(vid, cid, cos6): each ``src`` row's ``n`` nearest ``cents``
    (cid, c) rows on the ROUND(cos, 6) surface, ties to the lowest cid
    — ivf_assign's argmax (n = 1) and probe_centroids' ranking."""
    cos = (
        f"ROUND(list_dot_product(x.{v}, c.c) / (sqrt(list_dot_product(x.{v}, x.{v}))"
        " * sqrt(list_dot_product(c.c, c.c))), 6)"
    )
    return f"""SELECT {vid}, cid, cos6 FROM (
    SELECT x.{vid}, c.cid, {cos} AS cos6,
           ROW_NUMBER() OVER (PARTITION BY x.{vid} ORDER BY {cos} DESC, c.cid) AS rn
    FROM {src} x CROSS JOIN {cents} c) WHERE rn <= {n}"""


def _cells_sql(name: str, assign: str, xq: str) -> str:
    """CTE ``name`` (cid, pos, s): per cell of the assignment ``assign``,
    the integer sum of its members' micro-unit components (_km_cells)."""
    return f"""{name} AS (SELECT a.cid, t.i AS pos, SUM(q.vq[t.i + 1]) AS s
           FROM {assign} a JOIN {xq} q USING (vec_id)
           CROSS JOIN (SELECT UNNEST(range(0, {DIM})) AS i) t
           GROUP BY a.cid, t.i)"""


def _lloyd_sql(x: str, xq: str, out: str) -> str:
    """CTEs ending in ``out`` (cid, c) mirroring portable_centroids over
    the vectors ``x`` / ``xq`` (_vectors_sql): the IVF_K lowest vec_ids
    seed, one round-6 argmax, and the refined double centroids
    CAST(integer sum) / CAST(n * 1e6)."""
    return f"""{out}_seeds AS (SELECT vec_id AS cid, v AS c FROM {x} ORDER BY vec_id LIMIT {IVF_K}),
{out}_a AS ({_nearest_sql(x, f"{out}_seeds")}),
{_cells_sql(f"{out}_cells", f"{out}_a", xq)},
{out}_n AS (SELECT cid, COUNT(*) AS n FROM {out}_a GROUP BY cid),
{out} AS (SELECT c.cid,
              list(CAST(c.s AS DOUBLE) / CAST(n.n * 1000000 AS DOUBLE)
                   ORDER BY c.pos) AS c
       FROM {out}_cells c JOIN {out}_n n USING (cid) GROUP BY c.cid)"""


def _portable_c1_cte(where: str = "") -> str:
    """Shared DuckDB CTE chain mirroring portable_centroids: x / xq
    (_vectors_sql) and c1, the refined double centroids. ``where``
    restricts the TRAINING source (the standing-corpus half of the
    incremental split)."""
    return f"{_vectors_sql('x', 'xq', where)},\n{_lloyd_sql('x', 'xq', 'c1')}"


def _sums_sql(assign: str, xq: str) -> str:
    """CTEs cells2 and sums2 (cid, centroid_sums): the comma-joined
    integer component sums of each cell of ``assign``."""
    return f"""{_cells_sql("cells2", assign, xq)},
sums2 AS (SELECT cid, array_to_string(list(s ORDER BY pos), ',') AS centroid_sums
          FROM cells2 GROUP BY cid)"""


def _km_cells(assigned: DataFrame, with_count: bool = False) -> DataFrame:
    """(cid, pos) -> integer micro-unit component sum over the cluster's
    members. posexplode + two-level groupBy: partial-combinable BIGINT
    sums, K x dim result cells — tiny at any corpus size.

    Quantizes ``assigned.embedding`` inline (the _micro_vecs expression)
    instead of joining a separate xq table on vec_id: a profile
    showed that join re-scanned the corpus through the argmax projection
    a second time — at n=2000/sf0.1 the whole operator is per-job
    overhead, and the join + extra pass was ~40% of the train phase.

    ``with_count=True`` adds the per-(cid, pos) member count — equal to
    the cluster size at every pos (posexplode emits all DIM positions
    per member) — letting callers derive cluster sizes from THIS
    aggregation instead of a second full assignment pass.

    CONTRACT: every member's embedding is non-empty and fixed-DIM
    (the embeddings-table invariant every caller trains on).
    posexplode emits zero rows for an empty/NULL embedding, so such a
    member would silently vanish from both the sums AND the
    with_count sizes — whereas the oracle's n1 = COUNT(*) would still
    count it. If variable/empty vectors ever become legal inputs,
    count members from a distinct-(cid, vec_id) aggregation
    instead."""
    cells = assigned.select(
        "cid",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda e: F.floor(e.cast("double") * 1_000_000),
            )
        ).alias("pos", "sv"),
    ).groupBy("cid", "pos")
    if with_count:
        return cells.agg(F.sum("sv").alias("s"), F.count("*").alias("n"))
    return cells.agg(F.sum("sv").alias("s"))


def _km_oracle() -> str:
    return f"""
WITH {_portable_c1_cte()},
a2 AS ({_nearest_sql("x", "c1")}),
stats AS (SELECT cid, COUNT(*) AS n_members,
                 CAST(SUM(CAST(FLOOR(cos6 * 1000000) AS BIGINT)) AS BIGINT)
                   AS cos_sum_micros
          FROM a2 GROUP BY cid),
{_sums_sql("a2", "xq")}
SELECT stats.cid, stats.n_members, stats.cos_sum_micros, sums2.centroid_sums
FROM stats JOIN sums2 USING (cid)
"""


@query("sim_kmeans", _km_oracle())
def sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, ENGINE-PORTABLE k-means (2 Lloyd rounds, seeded by
    the IVF_K lowest vec_ids), checked against an exact DuckDB oracle.

    Portability discipline (the MinHash md5-permutation playbook applied
    to Lloyd): assignments argmax the ROUND(cos, 6) tie surface (the
    proven sim_cluster_sample / dd_semantic pattern); the refinement
    mean is computed from INTEGER micro-unit component sums — FLOOR(x *
    1e6) per component summed as BIGINT is order-independent, unlike a
    float avg whose partial-agg order diverges engines — and the round-2
    centroid is the bit-identical double CAST(sum)/CAST(n * 1e6).
    Clusters that lose every member drop out (inner join) identically in
    both engines. Output per cluster: member count, the integer sum of
    member-centroid cosines in micro-units, and the comma-joined
    micro-unit component sums (centroid = sums / (n * 1e6), recoverable
    exactly offline).

    Scale shape: each round is a zero-shuffle literal-argmax assignment
    (ivf_assign) + a (cid, pos)-keyed partial-combinable BIGINT sum of
    K x dim cells; the only collect is the K-row centroid table between
    rounds (constant-size, same class as the IVF centroid literals).
    tests/test_similarity.py proves assignment parity with an
    independent numpy implementation of the same quantized algorithm."""
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint: consumed twice (ivf_assign's literal collect AND
    # the broadcast join in stats) — without it the full Lloyd training
    # DAG executes twice per call (the sibling IVF sites' discipline)
    cents1 = portable_centroids(emb, IVF_K).transform(local_checkpoint, eager=False)
    a2 = ivf_assign(emb, cents1, round_digits=6)
    # A/B: cosine_arrow here measured WORSE (1.93/2.00 vs 1.80/1.86 s
    # warm, both interleaved rounds) — the n x 1 rescore after the
    # broadcast join is below the Arrow hop's break-even at this volume
    # (~5k rows; the winning swaps all score >=50k pairs). HOF kept.
    cos_c = F.round(cosine(F.col("embedding"), F.col("c_emb")), 6)
    stats = (
        a2.join(F.broadcast(cents1), "cid")
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.floor(cos_c * 1_000_000)).cast("bigint").alias(
                "cos_sum_micros"
            ),
        )
    )
    sums2 = (
        _km_cells(a2)
        .groupBy("cid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))),
                    lambda st: st["s"].cast("string"),
                ),
                ",",
            ).alias("centroid_sums")
        )
    )
    return stats.join(sums2, "cid").select(
        "cid", "n_members", "cos_sum_micros", "centroid_sums"
    )


def _ivf_oracle() -> str:
    return f"""
WITH {_portable_c1_cte()},
al AS ({_nearest_sql("x", "c1")}),
q AS (SELECT vec_id AS query_id, v AS qv FROM x WHERE vec_id < {N_QUERIES}),
probes AS ({_nearest_sql("q", "c1", IVF_NPROBE, "query_id", "qv")}),
exact AS (SELECT q.query_id, al.vec_id AS cand_id,
                 ROUND(list_dot_product(q.qv, c.v) /
                       (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
          FROM q JOIN probes p USING (query_id)
          JOIN al ON al.cid = p.cid AND al.vec_id <> q.query_id
          JOIN x c ON c.vec_id = al.vec_id)
SELECT * FROM (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rank
  FROM exact
) WHERE rank <= {TOP_K}
"""


@query("sim_ivf_topk", _ivf_oracle())
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: assign vectors to IVF_K centroid lists, probe the
    IVF_NPROBE nearest lists per query, exact-score only those lists.

    Exact DuckDB oracle: the coarse quantizer is portable_centroids
    (integer-sum Lloyd on the ROUND(cos, 6) tie surface — the sim_kmeans
    playbook) and probes rank on the same rounded surface, so list membership,
    the probed lists, and the final ranking are all engine-exact.
    Recall@10 vs sim_topk_bruteforce asserted >= 0.9 in
    tests/test_similarity.py. At scale the probed lists hold
    ~nprobe/K of the corpus — the scan shrinks by K/nprobe while the
    bucket join stays equi-keyed on cid, and assignment itself is the
    zero-shuffle literal-argmax projection (ivf_assign)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint, not cache: K tiny rows, reused by the literal
    # collect and the probe/residual joins, released on GC instead of
    # pinned session-long (a bare .cache() here was never unpersisted).
    cents = portable_centroids(emb).transform(local_checkpoint, eager=False)
    assigned = ivf_assign(emb, cents, round_digits=6)
    return _ivf_serve(emb, cents, assigned)


def _ivf_serve(emb: DataFrame, cents: DataFrame, lists: DataFrame) -> DataFrame:
    """SERVE phase shared by sim_ivf_topk (in-memory index) and
    sim_ivf_query (persisted index): rank centroids per query on the
    rounded tie surface, keep IVF_NPROBE, equi-join the probes onto the
    inverted lists on cid, exact-score, per-query top-k.

    ``lists`` is (vec_id, embedding, cid) — the corpus re-keyed by
    coarse cell. The probes side is queries x nprobe rows and is
    broadcast, so the only corpus-sized motion is the pruned list scan
    itself."""
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # per query: the nprobe nearest centroid ids (rounded tie surface)
    probes = probe_centroids(q, cents)
    cand = (
        F.broadcast(probes)
        .join(
            lists.select(
                F.col("vec_id").alias("cand_id"),
                F.col("embedding").alias("c_emb"),
                "cid",
            ),
            "cid",
        )
        .filter(F.col("cand_id") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id",
        "cand_id",
        # A/B: cosine_arrow here measured WORSE on the pure-serve
        # caller (sim_ivf_query 1.20/1.38 vs 0.98/0.90 s warm, both
        # interleaved rounds) — the nprobe-pruned stream is ~12k rows at
        # sf0.1, under the Arrow hop's break-even. HOF kept; the >=50k
        # sites (bruteforce, pq decode) carry the kernel.
        F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cos_sim"),
    )
    return per_query_topk(scored)


_INDEX_MARKER = "_index_meta.json"


def index_ready(out: str, kind: str) -> bool:
    """A directory at ``out`` is a servable index only if it carries
    the completion marker with the CURRENT shape constants. A bare
    isdir() check would trust any pre-existing directory at the
    predictable temp path (foreign content, or a stale layout from an
    older code version) wholesale. A damaged marker (not JSON, or JSON
    that is not an object) is not ready; an unreadable one raises."""
    marker = os.path.join(out, _INDEX_MARKER)
    if not os.path.isfile(marker):
        return False
    with open(marker) as fh:
        try:
            return json.load(fh).get("shape") == list(_index_shape(kind))
        except (ValueError, AttributeError):
            return False


def _publish_index(out: str, kind: str, write_fn) -> str:
    """Build-then-rename publish discipline shared by every index
    build: ``write_fn(tmp)`` materializes the index under a
    UNIQUE temp name (pid + uuid — pid alone would let two threads of
    one process interleave writes into the same directory and rename a
    corrupted mix into place), a completion marker with the shape
    constants is stamped last, then one atomic os.rename publishes it.
    Losing the rename race (the destination appeared meanwhile) is
    fine because builds are deterministic: the winner's index is
    byte-equivalent; any other rename failure propagates. A directory
    already present but WITHOUT a valid marker (foreign, or a stale
    layout) is removed and rebuilt rather than trusted — UNLESS it
    carries maintenance state (a compaction-epoch file, or committed
    appended bids): that is a MAINTAINED index whose marker may
    legitimately differ from the build constants (e.g. a
    width-retrained LSH index records its published width), and
    rebuilding would silently destroy every appended row — the
    'default-path build rebuilt a base-only index' hazard the retrain
    preamble refuses in the crash case, refused here in the idempotent
    build-call case."""
    if index_ready(out, kind):
        return out
    out_abs = os.path.abspath(out)
    parent, name = os.path.dirname(out_abs), os.path.basename(out_abs)
    if os.path.isdir(out):
        # Maintenance state = the compaction epoch, LIVE appended bids,
        # OR committed bids a crashed compact renamed aside
        # (appends.folding.* — present even before the epoch bump when
        # the crash hit between rename-aside and _bump_epoch). Any of
        # these means appended rows exist
        # that a rebuild would silently destroy.
        has_bids = any(
            _bids(os.path.join(out, d))
            for d in os.listdir(out)
            if d.startswith(tuple(f.appends for f in _FAMILIES))
        )
        if os.path.isfile(os.path.join(out, _EPOCH_FILE)) or has_bids:
            raise CompactionFenceError(
                f"refusing to rebuild {out}: it carries maintenance "
                "state (compaction epoch, appended bids, and/or "
                "crashed-compact fold leftovers) but is not the "
                "current build shape — likely a retrained or "
                "mid-maintenance index. Rebuilding would silently "
                "discard its appended rows; serve it through the "
                "maintained-index readers, retrain it, or remove it "
                "explicitly (see MAINTENANCE.md, 'Recovery states')."
            )
        shutil.rmtree(out, ignore_errors=True)
    if os.path.isdir(parent) and any(
        d.startswith(f"{name}.old.")
        or (
            d.startswith(f"{name}.retraining.")
            and os.path.isfile(os.path.join(parent, d, _RETRAIN_READY))
        )
        for d in os.listdir(parent)
    ):
        # The dir is now missing either way (absent at entry, or an
        # invalid maintenance-free dir was just removed above — an
        # `elif` here let that second path rebuild without this scan
        # and re-manufacture the impostor state): a READY
        # snapshot and/or backup beside the missing index means a
        # retrain crashed mid-swap — states the family's retrain
        # preamble can actually heal (roll forward / roll back).
        # Building fresh here would manufacture the impostor state the
        # preamble can only refuse for manual resolution — refuse at
        # the source instead. A NON-ready
        # .retraining.* orphan with no backup deliberately does NOT
        # refuse: it is the preamble's own sweepable-garbage class (a
        # retrain that died mid-write holds no committed rows), the
        # retrain remedy could not heal it (no index, no backup ->
        # FileNotFoundError), and refusing would dead-end an operator
        # who disposed of the index explicitly.
        raise CompactionFenceError(
            f"refusing to build at {out}: the index dir is missing but "
            "healable maintenance siblings (a ready .retraining. "
            "snapshot and/or a .old. backup) sit beside it — a retrain "
            "crashed mid-swap. Run the family's retrain to roll the "
            "swap forward (or back) instead of building fresh, which "
            "would strand the snapshot's appended rows (see "
            "MAINTENANCE.md, 'Recovery states')."
        )
    tmp = f"{out}.building.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        write_fn(tmp)
        with open(os.path.join(tmp, _INDEX_MARKER), "w") as fh:
            json.dump({"shape": list(_index_shape(kind))}, fh)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        try:
            os.rename(tmp, out)
        except OSError:
            if not index_ready(out, kind):  # not a lost race: real failure
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def ivf_build(spark: SparkSession, sf_dir: str, index_dir: str | None = None) -> str:
    """BUILD phase of the IVF serving split (the ivfpq_build pattern,
    sans codes): train portable_centroids once, assign every vector,
    persist centroids plus the inverted lists PARTITIONED BY cid, then
    atomically rename into place (_publish_index). Serving then reads
    only the probed cells: the probes side is tiny and equi-keyed on
    the partition column, so Spark's dynamic partition pruning skips
    the other K - nprobe directories entirely — at 100 TB the index
    scan is nprobe/K of the corpus at the FILE level, not post-scan.
    Build is deterministic from the base table, so the persisted index
    inherits the driver-checked oracle (the same SQL proves
    train+serve from scratch and serve-from-disk)."""
    out = index_dir or _index_dir(sf_dir, "ivf")
    if index_ready(out, "ivf"):
        return out
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint, not cache: K tiny rows, reused by the literal
    # collect and the probe/residual joins, released on GC instead of
    # pinned session-long (a bare .cache() here was never unpersisted).
    cents = portable_centroids(emb).transform(local_checkpoint, eager=False)
    assigned = ivf_assign(emb, cents, round_digits=6)

    return _publish_index(
        out, "ivf", lambda tmp: _ivf_write_artifacts(spark, tmp, cents, assigned)
    )


def _ivf_write_artifacts(
    spark: SparkSession, tmp: str, cents: DataFrame, assigned: DataFrame
) -> None:
    """Materialize an IVF index's artifacts under ``tmp`` — shared by
    ivf_build and ivf_retrain, so the retrain's byte-equivalence with a
    fresh build is this sharing plus the kernel's determinism."""
    cents.write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))
    assigned.write.mode("overwrite").partitionBy(IVF.part).parquet(
        os.path.join(tmp, IVF.data)
    )
    # per-cid training stats (member count + integer cos sum): the
    # fixed yardstick ivf_append's drift metric diffs against.
    # Computed from the lists JUST WRITTEN, not from `assigned` —
    # re-executing that frame would re-run the full corpus
    # scan+argmax a second time (the portable_centroids double-pass
    # class), and read-back is _append's durable-truth discipline
    # anyway.
    landed = _project(spark.read.parquet(os.path.join(tmp, IVF.data)), IVF, IVF.stored)
    _assign_cos_stats(landed, cents).write.mode("overwrite").parquet(
        os.path.join(tmp, "stats")
    )


@query("sim_ivf_query", _ivf_oracle())
def sim_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY phase of the IVF serving split: answer top-k from the
    PREBUILT index (ivf_build persists centroids + cid-partitioned
    inverted lists; builds on first call, reuses thereafter) — no
    retraining. Training is ~2/3 of sim_ivf_topk's cost, and it re-runs
    per call there; this mirrors production ANN serving,
    where an index is built per ingest batch and amortized over every
    query."""
    idx = ivf_build(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    lists = spark.read.parquet(os.path.join(idx, "lists"))
    return _ivf_serve(emb, cents, lists)


# --- incremental IVF index maintenance ---------------------------------------


def _assign_cos_stats(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-cid (n, cos_sum_mu) of an assignment: member count plus the
    integer micro-unit sum of member-to-centroid cosines on the
    ROUND(cos, 6) surface — sim_kmeans' exact cross-engine stats shape,
    reused as the drift yardstick of the incremental index."""
    # A/B: cosine_arrow measured +0.12 s on sim_ivf_incremental
    # (corpus-sized n x 1 rescore, under the Arrow break-even) — HOF kept
    cos_c = F.round(cosine(F.col("embedding"), F.col("c_emb")), 6)
    return (
        assigned.join(F.broadcast(cents), "cid")
        .groupBy(F.col("cid").cast("bigint").alias("cid"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.floor(cos_c * 1_000_000)).cast("bigint").alias("cos_sum_mu"),
        )
    )


def _drift_report(
    base_stats: DataFrame,
    new_stats: DataFrame,
    val: str = "cos_sum_mu",
) -> DataFrame:
    """Full-outer per-cid diff of two assignment-stats frames, plus
    the exact-integer drift numerator: mean_new - mean_base has the
    sign of new_<val> * n_base - base_<val> * n_new (cross-multiplied
    to stay in BIGINT — no integer division of possibly-negative sums:
    Spark's div and DuckDB's // both truncate toward zero (measured),
    but Python's // floors, and sidestepping division keeps every
    replay surface exact regardless of convention). Sign
    reading depends on the metric: for the IVF cos stats
    (val="cos_sum_mu", higher = closer) a NEGATIVE drift numerator
    means the new snapshot sits farther from the frozen centroids than
    the training corpus did; for the IVFPQ quantization-error stats
    (val="qerr_sum_mu", higher = worse) the retrain signal is POSITIVE.
    Zero when either side is empty.

    Exactness envelope: the cross-multiply is exact while
    |new_<val> * n_base| < 2^63. Both registered metrics are LINEAR
    micro-unit sums (|sum| <= n * 1e6), so the bound is
    n_new * n_base < ~9.2e12 per cid — comfortable for per-cell
    populations but a real ceiling for billion-row cells; metrics whose
    sums grow superlinearly must NOT reuse this (the LSH pair counts
    are quadratic per band and use _lsh_drift_report's overflow-free
    split-division density surface instead)."""
    b = base_stats.select(
        "cid",
        F.col("n").alias("n_base"),
        F.col(val).alias(f"base_{val}"),
    )
    s = new_stats.select(
        "cid",
        F.col("n").alias("n_new"),
        F.col(val).alias(f"new_{val}"),
    )
    j = b.alias("b").join(s.alias("s"), "cid", "full_outer")
    n_base = F.coalesce("n_base", F.lit(0)).cast("bigint")
    n_new = F.coalesce("n_new", F.lit(0)).cast("bigint")
    base_sum = F.coalesce(f"base_{val}", F.lit(0)).cast("bigint")
    new_sum = F.coalesce(f"new_{val}", F.lit(0)).cast("bigint")
    return j.select(
        F.col("cid").cast("bigint").alias("cid"),
        n_base.alias("n_base"),
        n_new.alias("n_new"),
        base_sum.alias(f"base_{val}"),
        new_sum.alias(f"new_{val}"),
        (new_sum * n_base - base_sum * n_new)
        .cast("bigint")
        .alias("drift_num_mu"),
    )


@dataclass(frozen=True)
class _IndexFamily:
    """One maintained ANN index family: its on-disk layout — every fact
    the shared lifecycle (_append, _with_appends, _compact_index,
    _retrain_swap, _open_append_stream) needs — and its drift
    yardstick, from which the drift report, the cadence baseline, the
    sim_*_cadence surface and the retrain trigger follow. The family's
    math (encode, stats, artifact writer) stays in its own entry points
    and is passed in as functions."""

    kind: str  # _index_shape / marker key
    ops: str  # public name prefix, for the heal-with messages
    data: str  # base table dir
    appends: str  # appended-bids dir
    key: tuple  # dedup identity in compact
    part: str  # partition column (both dirs), and its read-back type
    part_type: str
    stored: tuple  # columns compact keeps and _append reads back
    served: tuple  # columns *_with_appends serves
    checkpoint: str  # default stream checkpoint, inside the index dir
    empty_stats: str  # DDL of an empty stats frame (empty-batch report)
    # (stats column, sign of the bad direction) of a centroid family.
    # None for LSH: its planes are data-independent, so its collision
    # density drift has no train-vs-holdout gap to baseline.
    yardstick: tuple[str, int] | None = None

    def drift(self, base_stats: DataFrame, new_stats: DataFrame) -> DataFrame:
        """The per-partition drift report of ``new_stats`` against the
        build-time ``base_stats``."""
        if self.yardstick is None:
            return _lsh_drift_report(base_stats, new_stats)
        return _drift_report(base_stats, new_stats, val=self.yardstick[0])


_APPENDS = "appends"

IVF = _IndexFamily(
    kind="ivf",
    ops="ivf",
    data="lists",
    appends=_APPENDS,
    key=("vec_id",),
    part="cid",
    part_type="bigint",
    stored=("vec_id", "embedding", "cid"),
    served=("vec_id", "embedding", "cid"),
    checkpoint="_append_ckpt",
    empty_stats="cid bigint, n bigint, cos_sum_mu bigint",
    yardstick=("cos_sum_mu", -1),  # lower mean cos = farther from the centroids
)
IVFPQ = _IndexFamily(
    kind="ivfpq",
    ops="ivfpq",
    data="codes",
    appends="code_appends",
    key=("cand_id",),
    part="cid",
    part_type="bigint",
    stored=("cand_id", "cid", "codes", "qerr"),
    served=("cand_id", "cid", "codes"),  # serving needs only the codes
    checkpoint="_code_append_ckpt",
    empty_stats="cid bigint, n bigint, qerr_sum_mu bigint",
    yardstick=("qerr_sum_mu", +1),  # higher qerr = the codebooks fit worse
)
# (vec_id, band): a vector owns one row per band.
ANNLSH = _IndexFamily(
    kind="annlsh",
    ops="ann_lsh",
    data="sigs",
    appends=_APPENDS,
    key=("vec_id", "band"),
    part="band",
    part_type="int",
    stored=("vec_id", "band", "sig"),
    served=("vec_id", "band", "sig"),
    checkpoint="_sig_append_ckpt",
    empty_stats="band bigint, n bigint, pair_sum bigint",
)
_FAMILIES = (IVF, IVFPQ, ANNLSH)


def _diff_sql(key: str, val: str) -> str:
    """The drift oracles' full-outer per-``key`` diff of the CTEs base
    (key, n_base, base_<val>) and newb (key, n_new, new_<val>), an
    empty side counting 0 — the join of _drift_report and
    _lsh_drift_report."""
    cols = ",\n       ".join(
        f"CAST(COALESCE({c}, 0) AS BIGINT) AS {c}"
        for c in ("n_base", "n_new", f"base_{val}", f"new_{val}")
    )
    return f"""SELECT CAST(COALESCE(base.{key}, newb.{key}) AS BIGINT) AS {key},
       {cols}
FROM base FULL JOIN newb ON base.{key} = newb.{key}"""


def _split_sql() -> str:
    """The incremental split in DuckDB: c1 trained on the standing half
    (even vec_ids, _portable_c1_cte) and ax / axq over every vector."""
    return f"""{_portable_c1_cte(where="WHERE vec_id % 2 = 0")},
{_vectors_sql("ax", "axq")}"""


def _incremental_oracle(fam: _IndexFamily, yv: str) -> str:
    """A centroid family's drift-report oracle. ``yv`` is the CTE chain
    after _split_sql that ends in yv (vec_id, cid, y): each vector's c1
    cell and its yardstick summand. Even vec_ids are the training side,
    odd ones the snapshot; drift_num_mu is _drift_report's
    cross-multiply."""
    val = fam.yardstick[0]
    return f"""
WITH {_split_sql()},
{yv},
base AS (SELECT cid, COUNT(*) AS n_base, CAST(SUM(y) AS BIGINT) AS base_{val}
         FROM yv WHERE vec_id % 2 = 0 GROUP BY cid),
newb AS (SELECT cid, COUNT(*) AS n_new, CAST(SUM(y) AS BIGINT) AS new_{val}
         FROM yv WHERE vec_id % 2 = 1 GROUP BY cid),
rep AS ({_diff_sql("cid", val)})
SELECT *, CAST(new_{val} * n_base - base_{val} * n_new AS BIGINT) AS drift_num_mu
FROM rep
"""


def _centroid_incremental(
    spark: SparkSession, sf_dir: str, fam: _IndexFamily, stats_for
) -> DataFrame:
    """sim_{ivf,ivfpq}_incremental: centroids trained on the STANDING
    corpus (vec_id % 2 = 0); ``stats_for(corpus, cents)`` returns the
    family's frame -> per-cid stats function, and the family's drift
    report compares its stats of the snapshot (vec_id % 2 = 1) with
    those of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    snap = emb.filter(F.col("vec_id") % 2 == 1)
    # localCheckpoint: consumed by both assignments' literal collects
    # and broadcast joins (and IVFPQ's codebook seed slice) — without
    # it the Lloyd training DAG would execute once per consumer
    cents = portable_centroids(corpus).transform(local_checkpoint, eager=False)
    stats = stats_for(corpus, cents)
    return fam.drift(stats(corpus), stats(snap))


def _mix_cadence(rep: DataFrame, fam: _IndexFamily) -> DataFrame:
    """sim_{ivf,ivfpq}_cadence: a centroid family's drift report plus,
    per cid, the exact-integer mix expectation mix_exp_mu = (n_new *
    base_<y>) div n_base (0 for n_base = 0) and mix_gap_mu = new_<y> -
    mix_exp_mu (see sim_ivf_cadence)."""
    val = fam.yardstick[0]
    exp_mu = F.when(F.col("n_base") == 0, F.lit(0)).otherwise(
        F.expr(f"(n_new * base_{val}) div n_base")
    )
    return rep.select(
        "*",
        exp_mu.cast("bigint").alias("mix_exp_mu"),
        (F.col(f"new_{val}") - exp_mu).cast("bigint").alias("mix_gap_mu"),
    )


def _cadence_oracle(fam: _IndexFamily, incremental: str) -> str:
    """_mix_cadence's DuckDB twin over the family's incremental oracle
    (DuckDB's // truncates toward zero like Spark's div)."""
    val = fam.yardstick[0]
    exp = f"CASE WHEN n_base = 0 THEN 0 ELSE (n_new * base_{val}) // n_base END"
    return f"""
WITH rep AS ({incremental})
SELECT *, CAST({exp} AS BIGINT) AS mix_exp_mu,
       CAST(new_{val} - ({exp}) AS BIGINT) AS mix_gap_mu
FROM rep
"""


def _ivf_incremental_oracle() -> str:
    return _incremental_oracle(
        IVF,
        f"""yv AS (SELECT vec_id, cid, CAST(FLOOR(cos6 * 1000000) AS BIGINT) AS y
       FROM ({_nearest_sql("ax", "c1")}))""",
    )


@query("sim_ivf_incremental", _ivf_incremental_oracle())
def sim_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance: assign a NEW embedding
    snapshot (vec_id % 2 = 1) into centroids trained on the STANDING
    corpus (vec_id % 2 = 0) without retraining — dd_incremental's
    add-new-data-without-reprocessing story for the vector side.
    Output per cid: training member count + integer cos sum, snapshot
    member count + cos sum, and the exact-integer drift numerator
    (sign of mean_new - mean_assign at training time; see
    _drift_report).  The split mirrors dd_incremental's mod-2 choice:
    both halves are non-vacuous at sf0.01 and the snapshot includes
    query-range vec_ids, so the serving test can find new vectors.

    This IS ivf_append's arithmetic — the machinery test asserts the
    persisted-index path (ivf_build on the corpus half + ivf_append of
    the snapshot) returns exactly these rows, so the driver's oracle
    evidence covers the maintained-index code path too.

    Scale shape: two zero-shuffle literal-argmax assignments
    (ivf_assign) + two broadcast joins onto the K-row centroid table +
    map-side-combinable per-cid sums; the only exchange anywhere
    carries K-cardinality rows.  The snapshot never touches the
    standing lists — at 100 TB yesterday's corpus is not rescanned,
    exactly like the maintained dedup index.  Measured exponents
    (SCALEPROBE.json): 0.034 at 10x, 0.243 at 100x — the corpus
    passes are embarrassingly parallel and the sf0.1 base (n=2000) is
    per-job-overhead-dominated, the known ANN-operator shape."""
    return _centroid_incremental(
        spark, sf_dir, IVF,
        lambda corpus, cents: lambda df: _assign_cos_stats(
            ivf_assign(df, cents, round_digits=6), cents
        ),
    )


@query("sim_ivf_cadence", _cadence_oracle(IVF, _ivf_incremental_oracle()))
def sim_ivf_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrain-cadence arithmetic as a driver-checkable surface —
    sim_ivf_incremental's drift report extended with the EXACT-integer
    mix expectation the calibrated trigger (ivf_retrain_due /
    MAINTENANCE.md "Retrain cadence") compares against: per cid,
    ``mix_exp_mu`` = the cos sum this batch WOULD score if its members
    matched the cell's training quality — (n_new * base_cos_sum_mu)
    div n_base — and ``mix_gap_mu`` = the batch's actual cos sum minus
    that expectation. Engine equality holds for EVERY sign: Spark's
    ``div`` and DuckDB's ``//`` both truncate toward zero (verified
    empirically — DuckDB does NOT floor: (-7)//2 = -3 in both), and a
    cell's cos sum CAN be negative, so the truncate-vs-floor
    distinction is live here and the two engines happen to share the
    convention (Python's flooring // is the
    odd one out — replay helpers must use int() division or the
    emitted columns). Sum the gaps over the n_base > 0 cids and the
    sign IS the mix-adjusted drift the trigger alarms on — cells the
    training stats never saw are EXCLUDED from the trigger's
    comparison and surface through its ``unseen_frac`` instead; their
    mix_gap_mu equals their raw new sum and ``n_base = 0`` marks them
    in this output (the float CV threshold stays engine-side: it is a
    monitoring default, not an oracle surface; the tie test pins the
    trigger's rel_drift to these columns with exactly that filter).
    Overflow envelope: |n_new * base_cos_sum_mu| <= n_new * n_base *
    1e6 per cell — the _drift_report cross-multiply bound, documented
    there.

    Scale shape: sim_ivf_incremental's plan (two zero-shuffle
    literal-argmax assignments + map-side-combined per-cid sums; the
    only exchange carries K-cardinality rows) plus a K-row
    projection."""
    return _mix_cadence(sim_ivf_incremental(spark, sf_dir), IVF)


def _refit_sql() -> str:
    """The retrain oracles' union refit after _split_sql: old (vec_id,
    old_cid), each vector's label in the standing c1 space; c2,
    portable_centroids re-run on every vector; and a2 (vec_id, cid,
    cos6), the re-assignment into c2 — the train-from-scratch replay a
    retrain must equal."""
    return f"""{_split_sql()},
old AS (SELECT vec_id, cid AS old_cid FROM ({_nearest_sql("ax", "c1")})),
{_lloyd_sql("ax", "axq", "c2")},
a2 AS ({_nearest_sql("ax", "c2")})"""


def _ivf_retrain_oracle() -> str:
    return f"""
WITH {_refit_sql()},
stats AS (SELECT cid, COUNT(*) AS n_members,
                 CAST(SUM(CAST(FLOOR(cos6 * 1000000) AS BIGINT)) AS BIGINT)
                   AS cos_sum_micros,
                 CAST(SUM(CAST(cid <> old_cid AS INTEGER)) AS BIGINT) AS n_moved
          FROM a2 JOIN old USING (vec_id) GROUP BY cid),
{_sums_sql("a2", "axq")}
SELECT stats.cid, stats.n_members, stats.cos_sum_micros, stats.n_moved,
       sums2.centroid_sums
FROM stats JOIN sums2 USING (cid)
"""


# The oracle replays the monolithic train, so the
# driver check proves retrain-from-served-state == train-from-scratch.
@query("sim_ivf_retrain", _ivf_retrain_oracle())
def sim_ivf_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRAIN closing the maintained-IVF loop — the action a
    positive drift report (sim_ivf_incremental) calls for: refit the
    centroids on the index's SERVED state (standing lists ∪ appended
    snapshot — exactly ivf_lists_with_appends' union, the raw corpus
    never re-read) with the same deterministic kernel the build uses,
    re-assign every vector, and report the refreshed space. Because
    portable_centroids depends only on the (vec_id, embedding) set,
    retrain-from-served-state is provably equal to train-from-scratch
    on the union corpus — the oracle replays the monolithic train, so
    the driver check proves RETRAIN-EXACTNESS, the vector-side analog
    of sk_cms_incremental's merge-exactness.

    Output per NEW cid: the sim_kmeans surface (member count, integer
    micro-unit cosine sum, comma-joined centroid component sums) plus
    ``n_moved`` — members whose pre-retrain label (assignment into the
    STANDING centroids, i.e. their lists/appends cid) differs from
    their new label. Labels are seed vec_ids in both spaces, so
    n_moved measures exactly what an operator asks after a drift
    alarm: how much of the space actually shifted. n_moved also keeps
    the standing-centroid assignment load-bearing in the plan (without
    it Catalyst's column pruning would collapse the served-union
    construction to a bare corpus scan and the query would prove
    nothing about the incremental path).

    This IS ivf_retrain's arithmetic — the machinery test asserts the
    persisted path (ivf_build on the standing half + ivf_append of the
    snapshot + ivf_retrain) serves an index byte-equivalent to a fresh
    build on the union, with these stats as its recorded yardstick.

    Scale shape: two Lloyd trains + three zero-shuffle literal-argmax
    assignments + K-row broadcast joins; every exchange carries K-
    cardinality rows except the (cid, pos) cell sums (K x dim). The
    served union is localCheckpointed once — it feeds the train, the
    re-assignment, and the moved-label join, and each would otherwise
    re-execute the standing train + two assignments."""
    emb = load_table(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") % 2 == 0)
    snapshot = emb.filter(F.col("vec_id") % 2 == 1)
    c1 = portable_centroids(standing).transform(local_checkpoint, eager=False)
    served = (
        ivf_assign(standing, c1, round_digits=6)
        .unionByName(ivf_assign(snapshot, c1, round_digits=6))
        .withColumnRenamed("cid", "old_cid")
        .transform(local_checkpoint, eager=False)
    )
    vecs = served.select("vec_id", "embedding")
    c2 = portable_centroids(vecs).transform(local_checkpoint, eager=False)
    a2 = ivf_assign(vecs, c2, round_digits=6).join(
        served.select("vec_id", "old_cid"), "vec_id"
    )
    # A/B (in-JVM interleaved): cosine_arrow here measured 0.758 vs
    # 0.581 s min — the n x 1 rescore is under the Arrow break-even
    # (~50k pairs at sf0.1); HOF kept
    cos_c = F.round(cosine(F.col("embedding"), F.col("c_emb")), 6)
    stats = (
        a2.join(F.broadcast(c2), "cid")
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.floor(cos_c * 1_000_000)).cast("bigint").alias(
                "cos_sum_micros"
            ),
            F.sum((F.col("old_cid") != F.col("cid")).cast("int"))
            .cast("bigint")
            .alias("n_moved"),
        )
    )
    sums2 = (
        _km_cells(a2.select("cid", "embedding"))
        .groupBy("cid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))),
                    lambda st: st["s"].cast("string"),
                ),
                ",",
            ).alias("centroid_sums")
        )
    )
    return stats.join(sums2, "cid").select(
        "cid", "n_members", "cos_sum_micros", "n_moved", "centroid_sums"
    )


_EPOCH_FILE = "compact.epoch"
_CADENCE_BASELINE = "cadence_baseline"
_FOLDED_HWM = "folded.hwm"


def _project(df: DataFrame, fam: _IndexFamily, cols: tuple) -> DataFrame:
    """``cols`` of a read-back index frame, the partition column cast
    back to its canonical type (parquet partition discovery infers int)."""
    return df.select(
        *(F.col(c).cast(fam.part_type).alias(c) if c == fam.part else c for c in cols)
    )


def _folded_hwm(index_dir: str) -> int:
    """Highest batch_id any RETRAIN of this index has folded (-1 for a
    never-retrained index; stamped into the snapshot by _retrain_swap).
    The recorder's replay fence: a batch at or below this mark was
    folded into the training corpus by a retrain, so a redelivery of
    it (the auto-retrain crash window; a restart-AFRESH stream
    re-reading old files) produces an IN-TRAINING drift report — no
    train-vs-holdout optimism gap — and recording that as the cadence
    baseline would make every later genuine holdout look ~gap worse
    than baseline and fire spurious retrains. Relies on
    the bid-monotonicity contract the CMS registry documents: fresh
    data never reuses a bid at or below a fold's high-water mark.
    Compact does NOT advance it — compact folds rows without refitting
    ``stats``, so a replayed compact-folded batch is still a genuine
    holdout with respect to the yardstick. Unreadable-but-present
    marker propagates (fail closed), like the epoch file."""
    try:
        with open(os.path.join(index_dir, _FOLDED_HWM)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return -1


def _maybe_record_cadence_baseline(
    index_dir: str, report: DataFrame, batch_id: int
) -> bool:
    """Persist the FIRST post-build append's drift report as the
    index-owned cadence baseline (<index>/cadence_baseline) — the
    ``baseline=`` input the centroid retrain triggers need to cancel
    the train-vs-holdout optimism gap (~16% mean cos IVF / ~4% mean
    qerr IVFPQ on the sf0.1 fixtures, _centroid_retrain_due). Without
    a durable copy the gap cancellation died with the process that
    observed the first append, and every restarted monitor silently
    degraded to the conservative over-firing mode; the index dir owns
    the baseline the way it owns ``stats``.

    Write-once, exactly-once-by-construction under the append
    lifecycle: written only when absent, atomically (unique tmp dir +
    one rename), AFTER the batch's append partitions landed and BEFORE
    the caller's checkpoint commits. A crash before the rename leaves
    the batch uncommitted, so its replay recomputes the identical
    report (assignment against frozen state is deterministic) and
    rewrites the identical baseline; a crash after the rename makes
    the replay a no-op here (dir exists). Losing a rename race to a
    concurrent ad-hoc appender is equally fine — both candidates
    derive from the same frozen stats, and first-landed wins is
    exactly the "first append" contract. Stale ``cadence_baseline.
    tmp.*`` crash litter is sweepable garbage (same class as a
    non-ready .retraining. orphan: no committed state points at it).

    The report (K-cardinality rows) is executed once here — the only
    eager job this module adds to an append path, paid on the first
    append per index lifetime. A RETRAIN swaps in a whole new dir
    (without a baseline), so the first post-retrain append records a
    fresh baseline against the refreshed yardstick — the artifact
    joins the atomic swap by construction, no cross-dir bookkeeping.
    ``baseline_bid`` records provenance for operators and the schedule
    property; the triggers' aggregate ignores it."""
    dest = os.path.join(index_dir, _CADENCE_BASELINE)
    if os.path.isdir(dest):
        return False
    if int(batch_id) <= _folded_hwm(index_dir):
        # a redelivery of a batch some retrain already folded: its
        # vectors are TRAINING MEMBERS of the current yardstick, so
        # its report carries no optimism gap — recording it would bias
        # the baseline and fire spurious retrains on every genuine
        # holdout after it (see _folded_hwm)
        return False
    tmp = f"{dest}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        (
            report.withColumn(
                "baseline_bid", F.lit(int(batch_id)).cast("bigint")
            )
            .write.mode("overwrite")
            .parquet(tmp)
        )
        try:
            os.rename(tmp, dest)
        except OSError:
            if not os.path.isdir(dest):  # not a lost race: real failure
                raise
            return False
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return True


def load_cadence_baseline(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The persisted first-post-build append report
    (_maybe_record_cadence_baseline), or None for an index that has
    never been appended to since its last (re)build — the triggers
    then run in the documented conservative single-report mode."""
    dest = os.path.join(index_dir, _CADENCE_BASELINE)
    if not os.path.isdir(dest):
        return None
    return spark.read.parquet(dest)


def compaction_epoch(index_dir: str) -> int:
    """Current compaction epoch of a maintained index: the number of
    compactions that have STARTED folding appends (0 for a fresh
    index; the marker file is written atomically by _bump_epoch).
    Streams snapshot this at open and pass it to every append — the
    fence that turns the compact-vs-inflight-append race from a
    documented caller rule into a loud failure (see ivf_compact)."""
    path = os.path.join(index_dir, _EPOCH_FILE)
    try:
        with open(path) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return 0
    # any OTHER failure (EACCES/EIO, corrupt/empty contents) propagates:
    # a safety fence must fail CLOSED — mapping an unreadable marker to
    # epoch 0 would disarm it exactly when a half-written file after a
    # crash means a compact may have run


def _bump_epoch(index_dir: str) -> int:
    """Advance the compaction epoch (write-tmp + fsync + atomic
    rename). Called the moment a compaction commits to folding — AFTER
    the appends tree is renamed aside, BEFORE any merge work — so a
    fenced append observes the new epoch either at entry (_check_epoch)
    or right after its write lands (_post_write_fence, which also
    removes the landed bid). Neither side holds a lock, so a fold and
    an append CAN still interleave in a microsecond window — but every
    interleaving now ends in a loud CompactionFenceError with at most
    one bid of key-deduped replay residue, never the silent double-
    serve. A compaction that crashes later leaves the epoch advanced:
    open streams refuse loudly, which is the point."""
    nxt = compaction_epoch(index_dir) + 1
    tmp = os.path.join(index_dir, f".{_EPOCH_FILE}.tmp.{os.getpid()}")
    _write_synced(tmp, str(nxt))  # a power-cut empty marker would fail-closed
    os.rename(tmp, os.path.join(index_dir, _EPOCH_FILE))
    return nxt


class CompactionFenceError(RuntimeError):
    """An append observed a compaction epoch newer than the one its
    stream opened under: a compact folded (or is folding) appends the
    stream's checkpoint has not committed past. Re-appending now could
    double-serve replayed rows until the next compaction heals them —
    the caller must reopen (re-snapshot centroids + epoch) instead."""


def _check_epoch(index_dir: str, expect_epoch: int | None) -> None:
    if expect_epoch is None:
        return
    now = compaction_epoch(index_dir)
    if now != expect_epoch:
        raise CompactionFenceError(
            f"compaction epoch advanced {expect_epoch} -> {now} under "
            f"{index_dir}: a compact ran while this append stream was "
            "open; stop and reopen the stream (quiesce contract)"
        )


def _post_write_fence(
    index_dir: str, expect_epoch: int | None, bid_dir: str
) -> None:
    """The fence's act half: the entry _check_epoch is check-then-act
    (a compact can start folding DURING the micro-batch), so after the
    bid partition lands, re-read the epoch; if it advanced, best-effort
    remove the just-written bid subtree and raise. Two races remain,
    both bounded and loud: (a) the compact renamed appends aside AFTER
    our rows landed — they are being folded exactly once, the raise
    fails the stream before its checkpoint commits, and the reopened
    stream's replay residue heals at the next compact's key dedup;
    (b) the compact's rename ran between our write and this removal —
    same story. What can no longer happen is the SILENT path: an
    append landing concurrently with a fold and nobody noticing."""
    if expect_epoch is None:
        return
    now = compaction_epoch(index_dir)
    if now != expect_epoch:
        shutil.rmtree(bid_dir, ignore_errors=True)
        raise CompactionFenceError(
            f"compaction epoch advanced {expect_epoch} -> {now} under "
            f"{index_dir} DURING an append: the landed bid was removed; "
            "stop and reopen the stream (quiesce contract)"
        )


def _append(
    spark: SparkSession,
    fam: _IndexFamily,
    index_dir: str,
    new_emb: DataFrame,
    batch_id: int,
    encode,
    stats,
    expect_epoch: int | None,
) -> DataFrame:
    """The one append path of the maintained index families:
    ``encode(new_emb)`` (the family's frozen-state math) lands under
    ``<index>/<fam.appends>`` partitioned by (bid, fam.part), and the
    per-partition drift report of ``stats(read-back rows)`` against
    the build-time ``stats`` is returned. Steps, in order:

    * epoch check: ``expect_epoch`` (streams pass the
      compaction_epoch snapshotted at open) raises
      CompactionFenceError if a compact or retrain started folding
      since, instead of landing rows that may double-serve on replay;
    * empty batch: short-circuits to a lazy n_new=0 report — a dynamic
      overwrite of an empty frame creates no bid partition, so the
      read-back would raise PATH_NOT_FOUND (file sources never deliver
      empty batches, but kafka/rate/no-data triggers can);
    * the write is a batch_id-keyed DYNAMIC partition overwrite
      (run_incremental_exact_stream's playbook, dedup.py), so an
      at-least-once replay rewrites exactly its own bid partitions
      instead of duplicating rows. That assumes no compact runs
      BETWEEN a batch's append and its checkpoint commit (quiesce
      contract): a replay of an already-folded bid re-creates its rows
      next to the folded copies until the next compaction's key dedup
      heals it;
    * the post-write fence re-reads the epoch and withdraws the bid if
      a fold started during the write;
    * the drift stats come from the READ-BACK bid partition (the
      durable truth a replay would serve), not the in-flight frame;
    * the first post-build append of a centroid family records the
      report as the index-owned cadence baseline.

    Serving reads base ∪ appends (_with_appends); the partition column
    is shared by both, so probe-side file pruning holds for appended
    rows too. New data costs encode + append; the standing index is
    never rescanned."""
    _check_epoch(index_dir, expect_epoch)
    base_stats = spark.read.parquet(os.path.join(index_dir, "stats"))
    if new_emb.isEmpty():
        return fam.drift(base_stats, spark.createDataFrame([], fam.empty_stats))
    out = os.path.join(index_dir, fam.appends)
    # per-writer option, NOT the session conf: the conf spelling
    # silently fell back to static overwrite here (each batch wiped
    # every earlier batch's partitions — caught by the multi-bid
    # streaming twin test; the single-batch replay test couldn't see
    # it because rewriting the whole dir with the same bid's content
    # is indistinguishable from rewriting one partition). The option
    # form is the one run_incremental_exact_stream has proven.
    (
        encode(new_emb)
        .withColumn("bid", F.lit(int(batch_id)).cast("bigint"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bid", fam.part)
        .parquet(out)
    )
    bid_dir = os.path.join(out, f"bid={int(batch_id)}")
    _post_write_fence(index_dir, expect_epoch, bid_dir)
    # read back ONLY this bid's subtree: listing the whole appends
    # tree would pay O(all (bid, part) partitions ever written) file
    # discovery per micro-batch on a long-lived stream, just to prune
    # back down to one bid (the partition column is still discovered
    # under the bid directory)
    landed = _project(spark.read.parquet(bid_dir), fam, fam.stored)
    rep = fam.drift(base_stats, stats(landed))
    if fam.yardstick is not None:
        # one eager K-row job, once per index lifetime
        _maybe_record_cadence_baseline(index_dir, rep, batch_id)
    return rep


def ivf_append(
    spark: SparkSession,
    index_dir: str,
    new_emb: DataFrame,
    batch_id: int,
    cents: DataFrame | None = None,
    expect_epoch: int | None = None,
) -> DataFrame:
    """Append a NEW embedding snapshot to a persisted IVF index WITHOUT
    retraining: assign against the frozen centroids (zero-shuffle
    literal argmax) and land the assignments under ``<index>/appends``
    partitioned by (bid, cid). Returns the per-cid drift report vs the
    training-time stats the build persisted (drift_num_mu going
    NEGATIVE is the quantitative retrain trigger). Durability, fencing
    (``expect_epoch``), the empty-batch guard and serving
    (ivf_lists_with_appends) are _append's contract.

    ``cents`` accepts the already-loaded centroid table so a streaming
    caller pays the parquet read + eager localCheckpoint ONCE per
    stream instead of once per micro-batch; when omitted they are read
    from the index."""
    def encode(df: DataFrame) -> DataFrame:
        nonlocal cents
        if cents is None:
            cents = _frozen_cents(spark, index_dir)
        return ivf_assign(df, cents, round_digits=6)

    return _append(
        spark, IVF, index_dir, new_emb, batch_id, encode,
        lambda landed: _assign_cos_stats(landed, cents), expect_epoch,
    )


def ivf_compact(spark: SparkSession, index_dir: str) -> bool:
    """Fold every appended snapshot into the base inverted lists and
    clear ``appends`` — the periodic maintenance that bounds the
    small-files growth of a long-appended index (each streamed batch
    adds one file per touched (bid, cid) partition; a year of hourly
    appends is ~10^4 files per hot cell without this). Serving through
    ivf_lists_with_appends is IDENTICAL before and after: compaction
    moves rows between layouts, never changes them. The training
    ``stats`` are deliberately untouched — they are the frozen
    training-time drift yardstick, not a rolling mean (folding appended
    members in would let gradual drift recalibrate its own alarm).

    CONTRACT: run quiesced — no in-flight append stream sitting at an
    uncommitted checkpoint (stop run_incremental_ivf_stream first; its
    availableNow drains terminate). An append landing mid-compaction
    would otherwise be folded-or-not depending on timing, and a
    replayed batch whose rows were already folded would briefly serve
    twice. The vec_id-level dedup below heals any such residue at the
    NEXT compaction, but the window in between is the caller's to
    avoid — the same single-writer rule table formats impose on
    OPTIMIZE.

    Returns False (no-op) when there is nothing to fold.  Crash
    discipline and the fold itself live in _compact_index (shared with
    ivfpq_compact), in order:
    * ``appends`` is first renamed ASIDE to ``appends.folding.<tag>``
      (atomic), so folded rows can never be served from both layouts —
      a crash at any later point under-serves the in-flight fold
      (bounded, heals on the next call) instead of double-serving;
    * the compaction EPOCH is bumped the moment a fold is committed to
      (folding sources exist), so any append stream opened under the
      old epoch fails loudly (CompactionFenceError) instead of
      replaying rows the fold may double-serve;
    * the merge reads lists ∪ every ``appends.folding.*`` leftover,
      ASSERTS the append-only contract (every duplicate key carries a
      bit-identical row — assignment is deterministic from the frozen
      centroids; a conflicting re-append would otherwise silently keep
      an arbitrary copy), then DEDUPES on vec_id — pure healing for
      replay residue and post-publish crash leftovers;
    * publish is the two-rename swap (lists -> lists.old.<tag>, tmp ->
      lists) with tags MONOTONIC per index dir (max of wall-clock and
      successor-of-existing — a clock step backwards across crashed
      compactions can never rank a stale backup newest); a crash
      between the renames leaves ``lists`` missing and the next call
      restores the newest backup before retrying;
    * fold sources and backups are removed only after the new lists
      are in place, and all stale tmp/backup dirs are swept on the
      success path, so no committed row is ever lost and no stale
      backup can shadow a newer one."""
    return _compact_index(spark, IVF, index_dir)


def _next_tag(index_dir: str) -> str:
    """Monotonic backup/tmp tag: max(wall-clock ns, successor of every
    numeric tag already under the index dir), zero-padded so
    lexicographic order == numeric order. Wall-clock alone could rank
    a stale backup newest after a backwards clock step between crashed
    compactions."""
    import time

    floor = time.time_ns()
    for d in os.listdir(index_dir):
        suffix = d.rsplit(".", 1)[-1]
        if suffix.isdigit():
            floor = max(floor, int(suffix) + 1)
    return f"{floor:020d}"


def _compact_index(spark: SparkSession, fam: _IndexFamily, index_dir: str) -> bool:
    """Shared fold-appends-into-base core of ivf_compact /
    ivfpq_compact / ann_lsh_compact: rename-aside-first crash
    discipline, epoch fence bump, append-only contract assertion,
    dedup on ``fam.key`` (a composite for the LSH sig table, where a
    vector legitimately owns one row per band), monotonic two-rename
    publish. See ivf_compact's docstring for the full crash ladder."""
    data, appends, keys = fam.data, fam.appends, list(fam.key)
    data_dir = os.path.join(index_dir, data)

    # crash recovery: a previous compaction died between its renames —
    # restore the newest backup
    if not os.path.isdir(data_dir):
        backups = _entries(index_dir, f"{data}.old.")
        if not backups:
            raise FileNotFoundError(f"no {data} under {index_dir}")
        os.rename(os.path.join(index_dir, backups[-1]), data_dir)
    # stale tmp dirs/files from dead compactions are garbage: never
    # published (includes epoch tmps a crash at the publish rename left)
    _sweep(index_dir, f"{data}.compacting.")
    for d in _entries(index_dir, f".{_EPOCH_FILE}.tmp."):
        with contextlib.suppress(OSError):
            os.remove(os.path.join(index_dir, d))

    ap = os.path.join(index_dir, appends)
    fold_srcs = _entries(index_dir, f"{appends}.folding.")
    if os.path.isdir(ap):
        fold_srcs.append(appends)
    if not fold_srcs:
        return False

    def _merged(sources: list[str]):
        dirs = [data_dir, *(os.path.join(index_dir, d) for d in sources)]
        return functools.reduce(
            DataFrame.unionByName,
            (_project(spark.read.parquet(d), fam, fam.stored) for d in dirs),
        )

    # append-only contract, checked BEFORE anything is renamed aside:
    # duplicate keys may only be bit-identical replay residue. A
    # re-append of a CHANGED row for an existing key would otherwise
    # have dropDuplicates keep an arbitrary copy (and pre-compaction
    # serving double-serve conflicting rows). Raising here leaves the
    # index fully served (appends still in place) — checking after the
    # rename-aside would strand every appended row unserved with no
    # automated recovery. One extra pass over
    # base ∪ appends at maintenance time — the price of a loud
    # contract.
    pre = _merged(fold_srcs)
    chk = pre.agg(
        F.countDistinct(*keys).alias("ids"),
        F.countDistinct(F.struct(*pre.columns)).alias("rows"),
    ).collect()[0]
    if chk["ids"] != chk["rows"]:
        raise RuntimeError(
            f"append-only contract violated under {index_dir}: "
            f"{chk['rows'] - chk['ids']} {'/'.join(keys)} key(s) carry "
            "conflicting rows across base/appends — a caller re-appended "
            "a changed row for an existing key; resolve upstream before "
            "compacting"
        )

    tag = _next_tag(index_dir)
    if os.path.isdir(ap):
        os.rename(ap, os.path.join(index_dir, f"{appends}.folding.{tag}"))
    folding = _entries(index_dir, f"{appends}.folding.")
    # the fence: from here on, appends from streams opened earlier
    # must refuse (their checkpoint may not have committed past rows
    # this fold is about to serve from the base layout)
    _bump_epoch(index_dir)
    merged = _merged(folding).dropDuplicates(keys)
    tmp = os.path.join(index_dir, f"{data}.compacting.{tag}")
    merged.write.mode("overwrite").partitionBy(fam.part).parquet(tmp)
    old = os.path.join(index_dir, f"{data}.old.{tag}")
    os.rename(data_dir, old)
    os.rename(tmp, data_dir)
    for d in folding:
        shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
    _sweep(index_dir, f"{data}.old.")
    return True


def _entries(d: str, prefix: str) -> list[str]:
    """Names under ``d`` starting with ``prefix``, sorted: tags are
    zero-padded and monotonic (_next_tag), so the last IS the newest."""
    return sorted(x for x in os.listdir(d) if x.startswith(prefix))


def _sweep(d: str, prefix: str) -> None:
    for x in _entries(d, prefix):
        shutil.rmtree(os.path.join(d, x), ignore_errors=True)


def _bids(ap: str) -> list[int]:
    """The committed batch ids under an appends dir (none if absent)."""
    if not os.path.isdir(ap):
        return []
    return sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(ap) if d.startswith("bid=")
    )


def _write_synced(path: str, text: str) -> None:
    """Write ``text`` to ``path`` and fsync it: a power cut must not
    leave an empty marker behind a later rename."""
    with open(path, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())


def run_incremental_ivf_stream(
    spark: SparkSession,
    index_dir: str,
    source: DataFrame,
    timeout_s: int = 300,
    checkpoint_dir: str | None = None,
    auto_retrain: bool = False,
):
    """Streaming twin of ivf_append (_open_append_stream's contract),
    with the frozen centroids loaded once per stream. Callers wanting
    per-batch drift telemetry call ivf_append from their own
    foreachBatch.

    ``auto_retrain=True`` closes the maintenance loop in-stream: after
    each batch's append lands, the calibrated trigger runs on its
    drift report against the index-owned persisted baseline
    (ivf_retrain_due with index_dir=), and a due verdict performs
    ivf_retrain right there — inside the same foreachBatch call, where
    the quiesce contract holds by construction (foreachBatch is
    serialized; this stream is the single append writer, and the batch
    it just landed is the only in-flight one). The retrain folds the
    just-appended rows, swaps in the refreshed index, and the stream
    re-snapshots its frozen centroids + epoch from the published dir,
    so subsequent batches append against the NEW space (the stale
    snapshots would otherwise fail the epoch fence). The next append
    then records a fresh baseline against the refreshed yardstick.
    Crash window (retrain done, checkpoint uncommitted): the batch
    replays against the retrained index and its rows re-append
    bit-identically (same vec_ids, cids assigned against the published
    centroids — which the retrain itself re-assigned the folded copies
    with), the documented replay-residue class vec_id dedup heals at
    the next fold. The checkpoint must live OUTSIDE the index dir in
    this mode (the default sits inside and would be swapped away
    mid-stream): omit checkpoint_dir and a ``<index>.append_ckpt``
    SIBLING is used; an explicit checkpoint_dir under the index
    refuses loudly."""
    on_report = None
    if auto_retrain:
        checkpoint_dir = checkpoint_dir or f"{index_dir.rstrip('/')}.append_ckpt"
        # realpath, not abspath (symlinked aliases must not slip the
        # guard), and dir-equality too — a checkpoint AT the index dir
        # is exactly as destroyed by the swap as one inside it
        idx_real = os.path.realpath(index_dir)
        ckpt_real = os.path.realpath(checkpoint_dir)
        if ckpt_real == idx_real or ckpt_real.startswith(idx_real + os.sep):
            raise ValueError(
                f"auto_retrain checkpoint {checkpoint_dir} lives inside the index "
                "dir: a due verdict's retrain swaps that dir away mid-"
                "stream, destroying the live checkpoint. Pass a "
                "checkpoint_dir outside the index (or omit it for the "
                "sibling default)."
            )
        # the persisted baseline's rel_drift, cached: it is write-once
        # until a retrain, so re-aggregating it per micro-batch would
        # pay a pointless extra job on the hot path
        base_rel = None

        def on_report(rep: DataFrame, reopen) -> None:
            nonlocal base_rel
            if base_rel is None:
                bl = load_cadence_baseline(spark, index_dir)
                if bl is not None:
                    base_rel = ivf_retrain_due(bl)["rel_drift"]
            if ivf_retrain_due(rep, baseline_rel=base_rel)["due"]:
                ivf_retrain(spark, index_dir)
                reopen()  # append against the refreshed centroids + epoch
                base_rel = None  # refreshed by the next append

    return _open_append_stream(
        spark, IVF, index_dir, source, timeout_s, checkpoint_dir, ivf_append,
        lambda: {"cents": _frozen_cents(spark, index_dir)}, on_report,
    )


def _frozen_cents(spark: SparkSession, index_dir: str) -> DataFrame:
    """The persisted centroids, materialized once for a caller that
    assigns many batches against them."""
    return spark.read.parquet(os.path.join(index_dir, "centroids")).transform(
        local_checkpoint
    )


def _open_append_stream(
    spark: SparkSession,
    fam: _IndexFamily,
    index_dir: str,
    source: DataFrame,
    timeout_s: int,
    checkpoint_dir: str | None,
    append,
    frozen=dict,
    on_report=None,
):
    """The one streaming twin of the maintained index families:
    arriving embedding snapshots stream through a foreachBatch
    ``append(spark, index_dir, batch, batch_id, **frozen state,
    expect_epoch=...)``, so each micro-batch encodes against the
    FROZEN persisted state and lands under (bid=batch_id, fam.part)
    dynamic partition overwrites (_append) — replay-idempotent, and a
    checkpoint restart resumes from the committed batch (both proven
    in tests/test_streaming.py). Serving through the family's
    *_with_appends sees every batch appended so far.

    The checkpoint defaults to ``<index>/<fam.checkpoint>``; a fresh
    checkpoint against live append bids refuses
    (_refuse_fresh_checkpoint). ``frozen()`` loads the family's frozen
    state (centroids, codebooks) ONCE per stream and the compaction
    epoch is snapshotted with it: every micro-batch passes that epoch
    to its append, so a compact or retrain started meanwhile fails the
    stream loudly (CompactionFenceError) instead of silently
    double-serving replayed rows — the quiesce contract,
    machine-enforced. Stop the stream (availableNow drains terminate)
    before compacting.

    The per-batch drift report is lazy and unused unless
    ``on_report(report, reopen)`` is given; ``reopen()`` re-snapshots
    the frozen state and epoch after the caller changed the index (the
    IVF auto-retrain loop). No job runs per batch beyond the append
    itself and the one-time cadence-baseline recording."""
    ckpt = checkpoint_dir or os.path.join(index_dir, fam.checkpoint)
    _refuse_fresh_checkpoint(index_dir, fam.appends, ckpt)
    snap: dict = {}

    def reopen() -> None:
        snap.update(frozen(), expect_epoch=compaction_epoch(index_dir))

    reopen()

    def batch(batch_df: DataFrame, batch_id: int) -> None:
        rep = append(spark, index_dir, batch_df, batch_id, **snap)
        if on_report is not None:
            on_report(rep, reopen)

    return _run_append_stream(source, batch, ckpt, timeout_s)


def _checkpoint_resumed(checkpoint: str) -> bool:
    """True iff the checkpoint carries real streaming progress — at
    least one batch entry in its offsets/ log. Bare directory
    existence is NOT the test: deploy tooling routinely
    pre-creates empty checkpoint dirs with mkdir -p, and Structured
    Streaming assigns batch ids from 0 whenever the offsets log is
    empty, so an existing-but-empty dir is exactly as dangerous as a
    missing one. Entries must look like batch numbers (digits, plus
    the log's N.compact consolidation files) — a lone writer tmp file
    means no batch ever started, i.e. still fresh. The shared resumed
    test of all four stream-twin fences (the CMS registry's guard
    imports it), so a future change to the proxy lands in one place."""
    off = os.path.join(checkpoint, "offsets")
    try:
        entries = os.listdir(off)
    except OSError:
        return False
    return any(
        e.isdigit() or (e.endswith(".compact") and e[: -len(".compact")].isdigit())
        for e in entries
    )


def _refuse_fresh_checkpoint(index_dir: str, appends: str, checkpoint: str) -> None:
    """Refuse to OPEN an append stream with a fresh checkpoint while
    live append bids exist (the CMS registry's fresh-checkpoint
    hazard generalized to the index families): batch ids are monotonic
    only per checkpoint, so a stream restarted with a new checkpoint
    dir reassigns ids from 0 and its (bid=0, part)-keyed dynamic
    overwrites PARTIALLY REPLACE the old stream's bid=0 partitions
    with different vectors — prior appends silently vanish from
    serving. The epoch fence cannot see this (a fresh stream snapshots
    the CURRENT epoch and passes), and compact's append-only contract
    cannot either (rows are removed, not changed). Legal starts stay
    legal: a resumed checkpoint (committed offsets present — not mere
    directory existence, see _checkpoint_resumed) skips the check
    entirely; a first start after build (no appends yet) or after a
    compact (appends folded into the base under their dedup keys, dir
    cleared) has no bid to collide with — even in the post-crash
    degraded window, where appends live renamed-aside in
    ``appends.folding.*`` and a new stream's bid=0 lands in a fresh
    dir the fold simply unions."""
    if _checkpoint_resumed(checkpoint):
        return
    ap = os.path.join(index_dir, appends)
    if _bids(ap):
        raise CompactionFenceError(
            f"fresh checkpoint {checkpoint} against index {index_dir} "
            f"with live append bids under {appends}/: the stream would "
            "assign batch ids from 0 and dynamically overwrite the "
            "prior stream's partitions, silently dropping its appended "
            "rows. Reuse the original checkpoint directory, or compact "
            "the index first (folded rows are keyed by id, not bid)."
        )


def _run_append_stream(source: DataFrame, append_fn, checkpoint: str, timeout_s: int):
    """Shared foreachBatch runner of _open_append_stream and the CMS
    registry's stream (one scaffold in the repo — checkpoint wiring,
    availableNow drain, timeout/stop/raise): the per-stream snapshots
    (frozen state, compaction epoch) stay in the callers, the query
    lifecycle lives here."""
    q = (
        source.writeStream.foreachBatch(append_fn)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"incremental append stream did not drain within {timeout_s}s"
        )
    return q


def ivf_lists_with_appends(spark: SparkSession, index_dir: str) -> DataFrame:
    """The servable inverted lists of an incrementally maintained IVF
    index: the build-time lists plus every appended snapshot. Both
    sides are cid-partitioned on disk, so the serve-phase probe join
    still prunes to nprobe/K of the files."""
    return _with_appends(spark, IVF, index_dir)


def _with_appends(spark: SparkSession, fam: _IndexFamily, index_dir: str) -> DataFrame:
    """The servable rows of a maintained index: base ∪ every appended
    bid, both projected to ``fam.served``."""
    base = _project(
        spark.read.parquet(os.path.join(index_dir, fam.data)), fam, fam.served
    )
    ap = os.path.join(index_dir, fam.appends)
    if not os.path.isdir(ap):
        return base
    return base.unionByName(_project(spark.read.parquet(ap), fam, fam.served))


_RETRAIN_READY = "_retrain_ready"


def _retrain_swap(
    spark: SparkSession,
    fam: _IndexFamily,
    index_dir: str,
    write_snapshot,
    force: bool,
    shape_fn=None,
) -> bool:
    """The whole-dir snapshot-swap retrain engine shared by
    ivf_retrain, ivfpq_retrain, and ann_lsh_retrain — one crash
    discipline, three families (each can leave the same
    .retraining./.old. sibling states, healed by the same preamble).
    ``write_snapshot(tmp, fold_bids, epoch)`` materializes
    the family's full artifact set under ``tmp``; the engine owns
    everything else, in order:

    1. recovery preamble: roll FORWARD a ready-but-dead swap when the
       index dir is missing, else roll BACK to the newest backup;
       refuse the impostor state (ready snapshot + matching backup +
       live dir = a default-path rebuild raced a mid-swap crash) and
       crashed-COMPACT fold leftovers (the compact owns them); sweep
       stale retraining/backup siblings;
    2. pin the fold to the bid set listed NOW, bump the epoch, and
       no-op (False) when there is nothing to fold and not ``force``;
    3. write the snapshot fully beside the index, stamp the epoch +
       shape marker, re-list the appends and refuse if a bid landed
       after the fold (ready only ever stamps a snapshot that passed),
       then ready-stamp LAST (fsync'd);
    4. two renames publish it; sweep backups on success.

    See ivf_retrain's docstring for the rationale of each step — the
    engine is its imperative part verbatim, parametrized on the
    family spec and the family's artifact writer. ``shape_fn``
    (optional, called AFTER write_snapshot so it can reflect choices
    the writer made, e.g. an adaptive hash width) overrides the
    marker's shape; default is the kind's constants."""
    parent = os.path.dirname(os.path.abspath(index_dir))
    name = os.path.basename(os.path.abspath(index_dir))

    # 1. recovery preamble
    ready = [
        d
        for d in _entries(parent, f"{name}.retraining.")
        if os.path.isfile(os.path.join(parent, d, _RETRAIN_READY))
    ]
    if not os.path.isdir(index_dir):
        if ready:  # newest tag: lexicographic max IS numeric max
            os.rename(os.path.join(parent, ready[-1]), index_dir)
            # published now: the live dir must never look like a
            # roll-forward candidate (same as the normal publish path)
            with contextlib.suppress(OSError):
                os.remove(os.path.join(index_dir, _RETRAIN_READY))
        else:
            backups = _entries(parent, f"{name}.old.")
            if not backups:
                raise FileNotFoundError(f"no index at {index_dir}")
            os.rename(os.path.join(parent, backups[-1]), index_dir)
    else:
        # A ready snapshot whose swap STARTED (a matching .old.<tag>
        # backup exists — only rename1 creates those) while the index
        # dir EXISTS means the live dir appeared AFTER a mid-swap
        # crash: e.g. a default-path build saw the missing dir and
        # silently rebuilt a base-only index there. Sweeping now would
        # permanently discard the appended rows the snapshot folded —
        # preserve both and make the operator choose.
        for d in ready:
            tag = d.rsplit(".", 1)[-1]
            if os.path.isdir(os.path.join(parent, f"{name}.old.{tag}")):
                raise CompactionFenceError(
                    f"index {index_dir} exists but a mid-swap crash "
                    f"left ready snapshot {d} and backup "
                    f"{name}.old.{tag} beside it — the live dir was "
                    "recreated after the crash (a default-path build "
                    "rebuilds on missing) and does NOT contain the "
                    "snapshot's appended rows. Both are preserved; "
                    "resolve manually (publish the snapshot or remove "
                    "it explicitly) before retraining."
                )
    _sweep(parent, f"{name}.retraining.")
    _sweep(parent, f"{name}.old.")

    # A crashed COMPACT's fold leftovers hold committed appended rows
    # renamed aside; the served union reads only base ∪ appends, so
    # retraining over them would fold a snapshot that silently omits
    # those rows and then sweep them with the old dir. Refuse: the
    # compact owns that recovery.
    folding = _entries(index_dir, f"{fam.appends}.folding.")
    if folding:
        raise CompactionFenceError(
            f"index {index_dir} carries crashed-compact fold leftovers "
            f"({folding}); run {fam.ops}_compact to heal them before "
            "retraining — a retrain from this state would silently "
            "drop the renamed-aside appended rows."
        )

    ap = os.path.join(index_dir, fam.appends)
    fold_bids = _bids(ap)
    if not fold_bids and not force:
        return False

    # 2. fence FIRST: a fenced append whose stream was opened before
    # this bump refuses (entry check or post-write withdrawal) instead
    # of landing rows the swap would silently discard
    epoch = _bump_epoch(index_dir)

    # 3. full snapshot beside the index, ready-stamped last. The tag
    # scans the PARENT (where .old./.retraining. siblings live), so
    # monotonicity-vs-existing-tags holds for the dirs this publish
    # actually races with
    tag = _next_tag(parent)
    tmp = os.path.join(parent, f"{name}.retraining.{tag}")
    write_snapshot(tmp, fold_bids, epoch)
    _write_synced(os.path.join(tmp, _EPOCH_FILE), str(epoch))
    # folded high-water mark: the cadence-baseline recorder's replay
    # fence (see _folded_hwm). Carried forward across force-retrains
    # with nothing to fold; absent only on a never-retrained index.
    hwm = max([_folded_hwm(index_dir), *fold_bids])
    if hwm >= 0:
        _write_synced(os.path.join(tmp, _FOLDED_HWM), str(hwm))
    shape = list(shape_fn() if shape_fn is not None else _index_shape(fam.kind))
    _write_synced(os.path.join(tmp, _INDEX_MARKER), json.dumps({"shape": shape}))

    # Bid-set check BEFORE the ready stamp, in BOTH directions. A bid
    # ADDED since the fold listing (a fenced stream (re)opened AFTER
    # the epoch bump snapshots the bumped epoch and passes the fence)
    # would be silently discarded by the swap. A pinned bid REMOVED
    # since (a fenced append's _post_write_fence withdrawing its own
    # landed bid when it observes the bumped epoch) is worse: the
    # engine's two lazy jobs may have straddled the removal — centroids
    # trained on rows the published lists no longer contain. Either
    # way: refuse loudly, and only ready-stamp a
    # snapshot whose fold set still equals the live set, so no
    # roll-forward candidate ever embeds a stale fold. Residual
    # check-then-act window: a change landing between this re-list and
    # rename1 below still needs the drain/single-writer contract.
    now_bids = set(_bids(ap))
    late = sorted(now_bids - set(fold_bids))
    gone = sorted(set(fold_bids) - now_bids)
    if late or gone:
        shutil.rmtree(tmp, ignore_errors=True)
        raise CompactionFenceError(
            f"index {index_dir} bid set changed after the retrain's "
            f"fold read (added: {late}, withdrawn: {gone}) — a stream "
            "opened after the epoch bump passes the fence, and a "
            "fenced append withdraws its bid on observing the bump. "
            "Publishing this snapshot would silently discard added "
            "rows or serve stats trained on withdrawn ones. Drain "
            f"writers and re-run {fam.ops}_retrain."
        )

    _write_synced(os.path.join(tmp, _RETRAIN_READY), tag)

    # 4. the two-rename publish
    os.rename(index_dir, os.path.join(parent, f"{name}.old.{tag}"))
    os.rename(tmp, index_dir)
    # the published snapshot is no longer "retraining": drop the ready
    # marker so a later crash's preamble can never mistake the LIVE dir
    # for a roll-forward candidate
    with contextlib.suppress(OSError):
        os.remove(os.path.join(index_dir, _RETRAIN_READY))

    # 5. sweep
    _sweep(parent, f"{name}.old.")
    return True


def _pinned_served(
    spark: SparkSession,
    fam: _IndexFamily,
    index_dir: str,
    fold_bids: list[int],
    cols: list,
    where=None,
) -> DataFrame:
    """``cols`` of base ∪ the appended bids a retrain's fold pinned
    (``where`` filters both sides). Pinning by partition value (bid
    isin -> partition pruning) keeps the snapshot writer's separate
    lazy jobs on one corpus WITHOUT materializing it the way a
    localCheckpoint would — the 100-TB-safe choice; bid partitions are
    immutable once committed (replays rewrite bit-identical content),
    so a pinned read is a consistent snapshot."""
    base = spark.read.parquet(os.path.join(index_dir, fam.data))
    if where is not None:
        base = base.filter(where)
    base = base.select(*cols)
    if not fold_bids:
        return base
    pin = F.col("bid").isin([int(b) for b in fold_bids])
    if where is not None:
        pin = pin & where
    pinned = spark.read.parquet(os.path.join(index_dir, fam.appends)).filter(pin)
    return base.unionByName(pinned.select(*cols))


def _retrain_corpus_check(
    corpus: DataFrame, served_ids: DataFrame, op_name: str, index_dir: str
) -> int:
    """One-job corpus integrity check for the corpus-taking retrains
    (ivfpq_retrain, ann_lsh_retrain), in two layers sharing a single
    aggregate (the multiplicity layer mirrors ivf_retrain's fold
    guard at the one place a caller-supplied multiset can slip past an
    id-set comparison):

    * id-set equality — full-outer join of the distinct corpus ids
      against the distinct served ids, counting corpus ids the index
      never indexed and indexed ids the corpus lacks (served_ids is
      distinct'd because replay-after-fold residue legitimately
      duplicates ids; the CORPUS side is pre-aggregated by vec_id, so
      the same join carries its multiplicity stats for free);
    * multiplicity — per corpus vec_id, the raw row count and the
      distinct embedding count. Duplicate rows (raw > distinct pairs)
      would double-weight ivfpq_fit's refit and double-count
      band_signatures' collision-pair stats; a vec_id carrying TWO
      different embeddings is an outright contradiction no retrain
      can arbitrate; a NULL embedding is reported as its own refusal
      (not mislabeled a duplicate). ivf_retrain dedups
      its own served union because replay residue is a DOCUMENTED
      lifecycle state there; a caller-supplied corpus has no replay
      mechanism, so any multiplicity is caller error and refuses
      loudly rather than being silently healed.

    Scale shape: the multiplicity side distincts xxhash64(embedding),
    NOT the raw 64-float array — ~8 bytes/row through the exchange
    instead of the full vector. The hash is
    engine-internal guard state, never an oracle surface; a 64-bit
    collision can only MISS a conflict (never invent one), at ~n^2/2^64
    odds a deliberately-poisoned corpus needs before it matters.

    Returns the distinct corpus size; raises on any difference — a
    wrong corpus is the deadly input (silently dropping, inventing,
    or double-weighting vectors)."""
    per_id = corpus.groupBy("vec_id").agg(
        F.count("*").alias("c_rows"),
        F.count(F.when(F.col("embedding").isNull(), 1)).alias("c_nulls"),
        F.count_distinct(
            F.when(
                F.col("embedding").isNotNull(), F.xxhash64(F.col("embedding"))
            )
        ).alias("c_embs"),
    )
    m = (
        per_id.join(
            served_ids.distinct().withColumn("s", F.lit(1)),
            "vec_id",
            "full_outer",
        )
        .agg(
            F.count(F.col("c_rows")).alias("n_corpus"),
            F.count(F.when(F.col("s").isNull(), 1)).alias("n_extra"),
            F.count(F.when(F.col("c_rows").isNull(), 1)).alias("n_missing"),
            F.coalesce(F.sum("c_nulls"), F.lit(0)).alias("n_null_rows"),
            F.coalesce(
                F.sum(F.col("c_rows") - F.col("c_nulls") - F.col("c_embs")),
                F.lit(0),
            ).alias("n_dup_rows"),
            F.count(F.when(F.col("c_embs") > 1, 1)).alias("n_conflict_ids"),
        )
        .first()
    )
    if m["n_null_rows"]:
        raise ValueError(
            f"{op_name} corpus carries {m['n_null_rows']} NULL-embedding "
            f"row(s) — the index at {index_dir} serves real vectors only "
            "(likely a bad upstream join). Repair the corpus read; "
            "deduplication cannot fix this."
        )
    if m["n_conflict_ids"]:
        raise ValueError(
            f"{op_name} corpus carries {m['n_conflict_ids']} vec_id(s) "
            f"with more than one distinct embedding — a contradiction "
            "the retrain cannot arbitrate (which vector is the one the "
            f"index at {index_dir} serves?). Deduplicate the corpus to "
            "one (vec_id, embedding) row per id and re-run."
        )
    if m["n_dup_rows"]:
        raise ValueError(
            f"{op_name} corpus carries {m['n_dup_rows']} duplicate "
            f"row(s) — training on the raw multiset would double-weight "
            "those vectors, so the published artifacts would no longer "
            f"equal a fresh build on the corpus of {index_dir}. The "
            "corpus argument must carry each served (vec_id, embedding) "
            "row exactly once."
        )
    if m["n_extra"] or m["n_missing"]:
        raise ValueError(
            f"{op_name} corpus does not match the served index at "
            f"{index_dir}: {m['n_extra']} corpus ids the index never "
            f"indexed, {m['n_missing']} indexed ids the corpus lacks. "
            "The corpus argument must be exactly the (vec_id, "
            "embedding) rows the index serves — retraining on "
            "anything else would silently drop or invent vectors."
        )
    return int(m["n_corpus"])


def ivf_retrain(
    spark: SparkSession, index_dir: str, force: bool = False
) -> bool:
    """Retrain the maintained IVF index from its own SERVED state —
    the action a positive drift report (ivf_append /
    sim_ivf_incremental) calls for, completing the lifecycle loop
    build → append → drift → RETRAIN. Centroids are refit with the
    build's deterministic kernel (portable_centroids) on
    lists ∪ appends — the raw corpus is never re-read — every vector
    is re-assigned, the per-cid ``stats`` yardstick is recomputed
    against the NEW centroids (subsequent drift reports diff against
    the refreshed space), and the appends are consumed by the fold.
    The result is byte-equivalent to ivf_build on the DISTINCT union
    corpus (the kernel depends only on the vector set; replay-after-
    fold residue — bit-identical duplicate rows, the documented
    quiesce-contract window — is deduped before training, compact's
    healing discipline, so residue can never double-weight the refit)
    — asserted by the machinery test, and cross-engine by
    sim_ivf_retrain's oracle.

    Publish discipline — a WHOLE-DIR snapshot swap, unlike compact's
    single-subdir ladder, because retrain replaces centroids + lists +
    stats together and a partial swap would serve NEW centroids
    against OLD cids:

    1. recovery preamble: a missing index dir with a READY retraining
       snapshot next to it rolls FORWARD (completes the dead swap,
       stripping the ready marker); without one it rolls BACK to the
       newest backup (the _compact_index restore rule). A
       ready-but-unpublished snapshot found while the index EXISTS is
       swept as garbage ONLY when its swap never started (no matching
       .old backup) — appends may have landed since its fold, and
       publishing late would silently discard them; if the matching
       backup exists, the live dir was recreated AFTER a mid-swap
       crash (a default-path build rebuilds on missing) and the
       preamble refuses loudly, preserving both. Crashed-COMPACT fold
       leftovers (appends.folding.*) also refuse: they hold committed
       rows the served union would silently omit — ivf_compact owns
       that recovery;
    2. the epoch is bumped BEFORE the served state is read, so a
       fenced append whose stream was opened BEFORE the bump refuses
       (entry check or post-write withdrawal) instead of landing rows
       the swap would silently discard. The fold itself is PINNED to
       the bid set listed at fold time (partition-pruned ``bid isin``),
       so the centroid train and the lists write — two separate lazy
       jobs — always see the same corpus, and ANY bid-set change is
       caught by a re-list immediately before the ready stamp
       (CompactionFenceError): a bid ADDED by a stream (re)opened
       AFTER the bump (which snapshots the bumped epoch and passes the
       fence), or a pinned bid WITHDRAWN by a fenced append's
       post-write fence on observing the bump. Residual window: a
       change landing between that re-list and rename1 — plus any
       UNfenced writer — stays under the drain/single-writer quiesce
       contract, as for compact;
    3. the new snapshot is written FULLY beside the index
       (<index>.retraining.<tag>: centroids, cid-partitioned lists,
       stats, the bumped epoch marker, the shape marker) and stamped
       ready LAST (fsync'd _retrain_ready);
    4. two renames publish it: index → <index>.old.<tag>, then
       retraining → index. A crash between them leaves the dir
       missing and every reader failing loudly until the preamble
       rolls forward — the same bounded mid-swap window the compact
       ladder documents;
    5. sweep backups and stale retraining dirs (re-sweepable).

    Returns False when there is nothing to do (no live appends):
    retraining an index whose lists still equal its training corpus
    would reproduce the identical snapshot. NOTE the one state that
    check cannot see: a COMPACT folds appends into the lists without
    refitting the centroids, so a compacted index can carry stale
    centroids with no live appends to witness it — pass ``force=True``
    there (the drift yardstick is also the build-time one until a
    retrain refreshes it, so the operational ordering is drift alarm →
    retrain, with compact reserved for bounding serve width when a
    refit is NOT wanted). Single maintenance writer, like compact.
    Stream twins
    must be drained before a retrain and restarted AFRESH after one —
    their default checkpoint lived inside the swapped-away dir, and
    their source offsets describe batches the retrain already folded
    (re-delivered rows re-append bit-identically: same vec_ids, cids
    assigned against the published centroids, healed by key dedup at
    the next compact). Operations runbook: MAINTENANCE.md."""
    def write_snapshot(tmp: str, fold_bids: list[int], epoch: int) -> None:
        # The fold is PINNED to the engine's bid listing: both Spark
        # jobs below (the centroid train and the lists write) lazily
        # re-read the served union, and without the pin a bid landing
        # between them would train centroids on a different corpus
        # than the published lists — breaking the byte-equivalence
        # contract.
        served = _pinned_served(
            spark, IVF, index_dir, fold_bids, ["vec_id", "embedding"]
        )
        # Compact's healing discipline carried into the fold: a
        # replayed already-folded bid leaves bit-identical residue
        # rows beside their folded copies (the documented
        # quiesce-contract window) — training on the raw MULTISET
        # would double-weight those vectors and the retrain would no
        # longer equal a build on the (distinct) union corpus. Exact
        # duplicates dedup away; a CONFLICTING duplicate (same vec_id,
        # different embedding — an append-only contract violation)
        # refuses loudly, exactly as _compact_index asserts.
        served = served.dropDuplicates(["vec_id", "embedding"])
        conflicts = (
            served.groupBy("vec_id")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if conflicts:
            raise CompactionFenceError(
                f"index {index_dir} serves conflicting rows for at "
                "least one vec_id (same id, different embedding) — an "
                "append-only contract violation retrain cannot "
                "arbitrate. Heal the index (ivf_compact asserts the "
                "same invariant) before retraining."
            )
        cents2 = portable_centroids(served).transform(local_checkpoint)
        _ivf_write_artifacts(
            spark, tmp, cents2, ivf_assign(served, cents2, round_digits=6)
        )

    return _retrain_swap(spark, IVF, index_dir, write_snapshot, force)


ANN_BANDS = 32
ANN_ROWS = 4


def _ann_lsh_oracle() -> str:
    planes_q = np.floor(
        _planes(ANN_BANDS * ANN_ROWS) * 1_000_000
    ).astype(np.int64)
    plane_lists = ", ".join(
        "[" + ", ".join(str(int(v)) for v in row) + "]" for row in planes_q
    )
    n_planes = ANN_BANDS * ANN_ROWS
    return f"""
WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
xq AS (SELECT vec_id,
              list_transform(v, e -> CAST(FLOOR(e * 1000000) AS BIGINT)) AS vq
       FROM x),
pl AS (SELECT UNNEST(range(0, {n_planes})) AS p,
              UNNEST([{plane_lists}]) AS pv),
sigs AS (
  SELECT xq.vec_id, pl.p // {ANN_ROWS} AS band,
         string_agg(CASE WHEN list_sum(list_transform(range(1, {DIM + 1}),
                      j -> xq.vq[j] * pl.pv[j])) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY pl.p) AS sig
  FROM xq CROSS JOIN pl
  GROUP BY xq.vec_id, pl.p // {ANN_ROWS}
),
q AS (SELECT vec_id AS query_id, band, sig FROM sigs
      WHERE vec_id < {N_QUERIES}),
cand AS (SELECT DISTINCT q.query_id, s.vec_id AS cand_id
         FROM q JOIN sigs s ON s.band = q.band AND s.sig = q.sig
                            AND s.vec_id <> q.query_id),
exact AS (SELECT c.query_id, c.cand_id,
                 ROUND(list_dot_product(qx.v, cx.v) /
                       (sqrt(list_dot_product(qx.v, qx.v))
                        * sqrt(list_dot_product(cx.v, cx.v))), 6) AS cos_sim
          FROM cand c JOIN x qx ON qx.vec_id = c.query_id
          JOIN x cx ON cx.vec_id = c.cand_id)
SELECT * FROM (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rank
  FROM exact
) WHERE rank <= {TOP_K}
"""


@query("sim_ann_lsh", _ann_lsh_oracle())
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-band hyperplane LSH (OR-construction over
    {ANN_BANDS} bands of {ANN_ROWS} planes): candidates are the union
    of same-bucket vectors across bands, scored exactly, ranked per
    query. Measured recall@10 vs sim_topk_bruteforce at sf0.01 is 1.0
    (tests/test_similarity.py asserts >= 0.9).

    Exact DuckDB oracle: the
    sign projections run in integer micro-units (band_signatures
    quantize=True) so bucket membership is engine-exact — the oracle
    inlines the quantized plane matrix as literals and replays the
    identical int64 arithmetic, then the candidate union, exact round-6
    scoring, and ranking all reproduce bit for bit. The driver check
    therefore covers the whole LSH pipeline, including which buckets
    collide — the strongest possible evidence for a probabilistic ANN
    structure."""
    emb = band_signatures(
        load_table(spark, sf_dir, "embeddings"), ANN_BANDS, ANN_ROWS, quantize=True
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "band",
        "sig",
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"), "band", "sig"
    )
    cand = (
        F.broadcast(q)
        .join(c, ["band", "sig"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", "q_emb", "c_emb")
        .dropDuplicates(["query_id", "cand_id"])
    )
    scored = cand.select(
        "query_id",
        "cand_id",
        # A/B: the banded candidate volume (~20k pairs at sf0.1) is
        # under the Arrow kernel's break-even (in-JVM interleaved mins on
        # the serve twin: 1.139 vs 0.998 s) — HOF kept
        F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cos_sim"),
    )
    return per_query_topk(scored)


def _band_pair_stats(sigs: DataFrame) -> DataFrame:
    """Per-band (n, pair_sum) of a signature table: row count plus the
    bucket-collision pair count Σ_sig C(cnt, 2) — the number of
    candidate pairs a band's bucket self-join generates, i.e. the exact
    cost driver that saturates a fixed-width LSH at scale (the
    mm_phash_neardup lesson, measured 327 s at its 100x probe before
    the adaptive width). Two map-side-combinable aggregations: shuffle
    on (band, sig) then band — never O(n^2). cnt*(cnt-1) is even, so
    the integer halving is exact."""
    per_bucket = sigs.groupBy(F.col("band").cast("bigint").alias("band"), "sig").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    # integer `div`, never `/`: Spark's `/` on bigints returns DOUBLE,
    # whose sum silently loses low-order integer bits past 2^53 while
    # the DuckDB oracle's `// 2` stays exact; the halving
    # itself is exact because cnt*(cnt-1) is even
    return per_bucket.groupBy("band").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.expr("cnt * (cnt - 1) div 2")).cast("bigint").alias("pair_sum"),
    )


def ann_lsh_build(spark: SparkSession, sf_dir: str, index_dir: str | None = None) -> str:
    """BUILD phase of the LSH-ANN serving split: hash every corpus
    vector once (quantized hyperplane projections -> band signatures)
    and persist the NARROW (vec_id, band, sig) table; atomic rename.
    The planes are a deterministic fixed-seed function, so query-time
    signatures need no stored state — the index is just the corpus-side
    hashes, bands x ~10 bytes per vector, rebuilt only per ingest
    batch instead of per query call.

    v2 layout (incremental maintenance): sigs are PARTITIONED BY band —
    the layout ann_lsh_compact folds appends into — and a per-band
    ``stats`` parquet (ANN_BANDS rows: n + bucket-collision pair_sum)
    freezes the training corpus's collision density as the yardstick
    ann_lsh_append diffs every arriving snapshot against. Stats are
    computed from the READ-BACK landed sigs (ivf_build's durable-truth
    discipline; re-executing the sigs frame would re-run the corpus
    projection a second time)."""
    out = index_dir or _index_dir(sf_dir, "annlsh")
    if index_ready(out, "annlsh"):
        return out
    sigs = band_signatures(
        load_table(spark, sf_dir, "embeddings"), ANN_BANDS, ANN_ROWS, quantize=True
    ).select(*ANNLSH.stored)

    return _publish_index(
        out, "annlsh", lambda tmp: _lsh_write_artifacts(spark, tmp, sigs)
    )


def _lsh_write_artifacts(spark: SparkSession, tmp: str, sigs: DataFrame) -> None:
    """Materialize an LSH index's band-partitioned sigs and their
    per-band stats (from the landed read-back) under ``tmp`` — shared
    by ann_lsh_build and ann_lsh_retrain."""
    sigs.write.mode("overwrite").partitionBy(ANNLSH.part).parquet(
        os.path.join(tmp, ANNLSH.data)
    )
    landed = spark.read.parquet(os.path.join(tmp, ANNLSH.data))
    _band_pair_stats(landed).write.mode("overwrite").parquet(
        os.path.join(tmp, "stats")
    )


@query("sim_ann_lsh_query", _ann_lsh_oracle())
def sim_ann_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY phase of the LSH-ANN serving split: top-k from the
    PREBUILT signature table (ann_lsh_build; builds on first call,
    reuses thereafter) — no corpus re-hash per call. Unlike
    sim_ann_lsh, which carries both embedding arrays through the
    band join, serving joins the NARROW signature table with itself
    (ids + ~10-byte sigs move through the bucket join), dedupes the
    candidate ids, and only then fetches vectors — queries' by
    broadcast, candidates' by one equi-join on vec_id — so full
    vectors are touched exactly once per surviving candidate. Same
    exact oracle as sim_ann_lsh: the deterministic build means one SQL
    proves both the from-scratch and the served pipeline."""
    idx = ann_lsh_build(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = spark.read.parquet(os.path.join(idx, "sigs"))
    return _ann_lsh_serve(emb, sigs)


def _ann_lsh_serve(emb: DataFrame, sigs: DataFrame) -> DataFrame:
    """The LSH serve join shared by sim_ann_lsh_query and the
    maintained-index path (ann_lsh_sigs_with_appends): bucket-join the
    narrow sig table with itself, dedupe candidate ids, then fetch
    vectors — queries' by broadcast, candidates' by one equi-join.
    ``emb`` is the vector store (separate from the sig index: appended
    vectors' embeddings must be present here for exact scoring — the
    index holds only their hashes)."""
    qs = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "sig"
    )
    cand = (
        F.broadcast(qs)
        .join(
            sigs.select(F.col("vec_id").alias("cand_id"), "band", "sig"),
            ["band", "sig"],
        )
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .dropDuplicates(["query_id", "cand_id"])
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(
            emb.select(
                F.col("vec_id").alias("cand_id"),
                F.col("embedding").alias("c_emb"),
            ),
            "cand_id",
        )
        .select(
            "query_id",
            "cand_id",
            # A/B (in-JVM interleaved): cosine_arrow 1.139 vs 0.998 s
            # min — candidate volume under the Arrow break-even; HOF kept
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cos_sim"),
        )
    )
    return per_query_topk(scored)


# --- incremental LSH index maintenance ---------------------------------------


def _lsh_incremental_oracle() -> str:
    planes_q = np.floor(
        _planes(ANN_BANDS * ANN_ROWS) * 1_000_000
    ).astype(np.int64)
    plane_lists = ", ".join(
        "[" + ", ".join(str(int(v)) for v in row) + "]" for row in planes_q
    )
    n_planes = ANN_BANDS * ANN_ROWS
    return f"""
WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
xq AS (SELECT vec_id, vec_id % 2 AS half,
              list_transform(v, e -> CAST(FLOOR(e * 1000000) AS BIGINT)) AS vq
       FROM x),
pl AS (SELECT UNNEST(range(0, {n_planes})) AS p,
              UNNEST([{plane_lists}]) AS pv),
sigs AS (
  SELECT xq.vec_id, xq.half, pl.p // {ANN_ROWS} AS band,
         string_agg(CASE WHEN list_sum(list_transform(range(1, {DIM + 1}),
                      j -> xq.vq[j] * pl.pv[j])) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY pl.p) AS sig
  FROM xq CROSS JOIN pl
  GROUP BY xq.vec_id, xq.half, pl.p // {ANN_ROWS}
),
buckets AS (SELECT half, band, sig, COUNT(*) AS cnt
            FROM sigs GROUP BY half, band, sig),
stats AS (SELECT half, band, CAST(SUM(cnt) AS BIGINT) AS n,
                 CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT) AS pair_sum
          FROM buckets GROUP BY half, band),
base AS (SELECT band, n AS n_base, pair_sum AS base_pair_sum
         FROM stats WHERE half = 0),
newb AS (SELECT band, n AS n_new, pair_sum AS new_pair_sum
         FROM stats WHERE half = 1),
joined AS ({_diff_sql("band", "pair_sum")})
-- split-division density in exact integer micro-units (overflow-free:
-- every intermediate < 2^63; DuckDB's // truncates toward zero just
-- like Spark's div — measured: DuckDB does NOT floor — and the
-- operands here are non-negative anyway), 0 when either side empty
SELECT band, n_base, n_new, base_pair_sum, new_pair_sum,
       CAST(CASE WHEN n_base = 0 OR n_new = 0 THEN 0
            ELSE {_dens_sql("new_pair_sum", "n_new")}
               - {_dens_sql("base_pair_sum", "n_base")}
            END AS BIGINT) AS drift_num
FROM joined
"""


def _density_mu(pair_sum: str, n: str):
    """floor(pair_sum * 1e6 / n) in exact BIGINT split division — the
    load-bearing overflow-free arithmetic _lsh_drift_report's docstring
    derives (quotient term bounds the mean bucket load, remainder term
    bounds n; every intermediate < 2^63 across the documented
    envelope). ONE definition shared by the drift report and the
    cadence trigger that consumes it (a second inline copy
    could silently diverge on a future envelope/rounding fix)."""
    return F.when(F.col(n) == 0, F.lit(0)).otherwise(
        F.expr(f"({pair_sum} div {n}) * 1000000"
               f" + (({pair_sum} % {n}) * 1000000) div {n}")
    )


def _dens_sql(pair_sum: str, n: str) -> str:
    """_density_mu's DuckDB twin: the split-division density as a SQL
    fragment (no zero-guard — callers wrap their own CASE, whose empty-
    side convention differs between the drift and cadence oracles).
    ONE definition for both oracles, exactly as _density_mu is the one
    definition for both Spark consumers."""
    return (
        f"(({pair_sum} // {n}) * 1000000"
        f" + (({pair_sum} % {n}) * 1000000) // {n})"
    )


def _lsh_drift_report(base_stats: DataFrame, new_stats: DataFrame) -> DataFrame:
    """Full-outer per-band diff of two (band, n, pair_sum) stats
    frames. Unlike _drift_report's cross-multiplied numerator — exact
    only while |new_sum * n_base| < 2^63, fine for the linear IVF/IVFPQ
    sums but CUBIC here because pair_sum grows ~quadratically in the
    per-band row count (overflow at ~7e6 standing vectors)
    — the LSH drift compares collision DENSITIES in exact integer
    micro-units computed by SPLIT DIVISION:

        density_mu = (pair_sum div n) * 1e6 + ((pair_sum mod n) * 1e6) div n

    which equals floor(pair_sum * 1e6 / n) exactly with every
    intermediate < 2^63 across the envelope n < ~9.2e12 per band AND
    mean bucket load pair_sum/n < ~9.2e12 (the quotient term bounds
    the load, the remainder term — (pair_sum mod n) < n — bounds n;
    both sit >20x beyond a 100 TB embedding corpus, and an index at
    either bound saturated its serve join orders of magnitude
    earlier). Beyond the envelope the bigint OUTPUT cannot represent
    the density at all, so the correct behavior is ANSI-loud overflow,
    not a silently-wrapped sign — pinned by the overflow-magnitudes
    property test.  All operands are non-negative — where truncation
    and flooring coincide; both engines in fact truncate toward zero
    (measured: DuckDB's // does NOT floor), so the negative-sum
    hazard _drift_report sidesteps by cross-multiplying would not
    diverge the ENGINES even if it arose, only the flooring Python
    replay helpers.  drift_num =
    new_density_mu - base_density_mu (resolution: one micro-pair per
    row; POSITIVE = the new batch collides denser than the training
    corpus), and 0 when either side is empty, matching _drift_report's
    empty-side convention."""
    b = base_stats.select(
        "band",
        F.col("n").alias("n_base"),
        F.col("pair_sum").alias("base_pair_sum"),
    )
    s = new_stats.select(
        "band",
        F.col("n").alias("n_new"),
        F.col("pair_sum").alias("new_pair_sum"),
    )
    j = b.join(s, "band", "full_outer")
    n_base = F.coalesce("n_base", F.lit(0)).cast("bigint")
    n_new = F.coalesce("n_new", F.lit(0)).cast("bigint")
    base_sum = F.coalesce("base_pair_sum", F.lit(0)).cast("bigint")
    new_sum = F.coalesce("new_pair_sum", F.lit(0)).cast("bigint")
    j = j.select(
        F.col("band").cast("bigint").alias("band"),
        n_base.alias("n_base"),
        n_new.alias("n_new"),
        base_sum.alias("base_pair_sum"),
        new_sum.alias("new_pair_sum"),
    )
    drift = F.when(
        (F.col("n_base") == 0) | (F.col("n_new") == 0), F.lit(0)
    ).otherwise(
        _density_mu("new_pair_sum", "n_new")
        - _density_mu("base_pair_sum", "n_base")
    )
    return j.withColumn("drift_num", drift.cast("bigint"))


# --- retrain cadence: calibrated drift thresholds ----------------------------
#
# The drift reports emit exact micro-unit numbers; these helpers turn
# them into the calibrated yes/no the on-call runbook needs
# (MAINTENANCE.md, "Retrain cadence"). They are MONITORING aggregates —
# one job over a K-cardinality report frame, plain floats, never an
# oracle surface — so the exact-integer discipline of the reports
# themselves does not apply here.

# Never alarm on relative drift below 1%: micro-unit sums resolve 1e-6,
# so 1% is far above quantization, and a degenerate training space
# (every cell mean identical -> spread 0) must not turn the trigger
# into a hair-trigger.
DRIFT_REL_FLOOR = 0.01


def _centroid_retrain_due(
    report: DataFrame,
    fam: _IndexFamily,
    baseline: DataFrame | None = None,
    index_dir: str | None = None,
    baseline_rel: float | None = None,
) -> dict:
    """Shared cadence aggregate for the two centroid families, read from
    the report's base_<y> / new_<y> columns of ``fam.yardstick``. The
    calibration question is "how much relative drift is DIFFERENT, not
    noise?", and the build-time yardstick answers it about itself: the
    n-weighted cross-cid spread (coefficient of variation) of the
    per-cid training means is how much typical cells of the SAME
    corpus differ from each other. A batch whose mean drifts by less
    than that is statistically indistinguishable from re-sampling the
    training data; one that drifts past it looks more foreign than the
    training corpus looks to itself — retrain.

    Two corrections make the comparison honest (from the sf0.1
    calibration measurements):

    * MIX adjustment — the batch mean is compared against the
      expectation its own cell composition predicts at training
      quality, sum_c n_new_c * m_base_c, NOT the global training mean.
      The global comparison conflates composition with quality: a
      healthy batch landing in one extreme-but-legitimate cell shows
      |rel| up to the weighted MAX deviation of a cell mean, which
      always >= the weighted RMS (the CV threshold) — a guaranteed
      false alarm. Cells the training stats never saw (n_base = 0 — a
      Lloyd cell can end up with zero training members and still
      attract batch vectors) are excluded from the comparison, because
      they have NO training yardstick to compare against; their batch
      mass is NOT dropped silently: it is
      returned as ``unseen_frac``, and a batch whose MAJORITY lands in
      unseen cells fires the alarm outright — the frozen space
      demonstrably does not cover it, which is drift by definition, no
      calibration needed.
    * BASELINE differencing — the training yardstick is computed on
      the very vectors that trained the frozen state, so it is
      optimistically biased relative to ANY held-out batch: measured
      on the sf0.1 fixtures, a same-distribution holdout scores ~16%
      worse mean cos (IVF) / ~4% worse mean qerr (IVFPQ) with zero
      distribution shift (tests/test_maintenance_cadence.py pins
      both). Passing the FIRST post-build append's report as
      ``baseline`` cancels the gap exactly (both holdout batches
      carry it): the alarm then fires on rel_drift(report) -
      rel_drift(baseline). For a maintained index pass ``index_dir``
      instead: with ``baseline=None`` the index-owned persisted copy
      (<index>/cadence_baseline, recorded by the first post-build
      append) is read, so a restarted monitor reaches the same verdict
      as the process that observed the first append. Without a
      baseline the raw comparison is conservative — it over-fires by
      the optimism gap — which the runbook documents as the
      single-report fallback. (LSH needs no analog: its planes are
      data-independent, so its drift report has no train-vs-holdout
      bias.)

    rel_drift = sum_c(new_sum_c) / sum_c(n_new_c * base_sum_c/n_base_c) - 1
    over the n_base > 0 cells; threshold = max(cv_base,
    DRIFT_REL_FLOOR) where
    cv_base^2 = sum_c n_c (m_c - M)^2 / (N M^2)
              = (sum_c S_c^2/n_c - S^2/N) * N / S^2
    from the per-cid sums S_c the report already carries — no second
    pass over the stats. The yardstick's sign orients the alarm: -1 for
    the IVF cos yardstick (lower = farther from the centroids), +1 for
    the IVFPQ qerr yardstick (higher = quantizes worse)."""
    # baseline_rel: the baseline report's rel_drift, precomputed — the
    # caching hook for hot paths (a per-batch monitor would otherwise
    # re-aggregate the write-once persisted baseline on every batch).
    # Takes precedence over re-deriving from ``baseline``.
    val, sign = fam.yardstick
    if baseline is None and baseline_rel is None and index_dir is not None:
        baseline = load_cadence_baseline(report.sparkSession, index_dir)
    base_rel = 0.0
    if baseline_rel is not None:
        base_rel = float(baseline_rel)
    elif baseline is not None:
        base_rel = _centroid_retrain_due(baseline, fam)["rel_drift"]
    in_base = F.col("n_base") > 0
    m = (
        report.agg(
            F.sum("n_base").alias("nb"),
            F.sum(F.when(in_base, F.col("n_new"))).alias("nn"),
            F.sum(F.when(~in_base, F.col("n_new"))).alias("nn_unseen"),
            F.sum(f"base_{val}").cast("double").alias("sb"),
            F.sum(F.when(in_base, F.col(f"new_{val}")))
            .cast("double")
            .alias("sn"),
            F.sum(
                F.when(
                    in_base,
                    F.col("n_new").cast("double")
                    * F.col(f"base_{val}").cast("double")
                    / F.col("n_base"),
                )
            ).alias("exp_sum"),
            F.sum(
                F.when(
                    in_base,
                    F.col(f"base_{val}").cast("double")
                    * F.col(f"base_{val}").cast("double")
                    / F.col("n_base"),
                )
            ).alias("s2"),
        )
        .first()
    )
    nb, nn = int(m["nb"] or 0), int(m["nn"] or 0)
    nn_unseen = int(m["nn_unseen"] or 0)
    unseen_frac = nn_unseen / (nn + nn_unseen) if nn + nn_unseen else 0.0
    sb, sn = float(m["sb"] or 0.0), float(m["sn"] or 0.0)
    exp_sum = float(m["exp_sum"] or 0.0)
    # exp_sum <= 0 (not just == 0) is degenerate: for the IVF cos
    # yardstick a cell's base cos sum CAN be negative on adversarial
    # data, and rel = sn/exp_sum - 1 with a negative denominator
    # silently flips the alarm direction. The relative comparison is
    # only well-defined against a positive mix expectation; anything
    # else falls through to the unseen-mass-only verdict.
    if nb == 0 or nn == 0 or sb == 0.0 or exp_sum <= 0.0:
        return {
            # no comparable mass at all: due only when the batch is
            # real and the frozen space saw none of it
            "due": nn_unseen > 0,
            "rel_drift": 0.0,
            "baseline_rel_drift": base_rel,
            "rel_vs_baseline": -base_rel,
            "unseen_frac": unseen_frac,
            "threshold": DRIFT_REL_FLOOR,
        }
    rel = sn / exp_sum - 1.0
    var_w = max(float(m["s2"] or 0.0) - sb * sb / nb, 0.0)  # sum n(m_c-M)^2
    cv = (var_w * nb) ** 0.5 / abs(sb)
    thr = max(cv, DRIFT_REL_FLOOR)
    rel_eff = rel - base_rel
    return {
        "due": sign * rel_eff >= thr or unseen_frac >= 0.5,
        "rel_drift": rel,
        "baseline_rel_drift": base_rel,
        "rel_vs_baseline": rel_eff,
        "unseen_frac": unseen_frac,
        "threshold": thr,
    }


def ivf_retrain_due(
    report: DataFrame,
    baseline: DataFrame | None = None,
    index_dir: str | None = None,
    baseline_rel: float | None = None,
) -> dict:
    """Calibrated retrain trigger for the IVF family: feed it an
    ivf_append / sim_ivf_incremental drift report, plus the FIRST
    post-build append's report as ``baseline`` (cancels the
    train-vs-holdout optimism gap — see _centroid_retrain_due; without
    it the trigger is conservative by that gap, ~16% mean cos on the
    sf0.1 fixtures), or the maintained ``index_dir`` whose persisted
    baseline ivf_append recorded. Fires when the batch's mix-adjusted
    mean cosine-to-assigned-centroid falls below the baseline's by more
    than the training space's own cross-cid spread (NEGATIVE drift =
    farther from the frozen centroids). Returns {due, rel_drift,
    baseline_rel_drift, rel_vs_baseline, threshold}; runbook:
    MAINTENANCE.md."""
    return _centroid_retrain_due(report, IVF, baseline, index_dir, baseline_rel)


def ivfpq_retrain_due(
    report: DataFrame,
    baseline: DataFrame | None = None,
    index_dir: str | None = None,
    baseline_rel: float | None = None,
) -> dict:
    """Calibrated retrain trigger for the IVFPQ family: feed it an
    ivfpq_append / sim_ivfpq_incremental drift report, plus the FIRST
    post-build append's report as ``baseline`` (cancels the
    train-vs-holdout optimism gap, ~4% mean qerr on the sf0.1
    fixtures; see _centroid_retrain_due), or the maintained
    ``index_dir`` whose persisted baseline ivfpq_append recorded.
    Fires when the batch's mix-adjusted mean quantization error
    exceeds the baseline's by more than the training space's own
    cross-cid spread (POSITIVE drift = the frozen codebooks fit the new
    vectors worse). Returns {due, rel_drift, baseline_rel_drift,
    rel_vs_baseline, threshold}; runbook: MAINTENANCE.md."""
    return _centroid_retrain_due(report, IVFPQ, baseline, index_dir, baseline_rel)


def lsh_retrain_due(report: DataFrame, ratio: float = 2.0) -> dict:
    """Calibrated re-hash trigger for the LSH family: feed it an
    ann_lsh_append / sim_lsh_incremental drift report. The serve-time
    candidate-join cost is proportional to bucket-collision density,
    so the defensible default is a COST ratio: fire when any band's
    batch density reaches ``ratio`` x its training density (default 2x
    — the candidate join costs double what the index was sized for,
    and lsh_rows_for's widened re-hash restores O(1) loads). When a
    band's training density is ZERO (too small a corpus to collide),
    the ratio is undefined; that band fires at an absolute mean load
    of one colliding pair per row (density_mu >= 1e6), the point where
    O(1)-expected bucket loads are broken outright. The density
    comparison reuses the report's exact split-division micro-units.
    Returns {due, max_ratio, threshold_ratio}. NOTE the second,
    drift-independent trigger the runbook documents: corpus GROWTH
    (lsh_rows_for(n_now) exceeding the published marker width) warrants
    a re-hash even at flat density. Runbook: MAINTENANCE.md."""
    dens_base = _density_mu("base_pair_sum", "n_base")
    dens_new = _density_mu("new_pair_sum", "n_new")
    sel = report.filter(F.col("n_new") > 0).select(
        dens_base.alias("db"), dens_new.alias("dn")
    )
    # The verdict itself stays EXACT-integer for integer ratios (the
    # default 2x matches sim_lsh_cadence.due_ratio2 term for term):
    # densities are BIGINT micro-units inside the documented < 2^63
    # envelope, and a double-cast dn/db >= ratio could round-diverge
    # from the oracle-checked column above 2^53. The
    # integer form is (dn div db) >= r, NOT dn >= r*db: for db > 0 and
    # non-negative BIGINTs the two are equivalent (floor monotonicity),
    # but the product can overflow 2^63 for db >= 2^63/r — INSIDE the
    # density envelope — where the division form never leaves it (the
    # DuckDB oracle keeps the product spelling because its
    # BIGINT arithmetic widens to HUGEINT). The when() guard is what
    # keeps ANSI mode from evaluating the div on a db = 0 row. Floats
    # are only used for the REPORTED max_ratio, and for the verdict
    # when a caller passes a non-integer ratio.
    if float(ratio).is_integer():
        over = F.expr("dn div db") >= F.lit(int(ratio))
    else:
        over = F.col("dn").cast("double") >= F.lit(float(ratio)) * F.col(
            "db"
        ).cast("double")
    due_band = F.when(F.col("db") > 0, over).otherwise(
        F.col("dn") >= F.lit(1_000_000)
    )
    m = sel.agg(
        F.max(
            F.when(F.col("db") > 0, F.col("dn").cast("double") / F.col("db"))
        ).alias("max_ratio"),
        F.max(due_band.cast("int")).alias("due_any"),
    ).first()
    max_ratio = float(m["max_ratio"] or 0.0)
    due = bool(m["due_any"] or 0)
    return {"due": due, "max_ratio": max_ratio, "threshold_ratio": ratio}


# The oracle above is proven equal to the Spark plan by
# tests/test_similarity.py's local compare_query run.
@query("sim_lsh_incremental", _lsh_incremental_oracle())
def sim_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH index maintenance — the sim_ivf_incremental
    story for the third index family: hash a NEW embedding snapshot
    (vec_id % 2 = 1) with the FROZEN deterministic hyperplanes and diff
    its per-band bucket-collision density against the STANDING corpus's
    (vec_id % 2 = 0), without touching the standing sig table. Output
    per band: training row count + bucket-collision pair count
    (Σ_sig C(cnt,2) — exactly the candidate-pair volume a band
    self-join generates), the same for the snapshot alone, and the
    exact-integer density drift in micro-pairs-per-row
    (_lsh_drift_report's overflow-free split division — NOT
    _drift_report's cross-multiply, which goes cubic on this quadratic
    metric; POSITIVE = the snapshot collides DENSER than the training
    corpus did = the distribution is concentrating into this band's hot
    buckets and the width chosen at build no longer bounds bucket
    loads — the re-hash trigger LSH actually needs, the quantified form
    of the mm_phash_neardup 48-bit saturation lesson).  Pure-size
    saturation (n growing at fixed width) is the province of the
    adaptive-width contracts (neardup_params, phash_width_for) at
    rebuild; these per-band pair counts are the data that rebuild
    decision reads.

    This IS ann_lsh_append's arithmetic — the machinery test asserts
    the persisted-index path (ann_lsh_build on the corpus half +
    ann_lsh_append of the snapshot) returns exactly these rows.

    Scale shape: two narrow Arrow projection passes (one BLAS matmul
    per batch, no join, no shuffle beyond two map-side-combinable
    aggregations keyed (band, sig) then band); the report is
    ANN_BANDS rows. The snapshot never touches the standing sigs — at
    100 TB yesterday's hashes are never recomputed."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = _band_pair_stats(
        band_signatures(
            emb.filter(F.col("vec_id") % 2 == 0), ANN_BANDS, ANN_ROWS, quantize=True
        )
    )
    new = _band_pair_stats(
        band_signatures(
            emb.filter(F.col("vec_id") % 2 == 1), ANN_BANDS, ANN_ROWS, quantize=True
        )
    )
    return _lsh_drift_report(base, new)


def _lsh_cadence_oracle() -> str:
    def dens(pair_sum: str, n: str) -> str:
        return (
            f"CAST(CASE WHEN {n} = 0 THEN 0"
            f" ELSE {_dens_sql(pair_sum, n)} END AS BIGINT)"
        )

    db = dens("base_pair_sum", "n_base")
    dn = dens("new_pair_sum", "n_new")
    return f"""
WITH rep AS ({_lsh_incremental_oracle()})
SELECT band, n_base, n_new, base_pair_sum, new_pair_sum, drift_num,
       {db} AS density_base_mu,
       {dn} AS density_new_mu,
       (({db} > 0 AND {dn} >= 2 * {db})
        OR ({db} = 0 AND {dn} >= 1000000)) AS due_ratio2
FROM rep
"""


@query("sim_lsh_cadence", _lsh_cadence_oracle())
def sim_lsh_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-hash cadence arithmetic as a driver-checkable surface —
    sim_lsh_incremental's per-band drift report extended with the
    EXACT-integer collision densities and the 2x cost-ratio verdict
    the calibrated trigger (lsh_retrain_due / MAINTENANCE.md "Retrain
    cadence") fires on: densities by the shared split-division
    micro-unit arithmetic (_density_mu — floor(pair_sum * 1e6 / n)
    with every intermediate < 2^63; operands non-negative, so Spark's
    div and DuckDB's // agree), and ``due_ratio2`` = this band reached
    2x its training collision density (or, for a zero-density training
    band where the ratio is undefined, the absolute broken-O(1) point
    of one colliding pair per row). Unlike the centroid families the
    WHOLE verdict is integer/boolean-exact — density_new >= 2 *
    density_base needs no floats — so the driver hashes the trigger
    itself, not just its inputs; index-level due = ANY(due_ratio2),
    pinned equal to lsh_retrain_due by the tie test.

    Scale shape: sim_lsh_incremental's plan (two narrow Arrow
    hyperplane matmuls + constant-ANN_BANDS-row aggregates) plus a
    constant-size projection."""
    rep = sim_lsh_incremental(spark, sf_dir)
    db = _density_mu("base_pair_sum", "n_base")
    dn = _density_mu("new_pair_sum", "n_new")
    proj = rep.select(
        "band",
        "n_base",
        "n_new",
        "base_pair_sum",
        "new_pair_sum",
        "drift_num",
        db.cast("bigint").alias("density_base_mu"),
        dn.cast("bigint").alias("density_new_mu"),
    )
    # (dn div db) >= 2, not dn >= 2*db: equivalent booleans for db > 0
    # (floor monotonicity over non-negative BIGINTs), but the product
    # can overflow 2^63 for db >= 2^62 — inside the density envelope —
    # where the division never leaves it; the when() guard keeps ANSI
    # mode off the db = 0 rows. The DuckDB oracle keeps
    # the product spelling (its BIGINT widens to HUGEINT).
    return proj.withColumn(
        "due_ratio2",
        F.when(
            F.col("density_base_mu") > 0,
            F.expr("density_new_mu div density_base_mu") >= F.lit(2),
        ).otherwise(F.col("density_new_mu") >= F.lit(1_000_000)),
    )


def lsh_rows_for(n: int) -> int:
    """Rows (sig bits) per band sized to the corpus — the LSH sibling
    of phash_width_for: 2^rows >= n keeps the expected per-(band, sig)
    bucket load O(1), so banded candidate pairs stay ~linear in n
    instead of n^2 / 2^rows. Floor of ANN_ROWS reproduces the build
    constant at small corpora. Recall survives the growth because the
    index is an OR-construction over ANN_BANDS bands: a near-dup pair
    with per-plane agreement p matches a band with p^rows, and
    1 - (1 - p^rows)^bands stays ~1 for p near 1 even at rows ~
    log2(n) — the dd_minhash adaptive-bands doctrine applied to the
    hyperplane family. INTEGER bit_length, not float ceil(log2), for
    the same 2^k + 1 ulp reason phash_width_for documents."""
    return max(ANN_ROWS, max(n - 1, 1).bit_length())


def _lsh_index_width(index_dir: str) -> tuple[int, int]:
    """(bands, rows) the persisted LSH index was hashed at, read from
    its shape marker — the published truth every append and re-hash
    must follow. Before width-adaptive retrains existed this was
    always (ANN_BANDS, ANN_ROWS); reading the marker instead of the
    constants is what lets appends keep hashing correctly AFTER an
    ann_lsh_retrain widened the index (a constants-width append into a
    widened index would land sigs no serve-time bucket join could ever
    match). Fails loudly on a missing/foreign marker — hashing at a
    guessed width would corrupt the index silently."""
    with open(os.path.join(index_dir, _INDEX_MARKER)) as fh:
        shape = json.load(fh)["shape"]
    return int(shape[0]), int(shape[1])


def ann_lsh_append(
    spark: SparkSession,
    index_dir: str,
    new_emb: DataFrame,
    batch_id: int,
    expect_epoch: int | None = None,
) -> DataFrame:
    """Append a NEW embedding snapshot to a persisted LSH-ANN index
    WITHOUT rehashing the standing corpus: band-hash the batch against
    the FROZEN deterministic hyperplanes at the index's published
    width (a narrow Arrow projection — no join, no shuffle) and land
    the (vec_id, band, sig) rows under ``<index>/appends`` partitioned
    by (bid, band). Returns the per-band bucket-collision drift report
    vs the training-time stats (POSITIVE drift_num = the batch collides
    denser than the training corpus = the re-hash trigger; see
    sim_lsh_incremental). The append contract is _append's. Unlike
    IVF, the index rows carry no embeddings — the vector store is the
    caller's (serve-time exact scoring joins the base table) — so an
    append moves ~10 bytes per (vector, band)."""

    def encode(df: DataFrame) -> DataFrame:
        # hash at the INDEX's published width, not the build constants —
        # after a width-adaptive ann_lsh_retrain the two differ, and a
        # constants-width sig could never match a widened bucket
        bands, rows = _lsh_index_width(index_dir)
        return band_signatures(df, bands, rows, quantize=True).select(
            *ANNLSH.stored
        )

    return _append(
        spark, ANNLSH, index_dir, new_emb, batch_id, encode, _band_pair_stats,
        expect_epoch,
    )


def ann_lsh_sigs_with_appends(spark: SparkSession, index_dir: str) -> DataFrame:
    """The servable signature table of an incrementally maintained
    LSH-ANN index: the build-time sigs plus every appended snapshot's
    hashes, normalized to the (vec_id, band, sig) serve surface. Feed
    the result straight into _ann_lsh_serve (with a vector store that
    covers the appended ids)."""
    return _with_appends(spark, ANNLSH, index_dir)


def ann_lsh_compact(spark: SparkSession, index_dir: str) -> bool:
    """Fold appended signature snapshots into the base ``sigs`` table
    and clear ``appends`` — ivf_compact's crash ladder applied to the
    LSH index (shared core _compact_index: rename-aside-first,
    epoch-fence bump, append-only contract assertion, key-dedup
    healing, monotonic two-rename publish). The dedup identity is the
    COMPOSITE (vec_id, band) — a vector legitimately owns one row per
    band, and the deterministic fixed-seed planes make any replay of
    the same vec_id bit-identical per band. The training ``stats`` are
    untouched: they are the frozen collision-density yardstick.
    Returns False when nothing to fold. Operations runbook:
    MAINTENANCE.md."""
    return _compact_index(spark, ANNLSH, index_dir)


def ann_lsh_retrain(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    rows: int | None = None,
    force: bool = False,
) -> bool:
    """Re-hash the maintained LSH-ANN index at a refreshed width — the
    action its own drift report calls for (ann_lsh_append's POSITIVE
    density drift = buckets collide denser than the training corpus =
    candidate pairs growing superlinearly), completing the hashed
    family's lifecycle loop build → append → drift → RE-HASH.

    WHY THE EXACT CORPUS IS A PARAMETER (the storage-vs-contract
    decision): the sig table deliberately carries ~10 bytes per
    (vector, band) and NO embeddings — carrying them would multiply
    index storage by the vector size times ANN_BANDS and turn every
    append into a vector copy, purely to save the rare re-hash a
    corpus read. So, as for ivfpq_retrain, the honest contract is an
    explicit ``corpus`` argument — the (vec_id, embedding) rows the
    index serves, re-read ONCE per re-hash — with a corpus integrity
    check (_retrain_corpus_check: id-set equality plus the duplicate/
    conflicting-row refusal, via the band=0 partition only — bands
    partition the table and every vector owns exactly one row per
    band, so the served side is a partition-pruned read, never a
    distinct over n x bands rows) that refuses a wrong corpus loudly
    before any write: duplicate rows would double-count the per-band
    collision-pair stats the density drift diffs against. Appends stay
    cheap forever; the re-hash is the rare heavyweight event.

    The width refreshes adaptively: rows per band = lsh_rows_for(|corpus|)
    (~log2 n — restores O(1) expected bucket loads; recall survives
    via the 32-band OR-construction, see lsh_rows_for) unless ``rows``
    pins it explicitly. The shape MARKER records the published width
    (bands, rows, seed, dim, layout), which is what ann_lsh_append and
    the stream twin hash against (_lsh_index_width) — so appends keep
    matching the widened buckets, and index_ready's constants check
    correctly reports a width-retrained index as NOT the default-cache
    shape (the default temp-dir cache must never serve it as if it
    were). The per-band ``stats`` yardstick is recomputed from the
    landed read-back at the new width — subsequent drift reports diff
    against the refreshed density surface.

    Unlike the other two retrains there is no training state: the
    planes are a fixed-seed function and the refit is just hashing, so
    the operator is a thin snapshot-swap wrapper over band_signatures
    on the corpus. Equivalence: with rows pinned to ANN_ROWS the
    published sigs are byte-equivalent to ann_lsh_build on the same
    corpus (same kernel, same quantized planes) — the machinery test's
    anchor. Crash discipline, fencing, bid pinning, the late-bid
    refusal, and the quiesce/restart-AFRESH stream rule are the shared
    _retrain_swap engine, as for the other families. Returns False
    when there is nothing to fold and not ``force`` (width-only
    refresh of an appendless index wants force=True). Operations
    runbook: MAINTENANCE.md."""
    chosen: dict[str, int] = {}

    def write_snapshot(tmp: str, fold_bids: list[int], epoch: int) -> None:
        served_ids = _pinned_served(
            spark, ANNLSH, index_dir, fold_bids, ["vec_id"], F.col("band") == 0
        )
        n = _retrain_corpus_check(
            corpus.select("vec_id", "embedding"),
            served_ids,
            "ann_lsh_retrain",
            index_dir,
        )
        # n comes from the integrity check's single aggregate — no
        # separate corpus.count() job. The check reads the
        # corpus once but shuffles only (vec_id, 8-byte embedding
        # hash); band_signatures below is the one pass that moves full
        # vectors
        width = int(rows) if rows is not None else lsh_rows_for(n)
        chosen["rows"] = width
        sigs = band_signatures(corpus, ANN_BANDS, width, quantize=True)
        _lsh_write_artifacts(spark, tmp, sigs.select(*ANNLSH.stored))

    return _retrain_swap(
        spark,
        ANNLSH,
        index_dir,
        write_snapshot,
        force,
        # derive from the single shape source, overriding only the
        # rows slot — a hand-copied tuple would silently diverge when
        # _index_shape's annlsh entry changes
        shape_fn=lambda: tuple(
            chosen["rows"] if i == 1 else v
            for i, v in enumerate(_index_shape("annlsh"))
        ),
    )


def _lsh_retrain_oracle() -> str:
    w_old, w_new = ANN_ROWS, 2 * ANN_ROWS
    n_planes = ANN_BANDS * w_new
    planes_q = np.floor(_planes(n_planes) * 1_000_000).astype(np.int64)
    plane_lists = ", ".join(
        "[" + ", ".join(str(int(v)) for v in row) + "]" for row in planes_q
    )
    return f"""
WITH x AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
xq AS (SELECT vec_id,
              list_transform(v, e -> CAST(FLOOR(e * 1000000) AS BIGINT)) AS vq
       FROM x),
pl AS (SELECT UNNEST(range(0, {n_planes})) AS p,
              UNNEST([{plane_lists}]) AS pv),
bits AS (SELECT xq.vec_id, pl.p,
                CASE WHEN list_sum(list_transform(range(1, {DIM + 1}),
                       j -> xq.vq[j] * pl.pv[j])) >= 0
                     THEN '1' ELSE '0' END AS bit
         FROM xq CROSS JOIN pl),
-- width-{w_old} sigs: flat planes [band*{w_old}, (band+1)*{w_old}) are the
-- FIRST {ANN_BANDS * w_old} of the same fixed-seed sequence (rng fills
-- C-order, so _planes(k) is a prefix of _planes(m>k))
sig_old AS (SELECT vec_id, p // {w_old} AS band,
                   string_agg(bit, '' ORDER BY p) AS sig
            FROM bits WHERE p < {ANN_BANDS * w_old}
            GROUP BY vec_id, p // {w_old}),
sig_new AS (SELECT vec_id, p // {w_new} AS band,
                   string_agg(bit, '' ORDER BY p) AS sig
            FROM bits GROUP BY vec_id, p // {w_new}),
old AS (SELECT band, CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT) AS pair_sum_frozen
        FROM (SELECT band, sig, COUNT(*) AS cnt
              FROM sig_old GROUP BY band, sig)
        GROUP BY band),
neww AS (SELECT band,
                CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT) AS pair_sum_rehash
         FROM (SELECT band, sig, COUNT(*) AS cnt
               FROM sig_new GROUP BY band, sig)
         GROUP BY band)
SELECT CAST(old.band AS BIGINT) AS band, old.n, old.pair_sum_frozen,
       neww.pair_sum_rehash,
       CAST(GREATEST({w_old}, LENGTH(BIN(old.n - 1))) AS INTEGER)
         AS adaptive_rows
FROM old JOIN neww USING (band)
"""


@query("sim_lsh_retrain", _lsh_retrain_oracle())
def sim_lsh_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RE-HASH arithmetic closing the maintained-LSH loop — the
    driver-checkable core of ann_lsh_retrain: hash the corpus at the
    frozen width AND at a doubled width with the same fixed-seed
    planes, and report per band the collision-pair collapse the
    re-hash buys (pair_sum_frozen vs pair_sum_rehash — the exact
    candidate-pair cost driver the density drift report alarms on),
    plus ``adaptive_rows`` = lsh_rows_for(n) computed ENGINE-SIDE
    (GREATEST(ANN_ROWS, bit_length(n-1)) — the width the operator
    would publish, pinned cross-engine exactly like phash_width_for's
    LENGTH(BIN(n-1)) contract).

    The re-hash width here is PINNED at 2×ANN_ROWS rather than
    adaptive because oracle plane literals cannot depend on a runtime
    corpus count — the adaptive CHOICE is itself the adaptive_rows
    column (driver-hashed), and the adaptive PUBLISH is
    ann_lsh_retrain's machinery (marker-width + append-follows tests).
    Width-w sigs index flat planes [band*w, (band+1)*w) of one
    fixed-seed sequence, so both widths share one plane set in both
    engines (rng fills C-order: _planes(k) is a prefix of
    _planes(m>k), asserted in tests).

    Scale shape: ONE narrow Arrow matmul pass over the corpus — the
    frozen-width sigs are derived as SUBSTRINGS of the doubled-width
    sigs (band-major plane layout + the prefix property: old band b's
    planes are flat rows [w*b, w*(b+1)), which sit inside new band
    b//2 at char offset (w*b mod 2w) — the same derivation the
    oracle's one `bits` table uses), so both widths cost one
    projection, half the cost of a two-pass plan.
    Then one aggregation chain: explode each new-band
    row into its (width, band, sig) pieces, bucket-count, and fold
    both widths' per-band stats in a single conditional aggregate —
    no self-join, no reused subtree to re-execute, constant
    ANN_BANDS-row output."""
    emb = load_table(spark, sf_dir, "embeddings")
    w_new = 2 * ANN_ROWS
    sig8 = band_signatures(emb, ANN_BANDS, w_new, quantize=True).select(
        "vec_id", "band", "sig"
    )
    pieces = (
        sig8.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("new").alias("w"),
                        F.col("band").cast("bigint").alias("b"),
                        F.col("sig").alias("s"),
                    ),
                    F.struct(
                        F.lit("old").alias("w"),
                        (F.col("band") * 2).cast("bigint").alias("b"),
                        F.substring("sig", 1, ANN_ROWS).alias("s"),
                    ),
                    F.struct(
                        F.lit("old").alias("w"),
                        (F.col("band") * 2 + 1).cast("bigint").alias("b"),
                        F.substring("sig", ANN_ROWS + 1, ANN_ROWS).alias("s"),
                    ),
                )
            ).alias("e")
        )
        .select("e.w", "e.b", "e.s")
        # only the first half of the new bands contains old planes:
        # old band b < ANN_BANDS derives from new band b//2 < ANN_BANDS/2
        .filter((F.col("w") == "new") | (F.col("b") < F.lit(ANN_BANDS)))
    )
    bucket = pieces.groupBy("w", "b", "s").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    pairs = F.expr("cnt * (cnt - 1) div 2")
    stats = bucket.groupBy(F.col("b").alias("band")).agg(
        F.sum(F.when(F.col("w") == "old", F.col("cnt")))
        .cast("bigint")
        .alias("n"),
        F.sum(F.when(F.col("w") == "old", pairs))
        .cast("bigint")
        .alias("pair_sum_frozen"),
        F.sum(F.when(F.col("w") == "new", pairs))
        .cast("bigint")
        .alias("pair_sum_rehash"),
    )
    return stats.withColumn(
        "adaptive_rows",
        F.greatest(F.lit(ANN_ROWS), F.length(F.bin(F.col("n") - 1))).cast(
            "int"
        ),
    ).select(
        F.col("band").cast("bigint").alias("band"),
        "n",
        "pair_sum_frozen",
        "pair_sum_rehash",
        "adaptive_rows",
    )


def run_incremental_lsh_stream(
    spark: SparkSession,
    index_dir: str,
    source: DataFrame,
    timeout_s: int = 300,
    checkpoint_dir: str | None = None,
):
    """Streaming twin of ann_lsh_append (_open_append_stream's
    contract). The frozen state is the fixed-seed hyperplanes, so the
    stream loads nothing at open."""
    return _open_append_stream(
        spark, ANNLSH, index_dir, source, timeout_s, checkpoint_dir, ann_lsh_append
    )


# --- product quantization (PQ) ANN -----------------------------------------

PQ_M = 8  # subspaces (64-dim -> 8 x 8-dim)
PQ_KS = 16  # codes per subspace -> 4 bits; one vector = M x log2(KS) = 4 bytes
PQ_RERANK = 100  # approx-score candidates re-ranked exactly per query


def pq_codebooks(emb: DataFrame, emb_col: str = "embedding") -> np.ndarray:
    """(M, KS, dim/M) codebooks: subvectors of the KS lowest vec_ids —
    deterministic, collected once (KS rows, never corpus-proportional)."""
    seeds = emb.orderBy("vec_id").limit(PQ_KS).select(emb_col).collect()
    A = np.array([r[emb_col] for r in seeds], dtype=np.float64)
    d_sub = A.shape[1] // PQ_M
    return A.reshape(PQ_KS, PQ_M, d_sub).transpose(1, 0, 2)


def quantize_books(books: np.ndarray) -> np.ndarray:
    """Integer micro-unit codebooks: FLOOR(c * 1e6) as int64 — the same
    quantization _micro_vecs applies to vectors, so encode distances are
    exact integer arithmetic reproducible in any engine."""
    return np.floor(books * 1_000_000).astype(np.int64)


def pq_encode(emb: DataFrame, books: np.ndarray, emb_col: str = "embedding") -> DataFrame:
    """Append ``codes`` (array<int>, length M): per-subspace argmin-L2
    code over INTEGER micro-unit distances — both the vector and the
    codebook entries are quantized to FLOOR(x*1e6) int64 before the
    distance compare, and ties break to the lowest code, so the argmin
    is bit-reproducible across engines (this is what makes the PQ/IVFPQ
    shortlists checkable by exact DuckDB oracles; a float-BLAS d2
    could flip a near-tie code between engines).
    One Arrow-batched numpy pass (int64 broadcast-subtract per batch) —
    a narrow projection, no shuffle; at 100 TB this is the compression
    pass that shrinks every vector 64x (256 B float32 -> 4 B codes).

    Delegates to pq_encode_qerr (one argmin kernel in the repo — the
    hand-copied twin had already diverged: only the qerr copy carried
    the empty-Arrow-batch guard) and drops the error
    column; codes are the identical argmin either way."""
    return pq_encode_qerr(emb, quantize_books(books), emb_col).drop("qerr")


def pq_encode_qerr(
    emb: DataFrame, books_q: np.ndarray, emb_col: str = "embedding"
) -> DataFrame:
    """pq_encode's arithmetic plus the exact-integer quantization error:
    appends ``codes`` (array<int>, length M — identical to pq_encode's,
    same integer argmin, same lowest-code tie-break) and ``qerr``
    (BIGINT, sum over subspaces of the WINNING code's integer L2² —
    exactly the distance the argmin minimized, so no second pass and no
    decode step). ``books_q`` is the QUANTIZED int64 codebook
    (quantize_books' output / the persisted ``codebooks`` table) taken
    directly — an append-time caller re-deriving float books from the
    stored integers and re-flooring could round-trip off by one ulp;
    integers in, integers compared.

    qerr units: (1e-6)² of true squared L2 — callers aggregate
    ``qerr DIV 1_000_000`` (micro-units of squared L2, see
    _qerr_stats) to keep downstream cross-multiplies in BIGINT.
    One Arrow-batched numpy pass, narrow projection, no shuffle."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    M, KS, d_sub = books_q.shape
    out_t = StructType(
        [
            StructField("codes", ArrayType(IntegerType())),
            StructField("qerr", LongType()),
        ]
    )

    @F.pandas_udf(out_t)
    def encode(s: pd.Series) -> pd.DataFrame:
        if len(s) == 0:  # empty Arrow batch: keep dtypes, skip np.stack
            return pd.DataFrame({"codes": [], "qerr": pd.Series([], dtype="int64")})
        X = np.stack(s.to_numpy()).astype(np.float64)  # (n, dim)
        Xq = np.floor(X * 1_000_000).astype(np.int64)
        n = X.shape[0]
        codes = np.empty((n, M), dtype=np.int32)
        qerr = np.zeros(n, dtype=np.int64)
        for m in range(M):
            sub = Xq[:, m * d_sub : (m + 1) * d_sub]  # (n, d_sub) int64
            diff = sub[:, None, :] - books_q[m][None, :, :]  # (n, KS, d_sub)
            d2 = (diff * diff).sum(axis=2)  # exact int64
            codes[:, m] = d2.argmin(axis=1)  # first min -> lowest code
            qerr += d2.min(axis=1)
        return pd.DataFrame({"codes": list(codes), "qerr": qerr})

    cq = encode(emb_col)
    return emb.withColumn("_cq", cq).select(
        "*", F.col("_cq.codes").alias("codes"), F.col("_cq.qerr").alias("qerr")
    ).drop("_cq")


def _qerr_stats(coded: DataFrame) -> DataFrame:
    """Per-cid (n, qerr_sum_mu) of an encoded frame: member count plus
    the BIGINT sum of per-vector quantization errors scaled to
    micro-units of squared L2 (qerr DIV 1e6 — integer division of
    non-negative ints, floor == trunc in every engine). The IVFPQ
    analogue of _assign_cos_stats: the code-space drift yardstick.
    Int64 headroom: per-vector qerr_mu tops out ~1e9 (worst-case
    residuals), so sums stay < 2^63 to ~10^9 vectors and the drift
    cross-multiply to ~10^5-row snapshots per cid — shard the stats
    beyond that."""
    return coded.groupBy(F.col("cid").cast("bigint").alias("cid")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("qerr DIV 1000000")).cast("bigint").alias("qerr_sum_mu"),
    )


def pq_decode_expr(books: np.ndarray) -> F.Column:
    """Reconstruct the approximate vector from ``codes`` inside
    Catalyst: M codebook lookups into a literal (M, KS, d_sub) array +
    flatten — interpreted HOF but only M element_at calls per row, so
    it stays cheap (unlike per-element arithmetic HOFs; see
    band_signatures).

    The literal is ONE parsed SQL expression, not M*KS*d_sub F.lit()
    Columns — per-Column py4j round trips cost ~0.6 s per ~1k literals
    at plan-build time (the ivf_assign discipline); repr() round-trips
    doubles exactly and D marks a DOUBLE literal."""
    lit = F.expr(
        "array({})".format(
            ", ".join(
                "array({})".format(
                    ", ".join(
                        "array({})".format(
                            ", ".join(f"{float(v)!r}D" for v in code)
                        )
                        for code in book
                    )
                )
                for book in books
            )
        )
    )
    return F.flatten(
        F.zip_with(
            lit,
            F.col("codes"),
            lambda book, c: F.element_at(book, c + 1),
        )
    )


def _pq_argmin_sql(src: str, col: str) -> str:
    """(vec_id, m, k, d2): per vector of ``src`` and subspace m, the
    winning code k among the bseeds (k, <col>) codebook rows and its
    integer L2² d2, ties to the lowest code — pq_encode_qerr's argmin."""
    d_sub = DIM // PQ_M
    diff = f"(r.{col}[t.m * {d_sub} + j] - s.{col}[t.m * {d_sub} + j])"
    d2 = f"list_sum(list_transform(range(1, {d_sub + 1}), j -> {diff} * {diff}))"
    return f"""SELECT vec_id, m, k, d2 FROM (
    SELECT r.vec_id, t.m, s.k, {d2} AS d2,
           ROW_NUMBER() OVER (PARTITION BY r.vec_id, t.m ORDER BY {d2} ASC, s.k ASC) AS rn
    FROM {src} r CROSS JOIN (SELECT UNNEST(range(0, {PQ_M})) AS m) t
    CROSS JOIN bseeds s) WHERE rn = 1"""


def _residual_sql(assign: str, x: str, cents: str, seeds_where: str = "") -> str:
    """CTEs res (vec_id, cid, rq): each vector of the assignment
    ``assign`` minus its ``cents`` centroid as micro-unit ints
    (_residuals), and bseeds (k, rq): the PQ_KS lowest vec_ids'
    residuals, the codebook pq_codebooks seeds."""
    return f"""res AS (SELECT a.vec_id, a.cid,
               list_transform(range(1, {DIM + 1}),
                 j -> CAST(FLOOR((x.v[j] - c.c[j]) * 1000000) AS BIGINT)) AS rq
        FROM {assign} a JOIN {x} x USING (vec_id) JOIN {cents} c USING (cid)),
bseeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, rq
           FROM res {seeds_where} ORDER BY vec_id LIMIT {PQ_KS})"""


def _pq_qerr_sql() -> str:
    """CTE yv (vec_id, cid, y): each res row's quantization error
    against the bseeds codebook in micro-units of squared L2 — the
    qerr DIV 1e6 summand of _qerr_stats."""
    return f"""yv AS (SELECT vec_id, cid, CAST(SUM(d2) AS BIGINT) // 1000000 AS y
       FROM ({_pq_argmin_sql("res", "rq")}) JOIN res USING (vec_id)
       GROUP BY vec_id, cid)"""


def _pq_oracle() -> str:
    d_sub = DIM // PQ_M
    return f"""
WITH {_vectors_sql("x", "xq")},
bseeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, vq
           FROM xq ORDER BY vec_id LIMIT {PQ_KS}),
enc AS ({_pq_argmin_sql("xq", "vq")}),
dec AS (SELECT e.vec_id,
               list(CAST(s.vq[e.m * {d_sub} + t.j] AS DOUBLE) / 1000000.0
                    ORDER BY e.m * {d_sub} + t.j) AS d
        FROM enc e JOIN bseeds s USING (k)
        CROSS JOIN (SELECT UNNEST(range(1, {d_sub + 1})) AS j) t
        GROUP BY e.vec_id),
q AS (SELECT vec_id AS query_id, v AS qv FROM x WHERE vec_id < {N_QUERIES}),
approx AS (SELECT q.query_id, d.vec_id AS cand_id,
                  ROUND(list_dot_product(q.qv, d.d) /
                        (sqrt(list_dot_product(q.qv, q.qv))
                         * sqrt(list_dot_product(d.d, d.d))), 6) AS ac
           FROM q JOIN dec d ON d.vec_id <> q.query_id),
short AS (SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ac DESC, cand_id) AS rn
    FROM approx) WHERE rn <= {PQ_RERANK}),
exact AS (SELECT s.query_id, s.cand_id,
                 ROUND(list_dot_product(q.qv, c.v) /
                       (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
          FROM short s JOIN q USING (query_id)
          JOIN x c ON c.vec_id = s.cand_id)
SELECT * FROM (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rank
  FROM exact
) WHERE rank <= {TOP_K}
"""


@query("sim_pq_topk", _pq_oracle())
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN top-k: encode the corpus to PQ_M 4-bit codes (the 64x
    compression that makes 100 TB of embeddings hold in RAM), score
    queries against the DECODED approximation JVM-side, keep the top
    PQ_RERANK per query, then re-rank exactly against the true vectors.

    Fully oracle-checked: the encode argmin runs in integer
    micro-units (pq_encode), the decoded approximation is the exact
    double books_q/1e6, the shortlist ranks ROUND(approx_cos, 6) with
    cand_id tiebreak, and the re-rank is the proven brute-force surface
    — so DuckDB reproduces codes, shortlist, and final ranking bit for
    bit. Measured recall@10 vs brute force at sf0.01 = 0.92
    (tests/test_similarity.py asserts >= 0.5 to absorb corpus drift).
    Scale: encode is a narrow Arrow pass; approx scoring broadcasts the
    query set over code rows (4 B payloads, not 256 B vectors); only
    PQ_RERANK x queries full vectors are ever joined back."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb)
    coded = pq_encode(emb, books).select(
        F.col("vec_id").alias("cand_id"), "codes"
    )
    decoded = coded.withColumn(
        "dec", pq_decode_expr(quantize_books(books) / 1e6)
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    approx = (
        F.broadcast(q)
        .join(decoded, F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_emb",
            "cand_id",
            # cosine_arrow: bit-identical to the HOF fold; the decode
            # stays JVM-side, only (q_emb, dec) cross into Arrow
            F.round(cosine_arrow(F.col("q_emb"), F.col("dec")), 6).alias("approx_cos"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("cand_id")
    )
    short = (
        approx.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= PQ_RERANK)
        .select("query_id", "q_emb", "cand_id")
    )
    exact = short.join(
        emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")),
        "cand_id",
    ).select(
        "query_id",
        "cand_id",
        F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cos_sim"),
    )
    return per_query_topk(exact)


def _ivfpq_oracle() -> str:
    d_sub = DIM // PQ_M
    return f"""
WITH {_portable_c1_cte()},
al AS ({_nearest_sql("x", "c1")}),
{_residual_sql("al", "x", "c1")},
enc AS ({_pq_argmin_sql("res", "rq")}),
decq AS (SELECT e.vec_id,
                list(s.rq[e.m * {d_sub} + t.j] ORDER BY e.m * {d_sub} + t.j) AS dq
         FROM enc e JOIN bseeds s USING (k)
         CROSS JOIN (SELECT UNNEST(range(1, {d_sub + 1})) AS j) t
         GROUP BY e.vec_id),
cq AS (SELECT cid,
              list_transform(c, e -> CAST(FLOOR(e * 1000000) AS BIGINT)) AS cq
       FROM c1),
q AS (SELECT x.vec_id AS query_id, x.v AS qv, xq.vq AS qq
      FROM x JOIN xq USING (vec_id) WHERE x.vec_id < {N_QUERIES}),
probes AS ({_nearest_sql("q", "c1", IVF_NPROBE, "query_id", "qv")}),
approx AS (SELECT q.query_id, r.vec_id AS cand_id,
                  CAST(list_sum(list_transform(range(1, {DIM + 1}),
                    j -> q.qq[j] * (cq.cq[j] + d.dq[j]))) AS BIGINT) AS ip
           FROM q JOIN probes p USING (query_id)
           JOIN res r ON r.cid = p.cid AND r.vec_id <> q.query_id
           JOIN cq ON cq.cid = p.cid
           JOIN decq d ON d.vec_id = r.vec_id),
short AS (SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ip DESC, cand_id) AS rn
    FROM approx) WHERE rn <= {PQ_RERANK}),
exact AS (SELECT s.query_id, s.cand_id,
                 ROUND(list_dot_product(q.qv, c.v) /
                       (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
          FROM short s JOIN q USING (query_id)
          JOIN x c ON c.vec_id = s.cand_id)
SELECT * FROM (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rank
  FROM exact
) WHERE rank <= {TOP_K}
"""


@query("sim_ivfpq_topk", _ivfpq_oracle())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ ANN (the FAISS IVFADC layout — Jegou et al. 2011): coarse
    IVF lists prune the scan to IVF_NPROBE/IVF_K of the corpus, PQ codes
    of the RESIDUAL (vector minus its list centroid — tighter than raw
    PQ because residual norms shrink) give the in-list approximate
    scores via ADC lookup tables, and the per-query shortlist re-ranks
    against true vectors by exact cosine. This is the composition that
    serves billion-vector corpora: the probed fraction bounds compute,
    the 4-byte codes bound memory, the re-rank bounds the error.

    ADC (asymmetric distance computation) is the part that makes PQ
    fast, not just small: each query precomputes a (M x KS) table of
    subspace dot products against every codebook entry — per candidate
    the approximate inner product is dot(q, centroid) + M table
    lookups, NOT a 64-dim vector reconstruction. A first formulation
    decoded c+r per row and scored with interpreted HOF cosine: 6.4s
    at sf0.1; the LUT pandas_udf runs the same shortlist in ~1s.

    End-to-end oracle-checked: the coarse quantizer is
    portable_centroids (integer-sum Lloyd on the round-6 tie surface),
    residuals quantize to micro-unit ints, codes argmin integer
    distances, and the WHOLE ADC runs in exact int64 — lut entries and
    dot(q, centroid) are micro-unit integer dot products, so the
    shortlist order is engine-exact (ties break on cand_id). DuckDB
    replays the identical pipeline from the base table.

    Scale: zero-shuffle argmax assignment, broadcast probes joined
    equi-keyed on cid (never a corpus cartesian), narrow Arrow encode +
    ADC passes, and only PQ_RERANK x queries full vectors move in the
    re-rank join. The LUT closure is N_QUERIES x M x KS ints —
    constant-size, like the centroid literals. Recall@10 vs brute
    force asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, coded, books_q = ivfpq_fit(emb)
    return _ivfpq_serve(emb, cents, coded, books_q)


def ivfpq_fit(emb: DataFrame) -> tuple[DataFrame, DataFrame, np.ndarray]:
    """IVFPQ training/encode phase: portable coarse centroids, round-6
    assignment, residual codebooks from the PQ_KS lowest vec_ids, and
    integer-argmin codes. Returns (centroids, coded rows, quantized
    codebooks) — everything the serving path needs, everything
    ivfpq_build persists."""
    # localCheckpoint, not cache: K tiny rows, reused by the literal
    # collect and the probe/residual joins, released on GC instead of
    # pinned session-long (a bare .cache() here was never unpersisted).
    cents = portable_centroids(emb).transform(local_checkpoint, eager=False)

    # Codebooks need only the PQ_KS lowest vec_ids' residuals, so the
    # assignment/residual expressions run over a 16-row TakeOrdered
    # slice instead of the whole corpus (profiled: the corpus-wide
    # formulation cost 1.3 s at sf0.1 to keep 16 rows).  Same Catalyst
    # expressions on the same rows — values bit-identical.
    books = pq_codebooks(
        _residuals(emb.orderBy("vec_id").limit(PQ_KS), cents),
        emb_col="residual",
    )
    # pq_encode_qerr = pq_encode's integer argmin plus the winning
    # distance itself: codes are bit-identical, and the qerr column is
    # the training-time quantization-error yardstick ivfpq_build
    # persists as per-cid stats (serving paths prune it)
    coded = pq_encode_qerr(
        _residuals(emb, cents), quantize_books(books), emb_col="residual"
    ).select(F.col("vec_id").alias("cand_id"), "cid", "codes", "qerr")
    return cents, coded, quantize_books(books)


def _residuals(base: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign ``base`` to its nearest FROZEN centroid (round-6 argmax,
    zero-shuffle) and append ``residual`` = embedding - c_emb (exact
    double subtraction) — the IVFPQ encode input. Shared by ivfpq_fit,
    sim_ivfpq_incremental, and ivfpq_append so the residual surface can
    never drift between build-time and append-time encoding."""
    return ivf_assign(base, cents, round_digits=6).join(
        F.broadcast(cents), "cid"
    ).withColumn(
        "residual",
        F.zip_with(
            "embedding", "c_emb",
            lambda x, c: x.cast("double") - c.cast("double"),
        ),
    )


def _ivfpq_serve(
    emb: DataFrame, cents: DataFrame, coded: DataFrame, books_q: np.ndarray
) -> DataFrame:
    """IVFPQ serving phase (probes -> integer ADC -> shortlist -> exact
    re-rank) over a fitted index — shared by sim_ivfpq_topk (fits
    in-query) and sim_ivfpq_query (reads the persisted index)."""
    from pyspark.sql.types import LongType

    # bounded collects: exactly N_QUERIES + IVF_K rows (constants), same
    # class as the centroid literals — never corpus-proportional
    q_rows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    c_rows = cents.orderBy("cid").collect()
    M, KS, d_sub = books_q.shape
    Q = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    Qq = np.floor(Q * 1_000_000).astype(np.int64)
    Cq = np.floor(
        np.array([r["c_emb"] for r in c_rows], dtype=np.float64) * 1_000_000
    ).astype(np.int64)
    # lut[qi, m, k] = <q_sub_m, books_q[m][k]> ; dqc[qi, ci] = <qq, centq>
    lut = np.stack(
        [Qq[:, m * d_sub : (m + 1) * d_sub] @ books_q[m].T for m in range(M)],
        axis=1,
    )
    dqc = Qq @ Cq.T
    qidx = {r["vec_id"]: i for i, r in enumerate(q_rows)}
    cidx = {r["cid"]: i for i, r in enumerate(c_rows)}

    @F.pandas_udf(LongType())
    def adc_ip(qid: pd.Series, cid: pd.Series, codes: pd.Series) -> pd.Series:
        C = np.stack(codes.to_numpy())  # (n, M) int codes
        qi = qid.map(qidx).to_numpy(dtype=np.int64)
        ci = cid.map(cidx).to_numpy(dtype=np.int64)
        return pd.Series(
            dqc[qi, ci]
            + lut[qi[:, None], np.arange(M)[None, :], C].sum(axis=1)
        )

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probes = probe_centroids(q, cents)
    approx = (
        F.broadcast(probes)
        .join(coded, "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_emb",
            "cand_id",
            adc_ip(F.col("query_id"), F.col("cid"), F.col("codes")).alias(
                "approx_ip"
            ),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("approx_ip"), F.asc("cand_id")
    )
    short = (
        approx.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= PQ_RERANK)
        .select("query_id", "q_emb", "cand_id")
    )
    exact = short.join(
        emb.select(
            F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
        ),
        "cand_id",
    ).select(
        "query_id",
        "cand_id",
        F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cos_sim"),
    )
    return per_query_topk(exact)


def _index_shape(kind: str) -> tuple:
    """Every constant that shapes a persisted index of ``kind``. Part
    of the cache tag: an index built under OLD constants must never be
    served after the constants change (the corpus fingerprint alone
    cannot see a code edit, and the isdir short-circuit would otherwise
    pin the stale index until the fixture's mtime moves)."""
    return {
        # trailing 2 = layout version: v2 adds the per-cid `stats`
        # parquet (training-assignment cos sums) ivf_append diffs
        # drift against — a v1 index without it must rebuild
        "ivf": (IVF_K, KM_ITERS, DIM, 2),
        # v2: sigs partitioned by band (the layout ann_lsh_compact
        # folds appends into) + per-band bucket-collision `stats`
        # ann_lsh_append diffs drift against
        "annlsh": (ANN_BANDS, ANN_ROWS, PLANE_SEED, DIM, 2),
        # v2: codes partitioned by cid (probe-side file pruning, and
        # the layout ivfpq_compact folds appends into) + per-cid
        # quantization-error `stats` ivfpq_append diffs drift against
        "ivfpq": (IVF_K, KM_ITERS, PQ_M, PQ_KS, DIM, 2),
    }[kind]


def _index_dir(sf_dir: str, kind: str) -> str:
    """Deterministic per-corpus index location under the system temp
    dir, fingerprinted by the embeddings file's (mtime, size) AND the
    index-shaping constants (_index_shape), so both a regenerated
    fixture and a constant change auto-invalidate the cached index."""
    import hashlib
    import tempfile

    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    shape = hashlib.md5(repr(_index_shape(kind)).encode()).hexdigest()[:10]
    tag = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{st.st_mtime_ns}_{st.st_size}_{shape}"
    )
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}", tag)


def ivfpq_index_dir(sf_dir: str) -> str:
    return _index_dir(sf_dir, "ivfpq")


def ivfpq_build(spark: SparkSession, sf_dir: str, index_dir: str | None = None) -> str:
    """BUILD phase of the IVFPQ serving split: fit the index once and
    persist it as three parquet tables — centroids (cid, c_emb), codes
    (cand_id, cid, codes: the whole corpus at 4 B/vector), and the
    quantized codebooks (m, k, sub) — then atomically rename into
    place. At 100 TB this is the amortization that matters: training +
    encode cost ~2.5 s of sim_ivfpq_topk's 4.5 s at sf0.1 and is pure
    rebuild-per-call waste when queries repeat; a real corpus builds
    once per ingest batch and serves every query from the codes table
    (see sim_ivfpq_query). Build is deterministic from the base table,
    so the persisted index inherits the driver-checked oracle."""
    out = index_dir or ivfpq_index_dir(sf_dir)
    if index_ready(out, "ivfpq"):
        return out
    emb = load_table(spark, sf_dir, "embeddings")
    cents, coded, books_q = ivfpq_fit(emb)

    def write(tmp: str) -> None:
        _ivfpq_write_artifacts(spark, tmp, cents, coded, books_q)

    return _publish_index(out, "ivfpq", write)


def _ivfpq_write_artifacts(
    spark: SparkSession,
    tmp: str,
    cents: DataFrame,
    coded: DataFrame,
    books_q: np.ndarray,
) -> None:
    """Materialize a fitted IVFPQ index's four artifacts under ``tmp``
    — shared by ivfpq_build and ivfpq_retrain so the two write paths
    can never drift (the retrain's byte-equivalence contract IS this
    sharing plus ivfpq_fit's determinism)."""
    M, KS, _d_sub = books_q.shape
    cents.write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))
    # cid partitioning: the serve-phase probe join prunes to
    # nprobe/K of the code FILES (the lists layout's discipline),
    # and ivfpq_compact folds cid-partitioned appends into the
    # same shape
    coded.write.mode("overwrite").partitionBy(IVFPQ.part).parquet(
        os.path.join(tmp, IVFPQ.data)
    )
    # per-cid training quantization-error stats: the frozen
    # yardstick ivfpq_append diffs code-space drift against.
    # Computed from the codes JUST WRITTEN (read-back = the
    # durable truth; re-executing `coded` would re-run the full
    # encode pass — the ivf_build discipline).
    landed = _project(
        spark.read.parquet(os.path.join(tmp, IVFPQ.data)), IVFPQ, IVFPQ.stored
    )
    _qerr_stats(landed).write.mode("overwrite").parquet(
        os.path.join(tmp, "stats")
    )
    book_rows = [
        (m, k, [int(v) for v in books_q[m, k]])
        for m in range(M)
        for k in range(KS)
    ]
    spark.createDataFrame(
        book_rows, "m int, k int, sub array<bigint>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "codebooks"))


@query("sim_ivfpq_query", _ivfpq_oracle())
def sim_ivfpq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUERY phase of the IVFPQ serving split: answer top-k from the
    PREBUILT index (ivfpq_build persists centroids + codes + codebooks;
    builds on first call, reuses thereafter) — no retraining, the plan
    is read-codes -> broadcast-probe join on cid -> integer ADC ->
    exact re-rank of PQ_RERANK rows. This mirrors production ANN
    serving: the corpus-sized input is the 4-byte-code table, full
    vectors are touched only for the shortlist. Build determinism means
    the same DuckDB oracle proves BOTH phases: the driver check replays
    train+encode+serve from the base table and must match what this
    query serves from disk."""
    idx = ivfpq_build(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = spark.read.parquet(os.path.join(idx, "centroids"))
    coded = spark.read.parquet(os.path.join(idx, "codes"))
    return _ivfpq_serve(emb, cents, coded, _load_books_q(spark, idx))


def _load_books_q(spark: SparkSession, index_dir: str) -> np.ndarray:
    """The persisted quantized codebooks as the (M, KS, d_sub) int64
    array pq_encode_qerr / the ADC LUT consume — one bounded collect of
    exactly M*KS rows."""
    brows = spark.read.parquet(os.path.join(index_dir, "codebooks")).collect()
    M = max(r["m"] for r in brows) + 1
    KS = max(r["k"] for r in brows) + 1
    books_q = np.zeros((M, KS, len(brows[0]["sub"])), dtype=np.int64)
    for r in brows:
        books_q[r["m"], r["k"]] = r["sub"]
    return books_q


# --- incremental IVFPQ index maintenance -------------------------------------


def _ivfpq_incremental_oracle() -> str:
    return _incremental_oracle(
        IVFPQ,
        f"""al AS ({_nearest_sql("ax", "c1")}),
{_residual_sql("al", "ax", "c1", "WHERE vec_id % 2 = 0")},
{_pq_qerr_sql()}""",
    )


@query("sim_ivfpq_incremental", _ivfpq_incremental_oracle())
def sim_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVFPQ index maintenance — sim_ivf_incremental one
    level down: encode a NEW embedding snapshot (vec_id % 2 = 1) into
    residual PQ codes against codebooks AND coarse centroids trained on
    the STANDING corpus (vec_id % 2 = 0), without retraining either.
    Output per cid: training member count + integer quantization-error
    sum, snapshot count + error sum, and the exact-integer drift
    numerator (sign of mean_new_qerr - mean_train_qerr; POSITIVE =
    new vectors quantize WORSE against the frozen codebooks — the
    retrain trigger PQ actually needs, since a drifted corpus degrades
    recall through reconstruction error long before the coarse
    assignment shifts).

    This IS ivfpq_append's arithmetic — the machinery test asserts the
    persisted-index path (ivfpq_build on the corpus half +
    ivfpq_append of the snapshot) returns exactly these rows, so the
    driver's oracle evidence covers the maintained-index code path.

    Scale shape: two zero-shuffle literal-argmax assignments + two
    narrow Arrow encode passes (integer argmin, qerr = the winning
    distance itself — no decode pass) + map-side-combinable per-cid
    sums; the only exchange anywhere carries K-cardinality rows. The
    snapshot never touches the standing codes — yesterday's 4-byte
    codes are never re-encoded, the dd_incremental story for the
    compressed index."""

    def stats_for(corpus: DataFrame, cents: DataFrame):
        books_q = quantize_books(
            pq_codebooks(
                _residuals(corpus.orderBy("vec_id").limit(PQ_KS), cents),
                emb_col="residual",
            )
        )
        return lambda df: _qerr_stats(
            pq_encode_qerr(_residuals(df, cents), books_q, emb_col="residual")
        )

    return _centroid_incremental(spark, sf_dir, IVFPQ, stats_for)


@query("sim_ivfpq_cadence", _cadence_oracle(IVFPQ, _ivfpq_incremental_oracle()))
def sim_ivfpq_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivf_cadence's qerr twin for the compressed family — the
    third and last retrain trigger's arithmetic as a driver-checkable
    surface: sim_ivfpq_incremental's drift report extended with the
    EXACT-integer mix expectation ivfpq_retrain_due compares against.
    Per cid, ``mix_exp_mu`` = the quantization-error sum this batch
    WOULD score if its members quantized like the cell's training
    members — (n_new * base_qerr_sum_mu) div n_base — and
    ``mix_gap_mu`` = the batch's actual qerr sum minus that
    expectation. Unlike the IVF cos yardstick the qerr sums are
    NON-NEGATIVE by construction (each summand is a winning squared
    distance), so the truncate-vs-floor division question is moot here
    and the degenerate negative-expectation branch the cos trigger
    guards (exp_sum <= 0) is unreachable; the engines
    still share div/truncate semantics if an envelope ever changes.
    Sum the gaps over the n_base > 0 cids and the POSITIVE sign is the
    mix-adjusted degradation ivfpq_retrain_due alarms on (higher qerr
    = the frozen codebooks fit the new vectors worse); n_base = 0
    marks the cells the trigger excludes and routes through
    ``unseen_frac``. Overflow envelope: |n_new * base_qerr_sum_mu| <=
    n_new * n_base * 1e6 per cell — the _drift_report cross-multiply
    bound, documented there.

    Scale shape: sim_ivfpq_incremental's plan (two zero-shuffle
    literal-argmax assignments + two narrow Arrow encode passes +
    map-side-combined per-cid sums; the only exchange carries
    K-cardinality rows) plus a K-row integer projection."""
    return _mix_cadence(sim_ivfpq_incremental(spark, sf_dir), IVFPQ)


def ivfpq_append(
    spark: SparkSession,
    index_dir: str,
    new_emb: DataFrame,
    batch_id: int,
    cents: DataFrame | None = None,
    books_q: np.ndarray | None = None,
    expect_epoch: int | None = None,
) -> DataFrame:
    """Append a NEW embedding snapshot to a persisted IVFPQ index
    WITHOUT retraining — ivf_append one level down: assign against the
    frozen centroids, encode residual PQ codes against the FROZEN
    persisted codebooks (integer argmin, pq_encode_qerr) and land the
    4-byte codes under ``<index>/code_appends`` partitioned by
    (bid, cid). Returns the per-cid code-space drift report vs the
    training-time quantization-error stats (POSITIVE drift_num_mu = new
    vectors quantize worse = the PQ retrain trigger). The append
    contract is _append's; ``cents`` and ``books_q`` take the frozen
    state a stream loaded once."""

    def encode(df: DataFrame) -> DataFrame:
        nonlocal cents, books_q
        if cents is None:
            cents = _frozen_cents(spark, index_dir)
        if books_q is None:
            books_q = _load_books_q(spark, index_dir)
        return pq_encode_qerr(
            _residuals(df, cents), books_q, emb_col="residual"
        ).select(F.col("vec_id").alias("cand_id"), "cid", "codes", "qerr")

    return _append(
        spark, IVFPQ, index_dir, new_emb, batch_id, encode, _qerr_stats,
        expect_epoch,
    )


def ivfpq_codes_with_appends(spark: SparkSession, index_dir: str) -> DataFrame:
    """The servable code table of an incrementally maintained IVFPQ
    index: build-time codes plus every appended snapshot's codes. Both
    sides are cid-partitioned on disk, so the serve-phase probe join
    still prunes to nprobe/K of the files. Feed the result straight
    into _ivfpq_serve (qerr is projected away — serving needs only the
    4-byte codes)."""
    return _with_appends(spark, IVFPQ, index_dir)


def ivfpq_compact(spark: SparkSession, index_dir: str) -> bool:
    """Fold appended code snapshots into the base ``codes`` table and
    clear ``code_appends`` — ivf_compact's crash ladder applied to the
    compressed index (shared core _compact_index: rename-aside-first,
    epoch-fence bump, append-only contract assertion, cand_id-dedup
    healing, monotonic two-rename publish). The training ``stats`` and
    ``codebooks`` are untouched: they are the frozen drift yardstick
    and the frozen quantizer. Returns False when nothing to fold.
    Operations runbook: MAINTENANCE.md."""
    return _compact_index(spark, IVFPQ, index_dir)


def ivfpq_retrain(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame,
    force: bool = False,
) -> bool:
    """Retrain the maintained IVFPQ index — the action its own drift
    report calls for (ivfpq_append's POSITIVE ``qerr_sum_mu`` drift =
    new vectors quantize worse against the frozen codebooks),
    completing the compressed family's lifecycle loop
    build → append → drift → RETRAIN.

    WHY THE EXACT CORPUS IS A PARAMETER (the one contract difference
    from ivf_retrain): an IVF index's lists ARE the exact vector store
    — cid-partitioned (vec_id, embedding) rows — so ivf_retrain refits
    from served state alone. The IVFPQ index exists to NOT be that:
    4-byte codes carry 32 bits of a 64-dim float vector, so no
    function of codes ∪ code_appends can refit a quantizer (decoding
    residuals reproduces points already on the old codebook grid —
    a refit over them is the old codebook selected by itself, zero new
    information). Exact retraining therefore needs exact vectors from
    OUTSIDE the index, and the honest contract is an explicit
    ``corpus`` argument: the (vec_id, embedding) rows the index
    serves, re-read ONCE per retrain. Appends stay cheap forever
    (assign + encode, never a corpus re-read); retrain is the rare
    heavyweight event, as in production ANN systems, where PQ
    retraining always re-reads training vectors. A WRONG corpus is the
    deadly input (silently dropping, inventing, or double-weighting
    vectors), so the fold runs _retrain_corpus_check before any write:
    one full-outer-join aggregate asserting id-set equality between
    ``corpus`` and the served codes ∪ pinned code_appends AND refusing
    duplicate or conflicting corpus rows (same vec_id twice — ivf
    retrain's fold-guard contract, enforced here on the caller's
    multiset) — corpus-scale but retrain-cadence.

    Everything refits: coarse centroids (portable_centroids on the
    corpus), residual codebooks (PQ_KS lowest vec_ids vs the NEW
    centroids), every code re-encoded, and the per-cid ``qerr_sum_mu``
    yardstick recomputed against the new space — so subsequent drift
    reports diff against the refreshed quantizer. The result is
    byte-equivalent to ivfpq_build on the same corpus BY CONSTRUCTION:
    the artifact writer is shared (_ivfpq_write_artifacts) and
    ivfpq_fit is deterministic from the vector set — asserted by the
    machinery test, exactly the ivf_retrain equivalence statement with
    the build one level down.

    Crash discipline is the shared _retrain_swap engine (ivf_retrain's
    ladder verbatim): recovery preamble (roll-forward / roll-back /
    impostor refusal / crashed-compact-leftover refusal), epoch bump
    before the fold, bid-pinned fold, full snapshot beside the index
    (one more artifact than IVF: codebooks join the atomic publish),
    pre-ready late-bid re-list, fsync'd ready stamp, two-rename
    publish, sweep. Quiesce/single-writer contract and the
    restart-AFRESH stream-twin rule are as for ivf_retrain (the
    default checkpoint lives inside the swapped-away dir; re-delivered
    batches re-encode bit-identically against the OLD books only if
    the old stream is drained first — after a retrain the frozen
    state changed, so a stale stream's cached centroids/books would
    append codes in the WRONG space: drain before, restart after).

    Returns False when there is nothing to do (no live code_appends
    and not ``force`` — pass force=True after a compact, which folds
    appends without refitting, exactly as for ivf_retrain). Operations
    runbook: MAINTENANCE.md."""

    def write_snapshot(tmp: str, fold_bids: list[int], epoch: int) -> None:
        served_ids = _pinned_served(
            spark, IVFPQ, index_dir, fold_bids, [F.col("cand_id").alias("vec_id")]
        )
        _retrain_corpus_check(
            corpus.select("vec_id", "embedding"),
            served_ids,
            "ivfpq_retrain",
            index_dir,
        )
        cents2, coded2, books_q2 = ivfpq_fit(
            corpus.select("vec_id", "embedding")
        )
        _ivfpq_write_artifacts(spark, tmp, cents2, coded2, books_q2)

    return _retrain_swap(spark, IVFPQ, index_dir, write_snapshot, force)


def _ivfpq_retrain_oracle() -> str:
    return f"""
WITH {_refit_sql()},
{_residual_sql("a2", "ax", "c2")},
{_pq_qerr_sql()}
SELECT CAST(yv.cid AS BIGINT) AS cid,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(yv.y) AS BIGINT) AS qerr_sum_mu,
       CAST(SUM(CAST(yv.cid <> old.old_cid AS INTEGER)) AS BIGINT) AS n_moved
FROM yv JOIN old USING (vec_id)
GROUP BY yv.cid
"""


# The oracle replays the monolithic IVFPQ train on the union, so the
# driver check
# proves retrain-with-the-exact-corpus equals train-from-scratch — the
# compressed-family analog of sim_ivf_retrain's retrain-exactness.
@query("sim_ivfpq_retrain", _ivfpq_retrain_oracle())
def sim_ivfpq_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRAIN closing the maintained-IVFPQ loop — the action a
    positive qerr drift report (sim_ivfpq_incremental) calls for:
    refit the coarse centroids AND the residual codebooks on the full
    corpus (standing half ∪ snapshot half — the exact corpus
    ivfpq_retrain's contract requires, since 4-byte codes cannot
    train a quantizer), re-encode every vector, and report the
    refreshed code space.

    Output per NEW cid: member count, the refreshed integer
    quantization-error sum (the yardstick subsequent drift reports
    diff against), and ``n_moved`` — members whose pre-retrain coarse
    label (assignment into the STANDING centroids, i.e. their
    codes/code_appends cid) differs from their new label. n_moved
    keeps the standing-space assignment load-bearing in the plan, the
    same column-pruning insurance sim_ivf_retrain carries.

    This IS ivfpq_retrain's arithmetic — the machinery test asserts
    the persisted path (ivfpq_build on the standing half +
    ivfpq_append of the snapshot + ivfpq_retrain on the union) serves
    an index whose stats table equals these (cid, n, qerr_sum_mu)
    rows, with the codes byte-equivalent to a fresh build on the
    union.

    Scale shape: two Lloyd trains + three zero-shuffle literal-argmax
    assignments + two narrow Arrow encode passes; every exchange
    carries K-cardinality rows except the (cid, pos) cell sums.

    Restructured (guide §2.4, remove a pass outright): the served
    union's ROW SET is the whole base table (vec_id % 2 = 0 ∪ % 2 = 1
    partitions it exactly), so the refit trains on the raw
    (vec_id, embedding) projection directly — bit-identical input rows,
    and ivfpq_fit is a pure function of the vector set — and the
    old-label side collapses from two filtered assignments unioned +
    localCheckpointed into ONE whole-table argmax pass.  That pass
    embeds c1 as a plan literal, so nothing of it is a separate job: it
    fuses into the final join's job, and the union checkpoint's
    dedicated materialization job (which re-ran both assignments) is
    gone.  The maintained ivfpq_retrain keeps serving from real
    codes ∪ code_appends state — this query-surface restructure proves
    the same arithmetic against the same oracle with one fewer corpus
    materialization (A/B + oracle parity at sf0.1/0.01/0.001).

    The two chains that remain — c1's standing-half Lloyd train (the
    old-label yardstick) and ivfpq_fit's union train — share no state
    until the final join, so their driver-paced build jobs (seed
    TakeOrdereds, the two Lloyd aggregations, the codebook slice) are
    submitted from a two-thread pool (guide §2.6, overlap independent
    jobs): each thread only BUILDS its DataFrame (the collects inside
    ivf_assign/pq_codebooks are the blocking parts), both are joined
    before this function returns, and the result is deterministic —
    thread scheduling can reorder the jobs, never the values.
    Interleaved in-JVM A/B (sf0.1, 5 reps each): serial restructure
    min 4.489 s vs pooled min 3.077 s on the same draws."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    emb = load_table(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") % 2 == 0)

    def _old_labels() -> DataFrame:
        c1 = portable_centroids(standing)
        return ivf_assign(emb, c1, round_digits=6).select(
            "vec_id", F.col("cid").alias("old_cid")
        )

    def _union_fit():
        # ivfpq_fit IS the union train — the same function ivfpq_build
        # and ivfpq_retrain persist through, so this oracle surface can
        # never drift from the maintained path by copy (the
        # _ivfpq_write_artifacts lesson applied to the query side too)
        return ivfpq_fit(emb.select("vec_id", "embedding"))

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_old = pool.submit(inheritable_thread_target(_old_labels))
        f_fit = pool.submit(inheritable_thread_target(_union_fit))
        old = f_old.result()
        _c2, coded2, _books_q2 = f_fit.result()
    return (
        coded2.select(
            F.col("cand_id").alias("vec_id"),
            F.col("cid").cast("bigint").alias("cid"),
            "qerr",
        )
        .join(old, "vec_id")
        .groupBy("cid")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum(F.expr("qerr DIV 1000000")).cast("bigint").alias(
                "qerr_sum_mu"
            ),
            F.sum((F.col("old_cid") != F.col("cid")).cast("int"))
            .cast("bigint")
            .alias("n_moved"),
        )
    )


def run_incremental_ivfpq_stream(
    spark: SparkSession,
    index_dir: str,
    source: DataFrame,
    timeout_s: int = 300,
    checkpoint_dir: str | None = None,
):
    """Streaming twin of ivfpq_append (_open_append_stream's contract),
    with the frozen centroids and codebooks loaded once per stream."""
    def frozen() -> dict:
        return {
            "cents": _frozen_cents(spark, index_dir),
            "books_q": _load_books_q(spark, index_dir),
        }

    return _open_append_stream(
        spark, IVFPQ, index_dir, source, timeout_s, checkpoint_dir, ivfpq_append,
        frozen,
    )


@query(
    "sim_filtered_topk",
    f"""
WITH en_docs AS (SELECT doc_id FROM documents WHERE lang = 'en'),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         ROUND({_COS_SQL}, 6) AS cos_sim
  FROM embeddings q
  JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
    AND c.vec_id IN (SELECT doc_id FROM en_docs)
)
SELECT * FROM (
  SELECT query_id, cand_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
""",
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: top-k cosine restricted to candidates
    whose document metadata matches a predicate (lang = 'en') — the
    join-then-search composition every retrieval pipeline needs.
    The metadata filter is a broadcast semi-join applied BEFORE scoring
    (pre-filtering: at 100 TB the predicate prunes the candidate scan;
    post-filtering a top-k would under-fill k)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en").select(F.col("doc_id").alias("vec_id"))
    cand_pool = emb.join(F.broadcast(en), "vec_id", "semi")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = cand_pool.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            # cosine_arrow: bit-identical doubles to the HOF fold (guide
            # §4.2); ROUND + the top-k tie surface stay JVM-side
            F.round(cosine_arrow(F.col("q_emb"), F.col("c_emb")), 6).alias("cos_sim"),
        )
    )
    return per_query_topk(scored)


@query(
    "sim_quantize_int8",
    """
WITH s AS (
  SELECT vec_id,
         GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0,
                  1e-12) AS scale
  FROM embeddings
)
SELECT e.vec_id,
       CAST(ROUND(s.scale * 1000000000) AS BIGINT) AS scale_nanos,
       array_to_string(list_transform(CAST(e.embedding AS DOUBLE[]),
                       x -> CAST(FLOOR(x / s.scale + 0.5) AS INT)), ',') AS qvec,
       CAST(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]),
                     x -> abs(CAST(FLOOR(x / s.scale + 0.5) AS INT)))) AS BIGINT) AS l1
FROM embeddings e JOIN s ON e.vec_id = s.vec_id
""",
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (scale = max|x|/127):
    4x storage reduction for the 100 TB vector corpus; a narrow
    projection, no shuffle. Rounding is floor(y + 0.5) — identical in
    every IEEE engine, unlike ROUND's engine-specific tie rules. The
    quantized vector is projected as a comma-joined string + L1
    checksum for the hash check (array-typed output columns have no
    established cross-engine hash representation)."""
    emb = load_table(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # materialize scale as a COLUMN first: referenced inside the
    # transform lambda as an expression it re-evaluates the array_max
    # per ELEMENT (O(d^2) per row — measured 4x slower)
    staged = emb.select(
        "vec_id",
        xd.alias("xd"),
        F.greatest(
            F.array_max(F.transform(xd, F.abs)) / F.lit(127.0), F.lit(1e-12)
        ).alias("scale"),
    )
    q = F.transform(F.col("xd"), lambda x: F.floor(x / F.col("scale") + 0.5).cast("int"))
    return staged.select(
        "vec_id",
        F.round(F.col("scale") * 1_000_000_000).cast("bigint").alias("scale_nanos"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("qvec"),
        F.aggregate(
            q, F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)
        ).alias("l1"),
    )


KNN_K = 10  # neighbors per vote


@query(
    "sim_knn_label",
    f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS cand_id, c.label AS cand_label,
         ROUND({_COS_SQL}, 6) AS cos_sim
  FROM embeddings q JOIN embeddings c ON c.vec_id >= {N_QUERIES}
  WHERE q.vec_id < {N_QUERIES}
),
knn AS (
  SELECT * FROM (
    SELECT query_id, true_label, cand_label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, cand_id) AS rank
    FROM scored
  ) WHERE rank <= {KNN_K}
),
votes AS (
  SELECT query_id, true_label, cand_label AS pred_label,
         COUNT(*) AS n_votes
  FROM knn GROUP BY query_id, true_label, cand_label
)
SELECT query_id, true_label, pred_label, n_votes FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY n_votes DESC, pred_label) AS r
  FROM votes
) WHERE r = 1
""",
)
def sim_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation: predict each query vector's label as the
    majority label of its KNN_K nearest labeled neighbors (the
    embedding-space auto-labeling / quality-classifier-transfer step of
    a training-data pipeline; `label` is the labeled corpus).

    Scale shape mirrors sim_topk_bruteforce: the query set broadcasts,
    candidates never shuffle for scoring; the vote is a per-(query,
    label) count (map-side combinable over at most KNN_K rows per
    query) and a max_by over that tiny table. Ties: highest vote count,
    then smallest label — deterministic in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("c_emb"),
    )
    scored = F.broadcast(q).join(c, how="cross").select(
        "query_id",
        "true_label",
        "cand_id",
        "cand_label",
        # A/B: cosine_arrow measured +0.13 s (25k pairs — under the
        # Arrow break-even; the codegen'd cross join wins). HOF kept.
        F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cos_sim"),
    )
    knn = per_query_topk(scored, KNN_K)
    votes = knn.groupBy("query_id", "true_label", F.col("cand_label").alias("pred_label")).agg(
        F.count("*").alias("n_votes")
    )
    return votes.groupBy("query_id", "true_label").agg(
        F.max_by(
            F.struct(F.col("pred_label"), F.col("n_votes")),
            F.struct(F.col("n_votes").alias("n"), (-F.col("pred_label")).alias("neg")),
        ).alias("best")
    ).select(
        "query_id",
        "true_label",
        F.col("best.pred_label").alias("pred_label"),
        F.col("best.n_votes").alias("n_votes"),
    )


# --- retrieval composition: chunk -> featurize -> top-k ---------------------

RETRIEVAL_K = 5
RETRIEVAL_N_Q = 5
_CHUNK_LEN = 200
_CHUNK_STRIDE = 150

# Catalyst-expressible sliding-window chunking (same formula as the
# udtf_chunks oracle): n_chunks = ceil(max(len - overlap, 1) / stride)
_CHUNKS_EXPR = (
    "transform(sequence(0, CAST(ceil(greatest(length(text) - "
    f"{_CHUNK_LEN - _CHUNK_STRIDE}, 1) / {_CHUNK_STRIDE}.0) AS INT) - 1), "
    f"i -> substring(text, 1 + i * {_CHUNK_STRIDE}, {_CHUNK_LEN}))"
)


@query(
    "sim_chunk_retrieval",
    f"""
WITH chunks AS (
  SELECT doc_id,
         UNNEST(range(0, CAST(ceil(greatest(length(text) - {_CHUNK_LEN - _CHUNK_STRIDE}, 1)
                                   / {_CHUNK_STRIDE}.0) AS BIGINT))) AS chunk_no,
         UNNEST(list_transform(
           range(0, CAST(ceil(greatest(length(text) - {_CHUNK_LEN - _CHUNK_STRIDE}, 1)
                              / {_CHUNK_STRIDE}.0) AS BIGINT)),
           i -> substr(text, CAST(1 + i * {_CHUNK_STRIDE} AS BIGINT), {_CHUNK_LEN})))
           AS chunk
  FROM documents
),
hist AS (
  SELECT doc_id, chunk_no,
         list_transform(range(0, 26),
           i -> CAST(length(lower(chunk))
                     - length(replace(lower(chunk), chr(CAST(97 + i AS INT)), ''))
                     AS BIGINT)) AS h
  FROM chunks
),
q AS (
  SELECT doc_id AS query_doc, h AS qh FROM hist
  WHERE doc_id < {RETRIEVAL_N_Q} AND chunk_no = 0
),
scored AS (
  SELECT q.query_doc, c.doc_id AS cand_doc, c.chunk_no AS cand_chunk,
         CAST(list_dot_product(q.qh, c.h) AS BIGINT) AS dot
  FROM q JOIN hist c ON NOT (c.doc_id = q.query_doc AND c.chunk_no = 0)
)
SELECT * FROM (
  SELECT query_doc, cand_doc, cand_chunk, dot,
         ROW_NUMBER() OVER (PARTITION BY query_doc
                            ORDER BY dot DESC, cand_doc, cand_chunk) AS rank
  FROM scored
) WHERE rank <= {RETRIEVAL_K}
""",
)
def sim_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval composition: sliding-window chunking (pure
    Catalyst sequence/transform/posexplode), a letter-frequency feature
    vector per chunk (26-dim integer counts — exact and portable, a
    stand-in for the model encoder), broadcast query set, exact integer
    dot-product top-k. The whole pipeline is one narrow projection over
    the corpus plus a broadcast join and a per-query window — the
    candidate side never shuffles, matching sim_topk_bruteforce's scale
    shape with the chunker fused into the scan."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id", F.posexplode(F.expr(_CHUNKS_EXPR)).alias("chunk_no", "chunk")
    ).select("doc_id", F.col("chunk_no").cast("bigint").alias("chunk_no"), "chunk")
    # stage lower(chunk) as a real column: the 26 lambda bodies are NOT
    # common-subexpression-eliminated across a lambda boundary
    hist = chunks.withColumn("ch", F.lower(F.col("chunk"))).select(
        "doc_id",
        "chunk_no",
        F.expr(
            "transform(sequence(0, 25), i -> CAST(length(ch) "
            "- length(replace(ch, chr(97 + i), '')) AS BIGINT))"
        ).alias("h"),
    )
    q = hist.filter(
        (F.col("doc_id") < RETRIEVAL_N_Q) & (F.col("chunk_no") == 0)
    ).select(F.col("doc_id").alias("query_doc"), F.col("h").alias("qh"))
    scored = (
        F.broadcast(q)
        .join(
            hist.select(
                F.col("doc_id").alias("cand_doc"),
                F.col("chunk_no").alias("cand_chunk"),
                "h",
            ),
            how="cross",
        )
        .filter(
            ~((F.col("cand_doc") == F.col("query_doc")) & (F.col("cand_chunk") == 0))
        )
        .select(
            "query_doc",
            "cand_doc",
            "cand_chunk",
            F.aggregate(
                F.zip_with(F.col("qh"), F.col("h"), lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("query_doc").orderBy(
        F.desc("dot"), F.asc("cand_doc"), F.asc("cand_chunk")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= RETRIEVAL_K
    )


# --- hybrid lexical + vector retrieval (reciprocal-rank fusion) ------------

RRF_K = 60  # standard RRF dampening constant (Cormack et al. 2009)


def _hybrid_oracle() -> str:
    from ..plans.text_queries import _BM25_RANKED_SQL, BM25_QUERIES

    n_q = len(BM25_QUERIES)
    return f"""
WITH {_BM25_RANKED_SQL},
vec_ranked AS (
  SELECT query_id, cand_id AS doc_id, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({_COS_SQL}, 6) DESC, c.vec_id
           ) AS BIGINT) AS rank
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {n_q}
  ) WHERE rank <= {TOP_K}
),
fused AS (
  SELECT COALESCE(t.query_id, v.query_id) AS query_id,
         COALESCE(t.doc_id, v.doc_id) AS doc_id,
         CAST(COALESCE(1000000 // ({RRF_K} + t.rank), 0)
            + COALESCE(1000000 // ({RRF_K} + v.rank), 0) AS BIGINT) AS rrf_mu,
         t.rank IS NOT NULL AS in_text,
         v.rank IS NOT NULL AS in_vec
  FROM bm25_ranked t
  FULL OUTER JOIN vec_ranked v
    ON t.query_id = v.query_id AND t.doc_id = v.doc_id
)
SELECT query_id, doc_id, rrf_mu, in_text, in_vec,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY rrf_mu DESC, doc_id
       ) AS BIGINT) AS fused_rank
FROM fused
QUALIFY fused_rank <= {TOP_K}
"""


@query("sim_hybrid_rrf", _hybrid_oracle())
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse BM25 lexical ranks (plans/text_queries.py
    tx_bm25) with brute-force cosine ranks over the aligned embedding
    table via reciprocal-rank fusion, rrf = sum 1e6 // (60 + rank) in
    integer micro-units (Cormack et al. 2009). The standard first stage
    of a RAG / hard-negative-mining pipeline: lexical catches exact
    term overlap that embeddings smooth over, and vice versa.

    Scale shape: both inputs are already top-k tables (k rows per
    query), so the fusion join + final window touch O(queries x k)
    rows — negligible next to the upstream retrieval ops, which carry
    their own 100 TB stories (tx_bm25: broadcast-pruned tf; cosine:
    broadcast queries, partitioned candidates). doc_id == vec_id is the
    documents-embeddings alignment (TESTDATA.md)."""
    from ..plans.text_queries import BM25_QUERIES, tx_bm25

    n_q = len(BM25_QUERIES)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("c_emb"))
    w_vec = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("doc_id")
    )
    vec_ranked = (
        F.broadcast(q)
        .join(c, F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            # A/B: cosine_arrow measured +0.25 s min-of-two (25k
            # pairs, same break-even physics as sim_knn_label). HOF kept.
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w_vec).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "doc_id", F.col("rank").alias("rank_v"))
    )
    text_ranked = tx_bm25(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("rank_t")
    )
    fused = text_ranked.join(
        vec_ranked, ["query_id", "doc_id"], "full_outer"
    ).select(
        "query_id",
        "doc_id",
        (
            F.coalesce(
                F.expr(f"1000000 DIV ({RRF_K} + rank_t)"), F.lit(0)
            )
            + F.coalesce(F.expr(f"1000000 DIV ({RRF_K} + rank_v)"), F.lit(0))
        )
        .cast("bigint")
        .alias("rrf_mu"),
        F.col("rank_t").isNotNull().alias("in_text"),
        F.col("rank_v").isNotNull().alias("in_vec"),
    )
    w_fused = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_mu"), F.asc("doc_id")
    )
    return fused.withColumn(
        "fused_rank", F.row_number().over(w_fused).cast("bigint")
    ).filter(F.col("fused_rank") <= TOP_K)


# --- cluster-balanced diversity sampling ------------------------------------

CS_K = 16  # clusters (scale as ~n/target_cluster_size, like SemDedup)
CS_PER_CLUSTER = 8  # sample size per cluster


def _sim_cluster_sample_oracle() -> str:
    cos_vs = _COS_SQL.replace("q.", "v.").replace("c.", "s.")
    return f"""
WITH seeds AS (
  SELECT vec_id AS cid, embedding FROM embeddings ORDER BY vec_id LIMIT {CS_K}
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND({cos_vs}, 6) DESC, s.cid
           ) AS rn
    FROM embeddings v CROSS JOIN seeds s
  ) WHERE rn = 1
),
scored AS (
  SELECT a.vec_id, a.cid, ROUND({cos_vs}, 6) AS c
  FROM assigned a
  JOIN embeddings v ON v.vec_id = a.vec_id
  JOIN seeds s ON s.cid = a.cid
)
SELECT vec_id, cid,
       CAST(ROUND(c * 1000000) AS BIGINT) AS cos_micros,
       CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT vec_id, cid, c,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY c ASC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= {CS_PER_CLUSTER}
"""


@query("sim_cluster_sample", _sim_cluster_sample_oracle())
def sim_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sample: assign every vector to its
    nearest of CS_K deterministic seed centroids, then keep each
    cluster's CS_PER_CLUSTER LEAST prototypical members (lowest cosine
    to the centroid — the cluster-edge examples that data-pruning work
    such as Sorscher et al. 2022 shows matter most at scale; flip the
    sort for prototype selection). Balanced-per-cluster selection is
    the standard guard against a global score cut collapsing onto one
    dense region of embedding space.

    Scale: assignment is the zero-shuffle literal-argmax projection
    (ivf_assign); centroid re-scoring is a broadcast hash join (K rows);
    the ONLY exchange is the per-cid top-m window, which moves each
    vector once and sorts clusters of ~n/K rows — pick CS_K ~ n/1000 at
    100 TB and the per-reducer work stays bounded regardless of corpus
    size. The rounded-to-6 cosine is the oracle's exact tie surface, so
    ranks are engine-portable."""
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint: CS_K tiny rows consumed twice (ivf_assign's
    # literal collect + the broadcast join) — otherwise the corpus
    # TakeOrdered scan behind the seeds runs twice per call
    seeds = (
        emb.orderBy("vec_id")
        .limit(CS_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb"))
        .transform(local_checkpoint, eager=False)
    )
    assigned = ivf_assign(emb, seeds, round_digits=6)
    scored = assigned.join(F.broadcast(seeds), "cid").select(
        "vec_id",
        "cid",
        # A/B (in-JVM interleaved): cosine_arrow tied exactly here
        # (0.520 vs 0.518 s min — n x 1 rescore, break-even volume);
        # HOF kept to spare the plan a Python boundary it doesn't repay
        F.round(cosine(F.col("embedding"), F.col("c_emb")), 6).alias("c"),
    )
    w = Window.partitionBy("cid").orderBy(F.asc("c"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= CS_PER_CLUSTER)
        .select(
            "vec_id",
            "cid",
            F.round(F.col("c") * 1_000_000).cast("bigint").alias("cos_micros"),
            "rank",
        )
    )


# --- maximal marginal relevance (diversified top-k) -------------------------

MMR_M = 30  # relevance shortlist per query (constant, independent of corpus)
MMR_K = 10  # final diversified picks per query
# lambda = 0.7 scaled by 10 so the MMR objective is pure integer
# arithmetic: score = 7 * rel_mu - 3 * max_sim_mu  (micro-unit cosines)
_MMR_REL_W = 7
_MMR_DIV_W = 3


def _mmr_oracle() -> str:
    cos_ab = _COS_SQL.replace("q.", "ea.").replace("c.", "eb.")
    return f"""
WITH RECURSIVE scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(ROUND(ROUND({_COS_SQL}, 6) * 1000000) AS BIGINT) AS rel_mu
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
shortlist AS (
  SELECT query_id, cand_id, rel_mu FROM (
    SELECT query_id, cand_id, rel_mu,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel_mu DESC, cand_id) AS rn
    FROM scored
  ) WHERE rn <= {MMR_M}
),
pairs AS (
  SELECT s1.query_id, s1.cand_id AS a, s2.cand_id AS b,
         CAST(ROUND(ROUND({cos_ab}, 6) * 1000000) AS BIGINT) AS sim_mu
  FROM shortlist s1
  JOIN shortlist s2 ON s1.query_id = s2.query_id AND s1.cand_id <> s2.cand_id
  JOIN embeddings ea ON ea.vec_id = s1.cand_id
  JOIN embeddings eb ON eb.vec_id = s2.cand_id
),
sel AS (
  SELECT query_id, 1 AS pick_rank, cand_id,
         {_MMR_REL_W} * rel_mu AS mmr_score, [cand_id] AS picked
  FROM (
    SELECT query_id, cand_id, rel_mu,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel_mu DESC, cand_id) AS rn
    FROM shortlist
  ) WHERE rn = 1
  UNION ALL
  SELECT s.query_id, s.pick_rank + 1, c.cand_id, c.score,
         list_append(s.picked, c.cand_id)
  FROM sel s, LATERAL (
    SELECT t.cand_id AS cand_id,
           {_MMR_REL_W} * t.rel_mu
             - {_MMR_DIV_W} * (SELECT MAX(p.sim_mu) FROM pairs p
                               WHERE p.query_id = s.query_id
                                 AND p.a = t.cand_id
                                 AND list_contains(s.picked, p.b)) AS score
    FROM shortlist t
    WHERE t.query_id = s.query_id
      AND NOT list_contains(s.picked, t.cand_id)
    ORDER BY score DESC, t.cand_id
    LIMIT 1
  ) c
  WHERE s.pick_rank < {MMR_K}
)
SELECT query_id, pick_rank, cand_id, mmr_score FROM sel
"""


@query("sim_mmr_topk", _mmr_oracle())
def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): from each query's MMR_M-deep relevance shortlist,
    greedily pick MMR_K results maximizing
    7*rel - 3*max_sim_to_already_picked (lambda=0.7 in integer
    micro-units) — the standard redundancy-suppressing re-rank for RAG
    context assembly and diverse hard-negative mining.

    Exactly oracle-checkable: cosines use the proven ROUND(.,6)
    sequential-sum surface, then everything downstream is integer
    arithmetic with (score DESC, cand_id) tie-breaks, mirrored by a
    DuckDB recursive CTE + LATERAL argmax.

    Scale shape: the shortlist is sim_topk_bruteforce's plan (broadcast
    queries, candidates never shuffle, per-query top-M window); the
    pairwise-sim self-join and the greedy selection touch only
    O(queries x MMR_M^2) rows — constant per query, independent of
    corpus size. Selection runs as ONE Arrow-batched cogrouped
    applyInPandas per query_id (a bounded MMR_M x MMR_M dense problem
    per group — the per-partition imperative case pandas UDFs exist
    for); queries fan out across executors."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"))
    # cosine_arrow: bit-identical doubles; ROUND stays JVM-side
    rel_mu = F.round(F.round(cosine_arrow(F.col("q_emb"), F.col("c_emb")), 6) * 1_000_000)
    scored = (
        F.broadcast(q)
        .join(c, F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", rel_mu.cast("bigint").alias("rel_mu"), "c_emb")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel_mu"), F.asc("cand_id"))
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MMR_M)
        .select("query_id", "cand_id", "rel_mu", "c_emb")
    )
    s1 = shortlist.alias("s1")
    s2 = shortlist.alias("s2")
    pair_mu = F.round(
        F.round(cosine_arrow(F.col("s1.c_emb"), F.col("s2.c_emb")), 6) * 1_000_000
    )
    pairs = s1.join(
        s2,
        (F.col("s1.query_id") == F.col("s2.query_id"))
        & (F.col("s1.cand_id") != F.col("s2.cand_id")),
    ).select(
        F.col("s1.query_id").alias("query_id"),
        F.col("s1.cand_id").alias("a"),
        F.col("s2.cand_id").alias("b"),
        pair_mu.cast("bigint").alias("sim_mu"),
    )

    def mmr_select(sl: pd.DataFrame, pr: pd.DataFrame) -> pd.DataFrame:
        if sl.empty:
            return pd.DataFrame(
                columns=["query_id", "pick_rank", "cand_id", "mmr_score"]
            )
        qid = int(sl["query_id"].iloc[0])
        rel = {int(r.cand_id): int(r.rel_mu) for r in sl.itertuples()}
        sim = {(int(r.a), int(r.b)): int(r.sim_mu) for r in pr.itertuples()}
        picked: list[int] = []
        out = []
        first = min(rel.items(), key=lambda kv: (-kv[1], kv[0]))
        picked.append(first[0])
        out.append((qid, 1, first[0], _MMR_REL_W * first[1]))
        while len(picked) < min(MMR_K, len(rel)):
            best = None
            for cand, r in rel.items():
                if cand in picked:
                    continue
                max_sim = max(sim[(cand, s)] for s in picked)
                score = _MMR_REL_W * r - _MMR_DIV_W * max_sim
                key = (-score, cand)
                if best is None or key < best[0]:
                    best = (key, cand, score)
            picked.append(best[1])
            out.append((qid, len(picked), best[1], best[2]))
        return pd.DataFrame(
            out, columns=["query_id", "pick_rank", "cand_id", "mmr_score"]
        )

    sl_in = shortlist.select("query_id", "cand_id", "rel_mu")
    return (
        sl_in.groupBy("query_id")
        .cogroup(pairs.groupBy("query_id"))
        .applyInPandas(
            mmr_select,
            "query_id bigint, pick_rank int, cand_id bigint, mmr_score bigint",
        )
    )


# --- k-center greedy coreset (farthest-point sampling) ----------------------

KCENTER_K = 8


def _kcenter_oracle() -> str:
    cos_tc = _COS_SQL.replace("q.", "t.")
    return f"""
WITH RECURSIVE sel AS (
  SELECT 1 AS pick_rank,
         (SELECT MIN(vec_id) FROM embeddings) AS vec_id,
         CAST(NULL AS BIGINT) AS maxsim_mu,
         [(SELECT MIN(vec_id) FROM embeddings)] AS picked
  UNION ALL
  SELECT s.pick_rank + 1, nxt.vec_id, nxt.ms, list_append(s.picked, nxt.vec_id)
  FROM sel s, LATERAL (
    SELECT t.vec_id,
           (SELECT MAX(CAST(ROUND(ROUND({cos_tc}, 6) * 1000000) AS BIGINT))
            FROM embeddings c WHERE list_contains(s.picked, c.vec_id)) AS ms
    FROM embeddings t
    WHERE NOT list_contains(s.picked, t.vec_id)
    ORDER BY ms ASC, t.vec_id
    LIMIT 1
  ) nxt
  WHERE s.pick_rank < {KCENTER_K}
)
SELECT pick_rank, vec_id, maxsim_mu FROM sel
"""


@query("sim_kcenter", _kcenter_oracle())
def sim_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-center greedy / farthest-point sampling (the 2-approximation
    behind coreset selection for active learning and data pruning,
    Sener & Savarese 2018): start from the lowest vec_id, then K-1
    times pick the point LEAST similar to its nearest already-picked
    center (argmin of running max-cosine, vec_id tiebreak) — maximal
    coverage of embedding space with K exemplars.

    Exactly oracle-checkable: micro-unit cosines on the proven
    ROUND(.,6) surface; the greedy argmin is mirrored by a recursive
    CTE + LATERAL. maxsim_mu is NULL for the seed pick, then the
    selection-time coverage radius (in cosine micro-units) per pick.

    Scale shape: per iteration ONE narrow codegen'd projection updates
    the running max-sim against the single new center (a literal
    64-float array — no join, no shuffle), and the argmin is a
    TakeOrdered(1) reduce; localCheckpoint(eager) truncates lineage so
    K iterations stay K scans, not O(K^2). Driver state is one
    embedding per iteration — constant-size, same discipline as the
    k-means/IVF training collects."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed_rows = emb.orderBy("vec_id").limit(1).collect()
    if not seed_rows:  # empty corpus: no picks, same as the oracle's CTE
        return spark.createDataFrame(
            [], "pick_rank int, vec_id bigint, maxsim_mu bigint"
        )
    first = seed_rows[0]
    picks: list[tuple] = [(1, int(first.vec_id), None)]
    center = [float(x) for x in first.embedding]
    state = emb.filter(F.col("vec_id") != int(first.vec_id)).withColumn(
        "maxsim_mu", F.lit(None).cast("bigint")
    )
    for r in range(2, KCENTER_K + 1):
        # ONE parsed SQL literal, not 64 F.lit() py4j round trips per
        # iteration (the ivf_assign literal discipline); repr() round-
        # trips doubles exactly, D marks a DOUBLE literal
        c_lit = F.expr(
            "array({})".format(", ".join(f"{float(v)!r}D" for v in center))
        )
        sim = (
            F.round(
                F.round(cosine_arrow(F.col("embedding"), c_lit), 6) * 1_000_000
            ).cast("bigint")
        )
        state = state.withColumn(
            "maxsim_mu",
            F.when(F.col("maxsim_mu").isNull(), sim).otherwise(
                F.greatest(F.col("maxsim_mu"), sim)
            ),
        ).transform(local_checkpoint, eager=False)
        rows = state.orderBy(F.asc("maxsim_mu"), F.asc("vec_id")).limit(1).collect()
        if not rows:  # n < K: every point is already a center — stop,
            break  # exactly where the oracle's recursive CTE stops
        nxt = rows[0]
        picks.append((r, int(nxt.vec_id), int(nxt.maxsim_mu)))
        center = [float(x) for x in nxt.embedding]
        state = state.filter(F.col("vec_id") != int(nxt.vec_id))
    return spark.createDataFrame(
        picks, "pick_rank int, vec_id bigint, maxsim_mu bigint"
    )
