#!/usr/bin/env python
"""Scale probe: how do the heaviest headline queries scale from sf0.1
to a synthesized 10x corpus (sf1-equivalent)?

The driver ships fixtures up to sf0.1; the engine's claim is 100 TB
viability, so this tool measures the next decade directly. It
synthesizes a 10x corpus from the sf0.1 parquet deterministically —
never touching /root/testdata — runs each probe query at both scales
(min of two noop-sunk executions, mirroring bench.py), and reports the
wall-time scaling exponent  e = log(t_10x / t_1x) / log(10).  e <= ~1
means the plan scales linearly or better; e >> 1 flags a plan whose
cost curve would sink a real scale-up and earns a fix next round.

Synthesis model (10 shards, replica r = 0..9):
- documents: replica 0 is the fixture; replica r>0 suffixes EVERY
  token with "~" + two letters keyed by (token, replica) — shingle
  sets disjoint across replicas up to negligible crc collisions, and
  byte-level media fingerprints decorrelate on both axes (v6, see
  _replica_suffix) — the 10x corpus behaves like 10 unrelated shards,
  each carrying the original intra-shard duplicate structure (the
  natural shape of a 10x crawl, and the honest one for dedup AND
  media probes). doc_id offsets by r * stride.
- embeddings: replica r rotates each vector's components by r
  positions. Rotation preserves norms and all within-replica pairwise
  dots exactly (each shard has identical neighbor structure) while
  cross-replica cosines are decorrelated — again 10 independent
  shards. vec_id offsets keep the N_QUERIES probe queries (lowest
  vec_ids) in replica 0: the query set stays FIXED while the corpus
  scales, which is the real ANN serving shape.
- lineitem: 10 plain unions (q01 is a scan-agg; row count is all
  that matters).

Usage:  python tools/scale_probe.py [--mult 10] [--out SCALEPROBE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

BASE_SF_DIR = "/root/testdata/sf0.1"

def _replica_suffix(col, r: int):
    """v6 replica transform: suffix every whitespace token with "~" +
    TWO LETTERS keyed by crc32 of (base token, replica) — replacing
    v3's "~r".  Chosen by MEASURED fingerprint prototyping over three
    candidate transforms (offline numpy, 3-replica corpus, qualifying
    pairs at Hamming <= 4 split within/cross replica):

      v3  "~r" suffix            within  2,895  cross 5,283
      v5  token-keyed scramble   within 557,298 cross     0
      v6  (token, r)-keyed "~xy" within  2,349  cross     1

    Why each failed/works: phash bits reference the CORPUS-wide bigram
    share, so (a) v3's replica-constant 2-3 byte suffix leaves same-
    base-doc fingerprints near-identical across replicas (~mult^2
    cross pairs, the r9 718x artifact), while (b) any transform that
    renders a replica's HIGH-TF token mass into replica-specific bins
    (v5's scramble; equally a replica-keyed letter map, measured
    297 -> 12M within pairs at 10x) hands every doc in the replica one
    shared signature relative to the flattened corpus mean, freezing
    the per-doc bits.  Keying the suffix by (token, replica) spreads
    each replica's suffix mass over many letter-letter bins with no
    concentrated replica signature (aggregate suffix distribution ~
    uniform in every replica), yet same-base docs differ across
    replicas in EVERY token's suffix bins — the independent-shards
    shape on both axes.

    Text-workload preservation: equal tokens within a replica suffix
    identically (tf/df/shingle/near-dup structure exact); token and
    doc lengths shift by one constant char vs v3.  Cross-replica
    token disjointness becomes probabilistic instead of guaranteed:
    a base token type collides between two replicas w.p. 1/676, so
    ~0.15% of types per replica pair share a surface form — a shared
    SHINGLE needs n adjacent colliding types ((1/676)^3 per type
    triple, ~0.1 expected shared shingles corpus-wide), so dedup pair
    structure is untouched (dd_minhash_lsh re-measured e = -0.07 at
    10x under the new corpus, confirming prior text entries hold)."""
    import zlib

    import pyspark.sql.functions as F

    lower = "abcdefghijklmnopqrstuvwxyz"

    @F.pandas_udf("string")
    def suffix(texts: pd.Series) -> pd.Series:
        def tx(t: str) -> str:
            out = []
            for tok in t.split(" "):
                h = zlib.crc32(f"{tok}|{r}".encode())
                out.append(f"{tok}~{lower[h % 26]}{lower[(h // 26) % 26]}")
            return " ".join(out)

        return texts.map(tx)

    return suffix(col)


def scaled_dir(mult: int) -> str:
    # mult=10 keeps its legacy path so an existing synthesis is reused
    return "/tmp/spark_graft_scale/sf1" if mult == 10 else f"/tmp/spark_graft_scale/x{mult}"

# The heaviest bench queries (BENCH_r04 top-5) + q01 as the known-linear
# scan-agg control.
PROBES = [
    "q01_pricing_summary",
    "dd_minhash_lsh",
    "dd_semantic",
    "dd_embedding_neardup_keepers",
    "sim_ivf_topk",
    "sim_ivfpq_topk",
]


def synthesize(spark, src: str, dest: str, mult: int) -> None:
    """Deterministic mult-x corpus under dest (idempotent: skips if the
    marker file already records the same mult)."""
    import pyspark.sql.functions as F

    marker = os.path.join(dest, "_SYNTH_OK")
    if os.path.isfile(marker) and open(marker).read().strip() == f"v6:{mult}":
        return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest, exist_ok=True)

    # events.ts has shipped as TIMESTAMP(NANOS) in past rounds; the
    # legacy conf makes the plain read survive either encoding (a
    # bigint-ns ts round-trips through the copy and load_table's
    # bigint branch handles it downstream)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
    li = spark.read.parquet(os.path.join(src, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(src, "orders.parquet"))
    events = spark.read.parquet(os.path.join(src, "events.parquet"))

    doc_stride = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    vec_stride = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    stride = max(doc_stride, vec_stride)
    dim = len(emb.select("embedding").first()[0])
    # rotation (dim states) x alternating flip (2 states) yields 2*dim
    # distinct embedding transforms; beyond that, replicas r and
    # r + 2*dim would hold IDENTICAL vectors and fabricate cross-shard
    # duplicates — refuse rather than skew the dedup exponents silently
    if mult > 2 * dim:
        raise ValueError(
            f"--mult {mult} exceeds the {2 * dim} distinct embedding "
            "transforms (rotations x sign flips); add more flip states "
            "before probing past that"
        )

    doc_parts = []
    emb_parts = []
    for r in range(mult):
        if r == 0:
            doc_parts.append(docs)
            emb_parts.append(emb)
            continue
        # v6: (token, replica)-keyed letter suffix — keeps every text
        # workload shape while decorrelating the byte-bigram media
        # fingerprints on BOTH axes (see _replica_suffix for the
        # measured three-way comparison that selected this transform)
        text_r = _replica_suffix(F.col("text"), r)
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * stride)).alias("doc_id"),
                text_r.alias("text"),
                "lang",
                "source",
                F.length(text_r).alias("n_chars"),
            )
        )
        # rotate by r mod dim; past one full cycle of rotations (a 100x
        # probe has more replicas than dimensions) add an alternating
        # sign flip per rotation GROUP g = r // dim. Both ops preserve
        # norms and all within-replica pairwise dots exactly (the flip
        # cancels: (-x_i)(-y_i) = x_i y_i), while any two distinct
        # replicas differ by rotation or flip, so cross-replica cosines
        # stay decorrelated — without this, replica r and r+dim would
        # hold IDENTICAL vectors and fabricate cross-shard duplicates.
        rr, g = r % dim, r // dim
        rot = F.concat(
            F.slice(F.col("embedding"), rr + 1, dim - rr),
            F.slice(F.col("embedding"), 1, rr),
        ) if rr else F.col("embedding")
        if g % 2 == 1:
            rot = F.transform(
                rot, lambda e, i: F.when(i % 2 == 0, e).otherwise(-e)
            )
        emb_parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(r * stride)).alias("vec_id"),
                rot.alias("embedding"),
                "label",
            )
        )

    def union_all(parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    union_all(doc_parts).repartition(32).write.mode("overwrite").parquet(
        os.path.join(dest, "documents.parquet")
    )
    union_all(emb_parts).repartition(32).write.mode("overwrite").parquet(
        os.path.join(dest, "embeddings.parquet")
    )
    # lineitem: offset l_orderkey per replica — a plain union would put
    # 10x the lines in each EXISTING order (baskets grow with corpus
    # size), which is not how a bigger fact table behaves and would make
    # any orderkey-join probe (q_copurchase_pairs, q_pagerank) read as
    # quadratic by fixture construction rather than by plan
    # ONE shared orderkey stride keeps the lineitem<->orders join honest:
    # replica r's facts join replica r's orders and nothing else.
    ok_stride = (
        max(
            li.agg(F.max("l_orderkey")).collect()[0][0],
            orders.agg(F.max("o_orderkey")).collect()[0][0],
        )
        + 1
    )
    li_parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(r * ok_stride))
        for r in range(mult)
    ]
    union_all(li_parts).repartition(32).write.mode("overwrite").parquet(
        os.path.join(dest, "lineitem.parquet")
    )
    o_parts = [
        orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(r * ok_stride))
        for r in range(mult)
    ]
    union_all(o_parts).repartition(32).write.mode("overwrite").parquet(
        os.path.join(dest, "orders.parquet")
    )
    # events: offset user_id and event_id per replica, keep the time
    # range — a mult-x corpus models mult-x USERS on the same service
    # window (per-user history shapes unchanged; window aggs get denser,
    # which is the honest stress for event-time operators)
    u_stride = events.agg(F.max("user_id")).collect()[0][0] + 1
    e_stride = events.agg(F.max("event_id")).collect()[0][0] + 1
    e_parts = [
        events.withColumn("user_id", F.col("user_id") + F.lit(r * u_stride))
        .withColumn("event_id", F.col("event_id") + F.lit(r * e_stride))
        for r in range(mult)
    ]
    union_all(e_parts).repartition(32).write.mode("overwrite").parquet(
        os.path.join(dest, "events.parquet")
    )
    with open(marker, "w") as fh:
        fh.write(f"v6:{mult}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--out", default=os.path.join(_REPO, "SCALEPROBE.json"))
    ap.add_argument("--probes", nargs="*", default=PROBES)
    args = ap.parse_args()

    from ftp_blueprints_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "scale-probe", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    dest = scaled_dir(args.mult)
    synthesize(spark, BASE_SF_DIR, dest, args.mult)

    import math

    def timed(name: str, sf_dir: str) -> float:
        def once() -> float:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        return round(min(once(), once()), 3)

    # warmup (codegen/JIT) before any timed run
    qs["q01_pricing_summary"](spark, BASE_SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    results = {}
    for name in args.probes:
        t_base = timed(name, BASE_SF_DIR)
        t_scaled = timed(name, dest)
        exp = round(
            math.log(max(t_scaled, 1e-3) / max(t_base, 1e-3))
            / math.log(args.mult),
            3,
        )
        results[name] = {
            "t_sf0.1": t_base,
            f"t_{args.mult}x": t_scaled,
            "exponent": exp,
        }
        print(f"[probe] {name}: {t_base}s -> {t_scaled}s  e={exp}", flush=True)

    # merge into the existing out-file: the canonical 10x sweep keeps the
    # legacy top-level shape; other decades (e.g. --mult 100 for the
    # worst-exponent re-probe) land under "mult_<m>" so one file carries
    # the whole scaling story.
    out: dict = {}
    if os.path.isfile(args.out):
        try:
            with open(args.out) as fh:
                out = json.load(fh)
        except ValueError:
            out = {}
    if args.mult == 10:
        prev = out.get("queries", {})
        prev.update(results)
        out.update({"mult": 10, "base": BASE_SF_DIR, "queries": prev})
    else:
        section = out.setdefault(f"mult_{args.mult}", {"base": BASE_SF_DIR})
        section.setdefault("queries", {}).update(results)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps({"mult": args.mult, "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
