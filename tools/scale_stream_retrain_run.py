"""Streaming-index retrain loop at scale (round-11 verdict ask #2): ingest
a DRIFTED vector stream through the frozen-artifact path
(``streaming/ann.py::stream_ivfpq_index``), measure recall decay on the
frozen index, then run ONE ``ivfpq_warm_retrain`` over the merged corpus
and measure the recovery and the retrain wall — with a cold from-scratch
rebuild as the reference arm.

Fixture: clustered unit vectors (the production embedding regime, same
style as scale_ann_run's ``--clustered``), but with a SALT on the cluster
centers so the drift stream draws from cluster centers the serving build
never saw — new topics arriving, the canonical reason deployed ANN
indexes retrain. Queries are planted near-dups (regenerate a corpus
vector, perturb) from BOTH regimes, so the rung reports base-regime and
drift-regime recall separately: decay must show on drift queries while
the base regime stays intact.

Everything recall-side is deterministic (hash-derived vectors, exact
reference via ``cosine_topk``); walls are one-shot build costs, same
protocol as the committed index_build rows in SCALE_r10/r11.

Prints one JSON line per job. Usage:
    python tools/scale_stream_retrain_run.py [--base 400000] [--drift 100000]
        [--queries 500] [--cells 632] [--probe 32] [--shortlist 1600]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from crypto_market_data_etl_spark.operators.similarity import (  # noqa: E402
    PQ_TRAIN_PROBE_CAP,
    ann_recall,
    coarse_residuals,
    cosine_topk,
    ivfpq_index,
    ivfpq_topk,
    kmeans_train,
    pq_train,
    with_norm,
)
from crypto_market_data_etl_spark.session import get_spark  # noqa: E402
from crypto_market_data_etl_spark.streaming.ann import (  # noqa: E402
    ivfpq_warm_retrain,
    stream_ivfpq_index,
)

DIM = 64
N_CLUSTERS = 64


def _vec(seed_col, salt: int, jitter: int = 0):
    """Clustered unit-cube vector: center chosen by ``(salt, id % 64)`` —
    different salts give DISJOINT center sets (the drift mechanism) —
    plus a ±0.25 per-coordinate spread; ``jitter>0`` adds the small
    near-dup perturbation (cos ~ 0.999), same construction as
    scale_ann_run's planted queries."""
    cid = seed_col % N_CLUSTERS
    expr = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: (
            F.pmod(F.xxhash64(F.lit(salt) * 100003 + cid * 7919 + i), F.lit(1000))
            .cast("double") / 500.0 - 1.0
        )
        + (
            F.pmod(F.xxhash64(seed_col * 131 + i), F.lit(1000)).cast("double")
            / 2000.0 - 0.25
        )
        + (
            F.pmod(F.xxhash64(seed_col * 104729 + i * 7 + 3), F.lit(1000))
            .cast("double") / 50000.0 - 0.01
            if jitter
            else F.lit(0.0)
        ),
    )
    return expr


def _normed(df):
    return with_norm(df).select(
        "vec_id", F.expr("transform(embedding, x -> x / norm)").alias("embedding")
    )


def _emit(job: str, **kw) -> None:
    print(json.dumps({"job": job, **kw}), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", type=int, default=400_000)
    ap.add_argument("--drift", type=int, default=100_000)
    ap.add_argument("--queries", type=int, default=500)
    ap.add_argument("--cells", type=int, default=632)
    ap.add_argument("--m", type=int, default=8)
    ap.add_argument("--kc", type=int, default=64)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--probes", type=str, default="8,32",
                    help="comma-separated n_probe ladder for each recall job")
    ap.add_argument("--shortlist", type=int, default=400)
    ap.add_argument("--assign-r", type=int, default=2, dest="assign_r")
    ap.add_argument("--chunks", type=int, default=4,
                    help="micro-batches the drift stream arrives in")
    ap.add_argument("--warm-iters", type=str, default="2", dest="warm_iters",
                    help="comma-separated Lloyd-iteration ladder for the "
                    "seeded warm arm (the wall lever: cold pays 3)")
    ap.add_argument("--skip-warm-only", action="store_true",
                    dest="skip_warm_only",
                    help="skip the warm-only (no seed expansion) arm — a "
                    "committed negative since SCALE_r12; skipping it keeps "
                    "big-N rungs affordable")
    args = ap.parse_args()

    spark = get_spark("scale-stream-retrain")
    work = tempfile.mkdtemp(prefix="stream_retrain_")

    base = (
        spark.range(args.base)
        .select(F.col("id").alias("vec_id"), _vec(F.col("id"), salt=0).alias("embedding"))
        .repartition(32)
        .localCheckpoint()
    )
    base.count()

    # --- serving build on the base corpus (committed rivfpq recipe:
    # assignment-space centroids, residual codebooks, multi-assignment) ---
    seed_mod = max(1, args.base // args.cells)
    t0 = time.time()
    base_n = _normed(base).localCheckpoint()
    base_n.count()
    serving_cents = kmeans_train(
        base_n, centroid_filter=F.col("vec_id") % seed_mod == 1, n_iters=3
    ).localCheckpoint()
    n_cells = serving_cents.count()
    resid = coarse_residuals(base, serving_cents).localCheckpoint()
    resid.count()
    pq_seed = (
        {}
        if args.base <= PQ_TRAIN_PROBE_CAP
        else {"seed_mod": max(1, args.base // args.kc)}
    )
    serving_books = pq_train(
        resid, vec_col="resid", m=args.m, k=args.kc, n_iters=3, dim=DIM, **pq_seed
    ).localCheckpoint()
    serving_books.count()
    base_idx = ivfpq_index(
        base, serving_cents, serving_books, residual=True, assign_r=args.assign_r
    ).localCheckpoint()
    n_base_idx = base_idx.count()
    _emit("serving_build", sec=round(time.time() - t0, 2), cells=n_cells,
          index_rows=n_base_idx)

    # --- drift stream: salt=1 centers, ingested through the FROZEN path ---
    drift_ids0 = args.base
    in_path = os.path.join(work, "drift_in")
    out_path = os.path.join(work, "drift_idx")
    ckpt = os.path.join(work, "ckpt")
    per_chunk = args.drift // args.chunks
    for ci in range(args.chunks):
        lo = drift_ids0 + ci * per_chunk
        hi = drift_ids0 + args.drift if ci == args.chunks - 1 else lo + per_chunk
        (
            spark.range(lo, hi)
            .select(F.col("id").alias("vec_id"), _vec(F.col("id"), salt=1).alias("embedding"))
            .coalesce(4)
            .write.mode("append")
            .parquet(in_path)
        )
        time.sleep(1.1)  # mod-time ordering, same rule as the pytest fixture

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "4")
        .parquet(in_path)
    )
    t0 = time.time()
    q = stream_ivfpq_index(
        stream, serving_cents, serving_books, out_path, ckpt,
        residual=True, assign_r=args.assign_r,
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ingest_wall = round(time.time() - t0, 2)
    streamed_idx = spark.read.parquet(out_path).localCheckpoint()
    n_streamed = streamed_idx.count()
    _emit("stream_ingest_frozen", sec=ingest_wall, index_rows=n_streamed,
          vectors=args.drift, chunks=args.chunks)

    merged = (
        base.unionByName(
            spark.read.schema("vec_id long, embedding array<double>").parquet(in_path)
        )
        .repartition(32)
        .localCheckpoint()
    )
    merged.count()
    frozen_idx = base_idx.unionByName(streamed_idx).localCheckpoint()
    frozen_idx.count()

    # --- planted near-dup queries from BOTH regimes ---
    nq_half = args.queries // 2
    stride_b = max(1, args.base // nq_half)
    stride_d = max(1, args.drift // nq_half)
    q_base = spark.range(0, args.base, stride_b).select(
        (F.col("id") + 10_000_000).alias("vec_id"),
        _vec(F.col("id"), salt=0, jitter=1).alias("embedding"),
    )
    q_drift = spark.range(drift_ids0, drift_ids0 + args.drift, stride_d).select(
        (F.col("id") + 20_000_000).alias("vec_id"),
        _vec(F.col("id"), salt=1, jitter=1).alias("embedding"),
    )
    queries = q_base.unionByName(q_drift).localCheckpoint()
    nq = queries.count()

    t0 = time.time()
    exact = cosine_topk(merged, queries, k=args.k).localCheckpoint()
    exact.count()
    _emit("brute_exact_reference", sec=round(time.time() - t0, 2), queries=nq)
    is_drift_q = F.col("q_id") >= 20_000_000

    def recalls(tag, idx, cents, books):
        for probe in (int(p) for p in args.probes.split(",")):
            t0 = time.time()
            approx = ivfpq_topk(
                idx, queries, cents, books, merged,
                n_probe=probe, k=args.k, shortlist=args.shortlist, residual=True,
            ).localCheckpoint()
            approx.count()
            wall = round(time.time() - t0, 2)
            out = {}
            for name, pred in (("base", ~is_drift_q), ("drift", is_drift_q)):
                r = ann_recall(approx.filter(pred), exact.filter(pred)).collect()[0]
                out[f"recall_{name}"] = r["recall"]
            _emit(f"{tag}_probe{probe}", sec=wall, shortlist=args.shortlist, **out)

    recalls("recall_frozen", frozen_idx, serving_cents, serving_books)

    n_merged = args.base + args.drift
    pq_seed_m = (
        None if n_merged <= PQ_TRAIN_PROBE_CAP else max(1, n_merged // args.kc)
    )

    # --- warm-start retrain arms over the merged corpus: serving
    # centroids only (the naive loop), then serving + new-regime seed
    # expansion (the operator's documented drift recipe) ---
    if not args.skip_warm_only:
        t0 = time.time()
        cents_w, books_w, idx_w = ivfpq_warm_retrain(
            merged, serving_cents, n_iters=2, m=args.m, k=args.kc, pq_iters=3,
            dim=DIM, assign_r=args.assign_r, seed_mod=pq_seed_m,
        )
        idx_w = idx_w.localCheckpoint()
        idx_w.count()
        cents_w = cents_w.localCheckpoint()
        books_w = books_w.localCheckpoint()
        _emit("warm_retrain", sec=round(time.time() - t0, 2),
              cells=cents_w.count(), lloyd_iters=2)
        recalls("recall_warm", idx_w, cents_w, books_w)

    seed_mod_m = max(1, n_merged // args.cells)
    for wi in (int(x) for x in args.warm_iters.split(",")):
        t0 = time.time()
        cents_s, books_s, idx_s = ivfpq_warm_retrain(
            merged, serving_cents, n_iters=wi, m=args.m, k=args.kc,
            pq_iters=3, dim=DIM, assign_r=args.assign_r, seed_mod=pq_seed_m,
            extra_seed_filter=(
                (F.col("vec_id") >= drift_ids0)
                & (F.col("vec_id") % seed_mod_m == 1)
            ),
        )
        idx_s = idx_s.localCheckpoint()
        idx_s.count()
        cents_s = cents_s.localCheckpoint()
        books_s = books_s.localCheckpoint()
        _emit(f"warm_retrain_seeded_i{wi}", sec=round(time.time() - t0, 2),
              cells=cents_s.count(), lloyd_iters=wi)
        recalls(f"recall_warm_seeded_i{wi}", idx_s, cents_s, books_s)

    # --- cold from-scratch rebuild (reference arm: seeding pass + full
    # Lloyd schedule over the merged corpus) ---
    t0 = time.time()
    merged_n = _normed(merged).localCheckpoint()
    merged_n.count()
    cents_c = kmeans_train(
        merged_n, centroid_filter=F.col("vec_id") % seed_mod_m == 1, n_iters=3
    ).localCheckpoint()
    resid_c = coarse_residuals(merged, cents_c).localCheckpoint()
    resid_c.count()
    books_c = pq_train(
        resid_c, vec_col="resid", m=args.m, k=args.kc, n_iters=3, dim=DIM,
        seed_mod=None if n_merged <= PQ_TRAIN_PROBE_CAP
        else max(1, n_merged // args.kc),
    ).localCheckpoint()
    books_c.count()
    idx_c = ivfpq_index(
        merged, cents_c, books_c, residual=True, assign_r=args.assign_r
    ).localCheckpoint()
    idx_c.count()
    _emit("cold_rebuild", sec=round(time.time() - t0, 2),
          cells=cents_c.count(), lloyd_iters=3)
    recalls("recall_cold", idx_c, cents_c, books_c)

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
