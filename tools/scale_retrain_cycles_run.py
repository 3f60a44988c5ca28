"""Multi-cycle warm-retrain schedule (round-14 verdict ask #3): does
base-regime recall decay monotonically across SUCCESSIVE drift + warm
retrain cycles (resident centroids keep their old positions/count each
time), and does splitting oversized resident cells during the warm
retrain hold it?

Single-cycle economics are settled (SCALE_r13 ``stream_retrain``:
seeded-warm 2.66x cheaper than cold at matched drift recall, with an
honest ~5 pt base-regime residual). This rung runs the schedule a
production index would actually live on: C cycles of (new-regime drift
arrives -> frozen ingest -> warm retrain -> swap artifacts), with THREE
arms measured at every cycle boundary:

  - ``seeded``      — serving centroids ∪ new-regime sample (the r12
                      recipe, no split): the decay-question arm.
  - ``seeded_split``— same + ``split_index`` (r14: oversized resident
                      cells gain a bisecting seed): the candidate fix.
  - ``cold``        — ONE from-scratch rebuild over the FINAL merged
                      corpus (the reference point the schedule is
                      allowed to approach, not a per-cycle arm — a
                      per-cycle cold rebuild is exactly what the warm
                      schedule exists to avoid).

Drift chunks are encoded through the frozen artifacts with the BATCH
``ivfpq_index`` call — bit-identical to what ``stream_ivfpq_index``
appends per micro-batch (pytest-asserted), so the rung measures the
schedule question without paying streaming-trigger wiring per cycle
(that wall is measured separately: SCALE_r13 ``stream_retrain``
ingest; r14's ``stream_lifecycle`` runs the real streaming form once
end-to-end).

Recall protocol: planted near-dup queries per regime (base + each
cycle's drift), exact reference recomputed over the merged corpus at
every cycle boundary (``cosine_topk``), recall@k per regime per
cycle. Deterministic fixtures (hash-derived vectors) — recalls
reproduce bit-for-bit; walls are one-shot build costs.

Prints one JSON line per job. Usage:
    python tools/scale_retrain_cycles_run.py [--base 400000]
        [--drift 100000] [--cycles 3] [--queries 600] [--probes 8,32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
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
)
from crypto_market_data_etl_spark.session import get_spark  # noqa: E402
from crypto_market_data_etl_spark.streaming.ann import (  # noqa: E402
    ivfpq_warm_retrain,
)
from scale_stream_retrain_run import _normed, _vec  # noqa: E402

DIM = 64


def _emit(job: str, **kw) -> None:
    print(json.dumps({"job": job, **kw}), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", type=int, default=400_000)
    ap.add_argument("--drift", type=int, default=100_000,
                    help="vectors per drift cycle (each cycle a NEW salt = "
                    "a regime the previous artifacts never saw)")
    ap.add_argument("--cycles", type=int, default=3)
    ap.add_argument("--queries", type=int, default=600,
                    help="planted near-dup queries, split evenly across "
                    "base + each drift regime")
    ap.add_argument("--cells", type=int, default=632)
    ap.add_argument("--m", type=int, default=8)
    ap.add_argument("--kc", type=int, default=64)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--probes", type=str, default="8,32")
    ap.add_argument("--shortlist", type=int, default=400)
    ap.add_argument("--assign-r", type=int, default=2, dest="assign_r")
    ap.add_argument("--warm-iters", type=int, default=2, dest="warm_iters")
    ap.add_argument("--split-factor", type=float, default=2.0,
                    dest="split_factor")
    args = ap.parse_args()

    spark = get_spark("scale-retrain-cycles")
    regimes = 1 + args.cycles
    per_regime_q = max(1, args.queries // regimes)

    def corpus_slice(salt: int, lo: int, n: int):
        return (
            spark.range(lo, lo + n)
            .select(F.col("id").alias("vec_id"),
                    _vec(F.col("id"), salt=salt).alias("embedding"))
            .repartition(32)
            .localCheckpoint()
        )

    def regime_queries(salt: int, lo: int, n: int, qbase: int):
        stride = max(1, n // per_regime_q)
        return spark.range(lo, lo + n, stride).select(
            (F.col("id") + qbase).alias("vec_id"),
            _vec(F.col("id"), salt=salt, jitter=1).alias("embedding"),
        )

    base = corpus_slice(0, 0, args.base)
    seed_mod = max(1, args.base // args.cells)

    # --- serving build (committed rivfpq recipe) ---
    t0 = time.time()
    base_n = _normed(base).localCheckpoint()
    base_n.count()
    cents = kmeans_train(
        base_n, centroid_filter=F.col("vec_id") % seed_mod == 1, n_iters=3
    ).localCheckpoint()
    pq_seed = (
        {} if args.base <= PQ_TRAIN_PROBE_CAP
        else {"seed_mod": max(1, args.base // args.kc)}
    )
    resid = coarse_residuals(base, cents).localCheckpoint()
    resid.count()
    books = pq_train(
        resid, vec_col="resid", m=args.m, k=args.kc, n_iters=3, dim=DIM,
        **pq_seed,
    ).localCheckpoint()
    books.count()
    idx = ivfpq_index(
        base, cents, books, residual=True, assign_r=args.assign_r
    ).localCheckpoint()
    idx.count()
    _emit("serving_build", sec=round(time.time() - t0, 2),
          cells=cents.count(), n=args.base)

    # two independent artifact lines walk the same drift schedule
    arms = {
        "seeded": {"cents": cents, "books": books, "idx": idx},
        "seeded_split": {"cents": cents, "books": books, "idx": idx},
    }

    merged = base
    all_queries = regime_queries(0, 0, args.base, 10_000_000)
    q_tags = [("base", 10_000_000)]

    for cycle in range(1, args.cycles + 1):
        salt = cycle
        lo = args.base + (cycle - 1) * args.drift
        drift = corpus_slice(salt, lo, args.drift)
        merged = merged.unionByName(drift).repartition(32).localCheckpoint()
        n_merged = merged.count()
        qbase = 10_000_000 * (cycle + 1)
        all_queries = all_queries.unionByName(
            regime_queries(salt, lo, args.drift, qbase)
        )
        q_tags.append((f"drift_c{cycle}", qbase))
        queries = all_queries.localCheckpoint()
        nq = queries.count()

        t0 = time.time()
        exact = cosine_topk(merged, queries, k=args.k).localCheckpoint()
        exact.count()
        _emit(f"brute_exact_c{cycle}", sec=round(time.time() - t0, 2),
              queries=nq, corpus=n_merged)

        pq_seed_m = (
            None if n_merged <= PQ_TRAIN_PROBE_CAP
            else max(1, n_merged // args.kc)
        )
        seed_mod_m = max(1, n_merged // args.cells)
        new_filter = (
            (F.col("vec_id") >= lo) & (F.col("vec_id") % seed_mod_m == 1)
        )

        for arm, st in arms.items():
            # frozen ingest of this cycle's drift against the arm's
            # CURRENT artifacts (batch call == streamed rows, pytest)
            t0 = time.time()
            ingested = ivfpq_index(
                drift, st["cents"], st["books"], residual=True,
                assign_r=args.assign_r,
            )
            frozen_idx = st["idx"].unionByName(ingested).localCheckpoint()
            frozen_idx.count()
            ingest_sec = round(time.time() - t0, 2)

            t0 = time.time()
            kw = dict(
                n_iters=args.warm_iters, m=args.m, k=args.kc, pq_iters=3,
                dim=DIM, assign_r=args.assign_r, seed_mod=pq_seed_m,
                extra_seed_filter=new_filter,
            )
            if arm == "seeded_split":
                kw["split_index"] = frozen_idx
                kw["split_factor"] = args.split_factor
            cents_r, books_r, idx_r = ivfpq_warm_retrain(
                merged, st["cents"], **kw
            )
            idx_r = idx_r.localCheckpoint()
            idx_r.count()
            cents_r = cents_r.localCheckpoint()
            books_r = books_r.localCheckpoint()
            retrain_sec = round(time.time() - t0, 2)
            st.update(cents=cents_r, books=books_r, idx=idx_r)
            _emit(f"retrain_{arm}_c{cycle}", sec=retrain_sec,
                  ingest_sec=ingest_sec, cells=cents_r.count(),
                  corpus=n_merged, lloyd_iters=args.warm_iters)

            for probe in (int(p) for p in args.probes.split(",")):
                t0 = time.time()
                approx = ivfpq_topk(
                    idx_r, queries, cents_r, books_r, merged,
                    n_probe=probe, k=args.k, shortlist=args.shortlist,
                    residual=True,
                ).localCheckpoint()
                approx.count()
                wall = round(time.time() - t0, 2)
                out = {}
                for tag, qb in q_tags:
                    pred = (F.col("q_id") >= qb) & (
                        F.col("q_id") < qb + 10_000_000
                    )
                    r = ann_recall(
                        approx.filter(pred), exact.filter(pred)
                    ).collect()[0]
                    out[f"recall_{tag}"] = r["recall"]
                _emit(f"recall_{arm}_c{cycle}_probe{probe}", sec=wall,
                      shortlist=args.shortlist, **out)

    # --- ONE cold rebuild over the final merged corpus ---
    n_merged = merged.count()
    seed_mod_m = max(1, n_merged // args.cells)
    pq_seed_m = (
        None if n_merged <= PQ_TRAIN_PROBE_CAP
        else max(1, n_merged // args.kc)
    )
    t0 = time.time()
    merged_n = _normed(merged).localCheckpoint()
    merged_n.count()
    cents_c = kmeans_train(
        merged_n, centroid_filter=F.col("vec_id") % seed_mod_m == 1,
        n_iters=3,
    ).localCheckpoint()
    resid_c = coarse_residuals(merged, cents_c).localCheckpoint()
    resid_c.count()
    books_c = pq_train(
        resid_c, vec_col="resid", m=args.m, k=args.kc, n_iters=3, dim=DIM,
        seed_mod=pq_seed_m,
    ).localCheckpoint()
    books_c.count()
    idx_c = ivfpq_index(
        merged, cents_c, books_c, residual=True, assign_r=args.assign_r
    ).localCheckpoint()
    idx_c.count()
    _emit("cold_rebuild_final", sec=round(time.time() - t0, 2),
          cells=cents_c.count(), corpus=n_merged, lloyd_iters=3)

    queries = all_queries.localCheckpoint()
    exact = cosine_topk(merged, queries, k=args.k).localCheckpoint()
    exact.count()
    for probe in (int(p) for p in args.probes.split(",")):
        t0 = time.time()
        approx = ivfpq_topk(
            idx_c, queries, cents_c, books_c, merged,
            n_probe=probe, k=args.k, shortlist=args.shortlist,
            residual=True,
        ).localCheckpoint()
        approx.count()
        wall = round(time.time() - t0, 2)
        out = {}
        for tag, qb in q_tags:
            pred = (F.col("q_id") >= qb) & (F.col("q_id") < qb + 10_000_000)
            r = ann_recall(approx.filter(pred), exact.filter(pred)).collect()[0]
            out[f"recall_{tag}"] = r["recall"]
        _emit(f"recall_cold_final_probe{probe}", sec=wall,
              shortlist=args.shortlist, **out)

    spark.stop()


if __name__ == "__main__":
    main()
