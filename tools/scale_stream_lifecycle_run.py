"""Streaming-ANN lifecycle, end to end in ONE session (round-14 verdict
ask #5): the pieces are each measured — ingest (SCALE_r13
stream_retrain), decay, warm retrain economics, recovery — but never as
one continuous streaming session. This rung runs the full operational
loop a production index lives on:

  serve (base)  →  ingest drift through the FROZEN artifacts
                   (stream_ivfpq_index, native file sink carrier)
                →  serve under ingest (recall sampled mid-stream)
                →  warm retrain UNDER LOAD (retrain thread concurrent
                   with the live ingest query + a serving sample)
                →  blue/green artifact swap: drain + stop the old
                   ingest query, catch-up re-encode the rows ingested
                   after the retrain snapshot against the NEW artifacts,
                   restart ingest on a FRESH checkpoint with a
                   ``modifiedAfter`` source cutover at the drain
                   timestamp (see below), so nothing is double-encoded
                →  serve (recovered) + completeness audit: every corpus
                   vec_id is present in exactly the new serving view.

The swap CANNOT reuse the old source checkpoint against a new sink
directory: Spark's FileStreamSink log is keyed by the query's batch id,
so a resumed checkpoint makes the fresh sink's _spark_metadata start at
a non-zero id — its FIRST batch commits, and its SECOND throws
BATCH_METADATA_NOT_FOUND(_spark_metadata/0) inside the sink (measured
here; a one-batch smoke run cannot catch it). Checkpoint and file-sink
directory are a paired unit. And the green query cannot re-read the old
source directory selectively either: ``modifiedAfter`` is a batch-only
option, rejected by file stream sources. The production pattern is a
SOURCE-PREFIX ROTATION: at the swap, producers switch to a fresh input
prefix; the green query gets the new prefix, a new checkpoint, and a
new sink dir, all starting clean at batch 0, while the catch-up batch
re-encode covers everything the drained blue query had consumed —
exactly-once holds by construction (audited). This is the file-source
equivalent of a new Kafka consumer group starting at the drained
offsets; date-partitioned ingest prefixes give the rotation for free.

The swap protocol is the part only an end-to-end run can prove: the
retrain runs on a SNAPSHOT of the merged corpus while ingest keeps
appending old-geometry rows; at swap time those in-flight rows exist
only in the superseded index, so they are re-encoded in one batch
ivfpq_index call (bit-identical to what the new stream would emit —
pytest contract) and appended to the new carrier. The completeness
audit at the end is the wiring-bug detector.

Recall samples are deterministic given the sample's corpus snapshot
(hash-derived fixtures, exact reference recomputed per sample); walls
and ev/s are box-dependent. Prints one JSON line per job.

Usage:
    python tools/scale_stream_lifecycle_run.py [--base 400000]
        [--drift-chunks 8] [--chunk 25000] [--queries 300] [--probe 32]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
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
    stream_ivfpq_index,
)
from scale_stream_retrain_run import _normed, _vec  # noqa: E402

DIM = 64


def _emit(job: str, **kw) -> None:
    print(json.dumps({"job": job, **kw}), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", type=int, default=400_000)
    ap.add_argument("--drift-chunks", type=int, default=8, dest="chunks")
    ap.add_argument("--chunk", type=int, default=25_000)
    ap.add_argument("--queries", type=int, default=300)
    ap.add_argument("--cells", type=int, default=632)
    ap.add_argument("--m", type=int, default=8)
    ap.add_argument("--kc", type=int, default=64)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--probe", type=int, default=32)
    ap.add_argument("--shortlist", type=int, default=400)
    ap.add_argument("--assign-r", type=int, default=2, dest="assign_r")
    args = ap.parse_args()

    spark = get_spark("scale-stream-lifecycle")
    work = tempfile.mkdtemp(prefix="stream_lifecycle_")
    in_path = os.path.join(work, "drift_in")
    in_path2 = os.path.join(work, "drift_in_v2")  # post-swap rotation
    # Each index version is a two-directory carrier: a batch-written half
    # (the build / the retrain+catch-up) and a streaming half (the file
    # sink). They MUST be separate directories: the streaming sink's
    # _spark_metadata commit log makes a batch read of its directory see
    # ONLY sink-committed files, so batch rows written into the same
    # directory would silently vanish from the serving view (measured:
    # base-regime recall collapses to 0.0 the moment the first streamed
    # file lands). The serving view is the union of the two reads.
    idx_v1_batch = os.path.join(work, "idx_v1_batch")
    idx_v1_stream = os.path.join(work, "idx_v1_stream")
    idx_v2_batch = os.path.join(work, "idx_v2_batch")
    idx_v2_stream = os.path.join(work, "idx_v2_stream")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(in_path, exist_ok=True)

    def serving_view(batch_path, stream_path):
        # Both stream sinks own a complete _spark_metadata log from
        # batch 0 (v1 from the first checkpoint, v2 from the fresh
        # post-swap checkpoint), so the streaming half is read through
        # the root dir — i.e. through the sink's commit log, which is
        # what makes this view safe to take while the query is live.
        out = spark.read.parquet(batch_path)
        if os.path.isdir(stream_path) and any(
            f.startswith("part-") for f in os.listdir(stream_path)
        ):
            out = out.unionByName(spark.read.parquet(stream_path))
        return out

    n_drift_total = args.chunks * args.chunk

    base = (
        spark.range(args.base)
        .select(F.col("id").alias("vec_id"),
                _vec(F.col("id"), salt=0).alias("embedding"))
        .repartition(32)
        .localCheckpoint()
    )
    base.count()

    # --- serving build ---
    seed_mod = max(1, args.base // args.cells)
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
    ivfpq_index(
        base, cents, books, residual=True, assign_r=args.assign_r
    ).write.mode("overwrite").parquet(idx_v1_batch)
    _emit("serving_build", sec=round(time.time() - t0, 2),
          cells=cents.count(), n=args.base)

    # --- planted queries: base + drift regimes ---
    nq_half = args.queries // 2
    q_base = spark.range(0, args.base, max(1, args.base // nq_half)).select(
        (F.col("id") + 10_000_000).alias("vec_id"),
        _vec(F.col("id"), salt=0, jitter=1).alias("embedding"),
    )
    q_drift = spark.range(
        args.base, args.base + n_drift_total,
        max(1, n_drift_total // nq_half),
    ).select(
        (F.col("id") + 20_000_000).alias("vec_id"),
        _vec(F.col("id"), salt=1, jitter=1).alias("embedding"),
    )
    queries = q_base.unionByName(q_drift).localCheckpoint()
    queries.count()
    is_drift_q = F.col("q_id") >= 20_000_000

    def serve_sample(tag, idx_df, c, b, corpus_now, **extra):
        """One serving sample: exact reference over the CURRENT corpus,
        then the approximate query through the given artifacts."""
        t0 = time.time()
        exact = cosine_topk(corpus_now, queries, k=args.k).localCheckpoint()
        exact.count()
        approx = ivfpq_topk(
            idx_df, queries, c, b, corpus_now,
            n_probe=args.probe, k=args.k, shortlist=args.shortlist,
            residual=True,
        ).localCheckpoint()
        approx.count()
        out = {}
        for name, pred in (("base", ~is_drift_q), ("drift", is_drift_q)):
            sub_e = exact.filter(pred)
            if sub_e.limit(1).count() == 0:
                out[f"recall_{name}"] = None
                continue
            r = ann_recall(approx.filter(pred), sub_e).collect()[0]
            out[f"recall_{name}"] = r["recall"]
        _emit(tag, sec=round(time.time() - t0, 2), **out, **extra)

    # t0: serve the base-only index (drift queries have no true
    # neighbors yet in-corpus; their recall is measured from t1 on)
    serve_sample("serve_t0_base_only",
                 serving_view(idx_v1_batch, idx_v1_stream),
                 cents, books, base)

    # --- start the frozen-artifact ingest stream (v1 carrier) ---
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "2")
        .parquet(in_path)
    )
    q = stream_ivfpq_index(
        stream, cents, books, idx_v1_stream, ckpt,
        residual=True, assign_r=args.assign_r,
    ).start()

    def feed(chunk_ids):
        for ci in chunk_ids:
            lo = args.base + ci * args.chunk
            (
                spark.range(lo, lo + args.chunk)
                .select(F.col("id").alias("vec_id"),
                        _vec(F.col("id"), salt=1).alias("embedding"))
                .coalesce(2)
                .write.mode("append")
                .parquet(in_path)
            )

    # phase 1: half the drift arrives; serve under ingest
    half = args.chunks // 2
    t0 = time.time()
    feed(range(half))
    q.processAllAvailable()
    ingest1 = round(time.time() - t0, 2)
    corpus_now = base.unionByName(
        spark.read.schema("vec_id long, embedding array<double>").parquet(in_path)
    ).localCheckpoint()
    n_now = corpus_now.count()
    _emit("ingest_phase1", sec=ingest1, vectors=half * args.chunk,
          ev_per_sec=round(half * args.chunk / max(ingest1, 1e-9)))
    serve_sample("serve_t1_frozen_decayed",
                 serving_view(idx_v1_batch, idx_v1_stream),
                 cents, books, corpus_now, corpus=n_now)

    # phase 2: retrain UNDER LOAD — snapshot the merged corpus, launch
    # the warm retrain in a thread, keep feeding + serving while it runs
    snapshot = corpus_now
    snapshot_max = snapshot.agg(F.max("vec_id")).collect()[0][0]
    seed_mod_m = max(1, n_now // args.cells)
    pq_seed_m = (
        None if n_now <= PQ_TRAIN_PROBE_CAP else max(1, n_now // args.kc)
    )
    result: dict = {}

    def retrain():
        t0 = time.time()
        c2, b2, i2 = ivfpq_warm_retrain(
            snapshot, cents, n_iters=2, m=args.m, k=args.kc, pq_iters=3,
            dim=DIM, assign_r=args.assign_r, seed_mod=pq_seed_m,
            extra_seed_filter=(
                (F.col("vec_id") >= args.base)
                & (F.col("vec_id") % seed_mod_m == 1)
            ),
            split_index=serving_view(idx_v1_batch, idx_v1_stream),
        )
        i2 = i2.localCheckpoint()
        i2.count()
        result["cents"] = c2.localCheckpoint()
        result["books"] = b2.localCheckpoint()
        result["idx"] = i2
        result["sec"] = round(time.time() - t0, 2)

    th = threading.Thread(target=retrain)
    t_load0 = time.time()
    th.start()
    feed(range(half, args.chunks))  # ingest keeps running during retrain
    # serving sample DURING the retrain, from the still-live v1 view
    serve_sample("serve_t2_during_retrain",
                 serving_view(idx_v1_batch, idx_v1_stream),
                 cents, books, snapshot,
                 note="old artifacts serve the retrain snapshot while "
                      "ingest + retrain run concurrently")
    th.join()
    _emit("retrain_under_load", sec=result["sec"],
          concurrent_wall=round(time.time() - t_load0, 2),
          cells=result["cents"].count(), snapshot_rows=n_now)

    # phase 3: blue/green swap — drain + stop v1 ingest, catch-up
    # re-encode everything past the retrain snapshot, restart green on
    # a FRESH checkpoint with a modifiedAfter cutover at the drain
    # timestamp (same-checkpoint reuse against a new sink dir fails on
    # the sink's second batch — see module docstring)
    t0 = time.time()
    q.processAllAvailable()
    q.stop()
    all_in = spark.read.schema(
        "vec_id long, embedding array<double>"
    ).parquet(in_path).localCheckpoint()
    catchup_src = all_in.filter(F.col("vec_id") > snapshot_max)
    n_catchup = catchup_src.count()
    result["idx"].write.mode("overwrite").parquet(idx_v2_batch)
    ivfpq_index(
        catchup_src, result["cents"], result["books"],
        residual=True, assign_r=args.assign_r,
    ).write.mode("append").parquet(idx_v2_batch)
    # source-prefix rotation: post-swap producers write to in_path2;
    # the green query starts clean (new prefix + checkpoint + sink)
    os.makedirs(in_path2, exist_ok=True)
    stream_v2 = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "2")
        .parquet(in_path2)
    )
    q2 = stream_ivfpq_index(
        stream_v2, result["cents"], result["books"], idx_v2_stream,
        os.path.join(work, "ckpt_v2"),
        residual=True, assign_r=args.assign_r,
    ).start()
    q2.processAllAvailable()
    swap_sec = round(time.time() - t0, 2)
    _emit("swap_catchup", sec=swap_sec, catchup_rows=n_catchup)

    corpus_final = base.unionByName(all_in).localCheckpoint()
    n_final = corpus_final.count()
    serve_sample("serve_t3_recovered",
                 serving_view(idx_v2_batch, idx_v2_stream),
                 result["cents"], result["books"], corpus_final,
                 corpus=n_final)

    # post-swap stream still live: one more chunk arrives through v2
    # (on the ROTATED source prefix — the swap moved producers there)
    t0 = time.time()
    extra_lo = args.base + n_drift_total
    (
        spark.range(extra_lo, extra_lo + args.chunk)
        .select(F.col("id").alias("vec_id"),
                _vec(F.col("id"), salt=1).alias("embedding"))
        .coalesce(2)
        .write.mode("append")
        .parquet(in_path2)
    )
    q2.processAllAvailable()
    q2.stop()
    _emit("post_swap_ingest", sec=round(time.time() - t0, 2),
          vectors=args.chunk)

    # --- completeness audit: the wiring-bug detector ---
    v2_view = serving_view(idx_v2_batch, idx_v2_stream).localCheckpoint()
    served = v2_view.select("vec_id").distinct()
    expect = args.base + n_drift_total + args.chunk
    n_served = served.count()
    all_ids = base.select("vec_id").unionByName(
        spark.read.schema("vec_id long, embedding array<double>")
        .parquet(in_path, in_path2).select("vec_id")
    )
    missing = all_ids.join(served, "vec_id", "left_anti").count()
    dup_coded = (
        v2_view.groupBy("vec_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") != args.assign_r)
        .count()
    )
    _emit("completeness_audit", distinct_vec_ids=n_served, expected=expect,
          missing=missing, wrong_copy_count_rows=dup_coded,
          ok=(n_served == expect and missing == 0 and dup_coded == 0))

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
