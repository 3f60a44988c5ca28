"""ANN scale rung: brute-force vs LSH band-OR vs IVF at a 200k-vector corpus.

The bench exercises the ANN family at sf0.1 (5k vectors) where index
overheads dominate; this rung measures the shapes the operators were
designed for — a corpus two orders larger, planted near-duplicate queries
(cos ~ 0.999), recall@k computed against the exact result with
``similarity.ann_recall``. Vectors are deterministic (xxhash64-derived),
so the rung is reproducible without fixture files.

Prints one JSON line per tier: wall, rows, recall.

Usage: python tools/scale_ann_run.py [--vectors 200000] [--queries 500] [--k 10]
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
    ann_recall,
    cosine_topk,
    ivf_ann_topk,
    lsh_ann_bandor,
)
from crypto_market_data_etl_spark.session import get_spark  # noqa: E402

DIM = 64

#: pq_train's auto-seed probe cap — imported, not re-hardcoded, so a
#: library cap change can't silently desync _pq_seed from pq_train's
#: auto-seed gate (r10 ADVICE)
from crypto_market_data_etl_spark.operators.similarity import (  # noqa: E402
    PQ_TRAIN_PROBE_CAP as _PQ_AUTO_CAP,
)


def _pq_seed(args, kc: int) -> dict:
    """pq_train kwargs for rungs past its auto-seed probe cap: the explicit
    ``seed_mod`` the production contract requires (expected ~kc seed rows
    per block — the same ``n // k`` rule the auto path derives under the
    cap, so sub-cap rungs keep byte-identical behavior by passing
    nothing)."""
    if args.vectors <= _PQ_AUTO_CAP:
        return {}
    return {"seed_mod": max(1, args.vectors // kc)}


def _vec(seed_col, jitter: int = 0, clusters: int = 0):
    """Deterministic pseudo-random unit-cube vector; jitter>0 adds a small
    per-coordinate perturbation (planted near-duplicate, cos ~ 0.999).

    ``clusters > 0`` generates CLUSTERED vectors instead: vector = the
    (id % clusters) cluster center plus ~±0.25 per-coordinate spread.
    Uniform vectors are the FLOOR for every centroid-based tier (no
    structure for coarse quantizers to exploit and vanishing top-10
    margins); real embedding corpora cluster, and this fixture measures
    that regime."""
    if clusters:
        cid = seed_col % clusters
        base = F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda i: (
                F.pmod(F.xxhash64(cid * 7919 + i), F.lit(1000)).cast("double")
                / 500.0
                - 1.0
            )
            + (
                F.pmod(F.xxhash64(seed_col * 131 + i), F.lit(1000)).cast("double")
                / 2000.0
                - 0.25
            ),
        )
    else:
        base = F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda i: (
                F.pmod(F.xxhash64(seed_col * 131 + i), F.lit(1000)).cast("double")
                / 500.0
                - 1.0
            ),
        )
    if not jitter:
        return base
    return F.transform(
        base,
        lambda v, i: v
        + F.pmod(F.xxhash64(seed_col * 977 + i + jitter), F.lit(100)).cast("double")
        / 5000.0,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--vectors", type=int, default=200_000)
    ap.add_argument("--queries", type=int, default=500)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--sweep",
        action="store_true",
        help="recall-vs-cost sweep: band-OR (n_tables x planes) and IVF "
        "(n_probe) configs, reporting overall AND tail recall (tail = the "
        "exact top-k pairs that are NOT the planted near-dup — the general "
        "k-NN task, cos ~ 0.5-0.7 neighbors)",
    )
    ap.add_argument(
        "--clustered",
        type=int,
        default=0,
        help="generate N-cluster vectors instead of uniform (center + "
        "±0.25 spread) — the regime centroid-based tiers (IVF, PQ) are "
        "built for; uniform is their floor",
    )
    ap.add_argument(
        "--tiers",
        default=None,
        help="comma-separated config-name PREFIXES: run only matching sweep "
        "tiers (builds still run and are reported separately — they are "
        "one-off index costs). E.g. --tiers pq_m8k64_rerank,cpq,civfpq for "
        "a 400k BoW crossover rung without the 400k band-OR/IVF walls.",
    )
    ap.add_argument(
        "--cells",
        type=int,
        default=0,
        help="centroid-cell count for the sweep's IVF/PQ families "
        "(default 0 = the legacy vectors/400 rule; the sqrt-N coverage "
        "lever, e.g. --cells 632 at 400k)",
    )
    ap.add_argument(
        "--assign-r",
        type=int,
        default=1,
        help="multi-assignment: encode each corpus vector into its r "
        "nearest cells (adds rivfpq{r}/crivfpq{r} sweep tiers; residual "
        "codes are taken against each copy's own cell)",
    )
    ap.add_argument(
        "--m",
        type=int,
        default=8,
        help="PQ code width for the crivfpq (centered-residual IVFADC) "
        "family: m sub-codebooks of dim/m-wide slices (default 8). m=16 "
        "doubles code bytes and halves per-block quantization error — the "
        "code-capacity lever the r10 verdict asked to measure.",
    )
    ap.add_argument(
        "--bow",
        action="store_true",
        help="vectors = hashed_bow_embeddings of the Zipf corpus "
        "(tools/corpus_fixtures.zipf_docs) — NATURALLY clustered text "
        "vectors, the production regime; queries are near-dup texts "
        "(source doc + one extra token)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="scale_ann")
    if args.bow:
        corpus, queries = _bow_fixture(spark, args)
    else:
        corpus = (
            spark.range(args.vectors)
            .select(
                F.col("id").alias("vec_id"),
                _vec(F.col("id"), clusters=args.clustered).alias("embedding"),
            )
            .repartition(32)
            .localCheckpoint()
        )
        corpus.count()
        stride = max(1, args.vectors // args.queries)
        # query ids are OFFSET past the corpus ids: cosine_topk (and the
        # rerank tiers) exclude identical-id pairs, so a query that reused
        # its source vector's id would have its planted neighbor filtered
        # out of every result
        queries = (
            spark.range(args.queries)
            .select(
                (F.col("id") * stride + args.vectors).alias("vec_id"),
                _vec(F.col("id") * stride, jitter=1, clusters=args.clustered).alias(
                    "embedding"
                ),
            )
            .localCheckpoint()
        )
        queries.count()

    if args.sweep:
        _sweep(spark, corpus, queries, args)
        spark.stop()
        return

    t0 = time.time()
    exact = cosine_topk(corpus, queries, k=args.k).localCheckpoint()
    n = exact.count()
    print(
        json.dumps(
            {"job": "ann_brute_exact", "sec": round(time.time() - t0, 2), "rows": n}
        ),
        flush=True,
    )
    # planted-neighbor sanity: every query's jittered source (id = q_id -
    # n_vectors) should be its top hit in the exact result
    planted_pred = F.col("n_id") == F.col("q_id") - args.vectors
    planted = exact.filter((F.col("rnk") == 1) & planted_pred).count()
    print(json.dumps({"job": "ann_planted_top1", "hit": planted, "of": args.queries}), flush=True)

    # the "_np" tier names are the retired BLAS arms (brute top-k and
    # signatures); kept so committed SCALE_r0x rows stay comparable.
    # cosine_topk and ivf_index still do their n x k products in BLAS (it
    # picks the candidates the exact replay then scores), and the brute
    # tier matched the retired arm's wall at 1.6M x 200 queries; band-OR
    # signatures now come from the bit-exact sweep.
    tiers = [
        ("ann_brute_np", lambda: cosine_topk(corpus, queries, k=args.k)),
        (
            "ann_bandor_3x8_np",
            lambda: lsh_ann_bandor(
                corpus,
                queries,
                planes_per_table=8,
                n_tables=3,
                dim=DIM,
                k=args.k,
            ),
        ),
        (
            "ann_ivf_probe4_np",
            lambda: ivf_ann_topk(
                corpus,
                queries,
                n_probe=4,
                k=args.k,
                centroid_filter=F.col("vec_id") % 400 == 1,
            ),
        ),
    ]
    for name, fn in tiers:
        t0 = time.time()
        out = fn().localCheckpoint()
        n = out.count()
        wall = round(time.time() - t0, 2)
        rec = ann_recall(out, exact).first()
        _emit_tier(name, wall, n, rec, out, planted_pred, args)
    spark.stop()


def _emit_tier(name, wall, n, rec, out, planted_pred, args) -> None:
    # the near-dup retrieval task proper: fraction of queries whose
    # PLANTED neighbor (cos ~ 0.9998) appears in the tier's top-k —
    # overall recall@k also counts the quasi-random cos~0.5 tail, which
    # no bucketed index is designed to find
    found = out.filter(planted_pred).select("q_id").distinct().count()
    print(
        json.dumps(
            {
                "job": name,
                "sec": wall,
                "rows": n,
                "recall_at_k": float(rec["recall"]),
                "planted_found": found,
                "planted_frac": round(found / args.queries, 4),
            }
        ),
        flush=True,
    )


def _bow_fixture(spark, args):
    """Zipf-corpus hashed-BoW vectors (round-7 verdict ask #3): the text →
    vector bridge applied to the Zipf fixture gives NATURALLY clustered
    embeddings — the 6 universal stop words put a large shared component in
    every vector and the 2000-word mid body groups docs by token overlap —
    i.e. the regime real embedding corpora live in, measured instead of
    simulated. Queries re-embed every stride-th doc's text plus ONE extra
    token (a true near-dup in TEXT space, not a vector-space jitter)."""
    from corpus_fixtures import zipf_docs

    from crypto_market_data_etl_spark.operators.similarity import (
        hashed_bow_embeddings,
    )

    docs = zipf_docs(spark, args.vectors)
    corpus = (
        hashed_bow_embeddings(docs, dim=DIM)
        .withColumnRenamed("doc_id", "vec_id")
        .filter(F.col("embedding").isNotNull())
        .repartition(32)
        .localCheckpoint()
    )
    n = corpus.count()
    stride = max(1, args.vectors // args.queries)
    q_docs = docs.filter(F.col("doc_id") % stride == 0).select(
        (F.col("doc_id") + args.vectors).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqueryextra")).alias("text"),
    )
    queries = (
        hashed_bow_embeddings(q_docs, dim=DIM)
        .withColumnRenamed("doc_id", "vec_id")
        .filter(F.col("embedding").isNotNull())
        .localCheckpoint()
    )
    nq = queries.count()
    args.queries = nq  # planted fractions normalize by the real count
    print(
        json.dumps({"job": "bow_fixture", "corpus_vecs": n, "query_vecs": nq}),
        flush=True,
    )
    return corpus, queries


def _sweep(spark, corpus, queries, args) -> None:
    """Recall-vs-cost curves: which knob buys TAIL recall (general k-NN on
    cos~0.5-0.7 neighbors), and at what cost vs brute force.

    COST PROTOCOL (round-10): brute force runs IN the measurement rotation
    — once before the configs, once after every 4th config, once at the
    end — and every committed ratio is ``cost_vs_brute_warm`` against the
    MINIMUM interleaved brute wall (the strictest denominator; the r9
    sweeps' single-shot cold brute varied 6-20 s same-box and flattered
    every tier). The cold reference wall is kept alongside as
    ``cost_vs_brute_cold`` for cross-round comparability.

    Index/codebook builds are one-off artifact costs, reported separately
    — and SKIPPED entirely when ``--tiers`` excludes every config they
    feed (a pq-only sweep no longer pays the multi-minute residual build
    wall). ``--cells`` overrides the N/400 centroid-count rule (the sqrt-N
    lever); ``--assign-r 2`` adds multi-assignment residual tiers
    (``rivfpq2``/``crivfpq2`` — each corpus vector encoded in its 2
    nearest cells, the probe-coverage lever for fuzzy cell boundaries).

    Emits one JSON line per config with overall recall@k, tail recall@k
    (planted pairs excluded from the exact reference), wall, and both cost
    ratios; ``progress``-keyed lines stream during the run (artifact
    recorders key on ``job``).
    """
    prefixes = (
        tuple(p.strip() for p in args.tiers.split(",") if p.strip())
        if args.tiers
        else None
    )

    # scan-volume bookkeeping (the committed 100 TB metric alongside wall):
    # per-config BYTES TOUCHED per query — candidate codes at m bytes/vec
    # (probed cells for IVF-ADC, the whole code table for full-scan PQ)
    # plus the raw-vector rerank shortlist — vs brute's full raw scan.
    # Local walls ride a 32-thread RAM-bandwidth box; at cluster scale the
    # scan volume IS the cost, so both are recorded.
    n_corpus = corpus.count()
    brute_bytes_per_q = n_corpus * DIM * 8
    scan_meta: dict[str, dict] = {}

    def reg_scan(name, *, index=None, cents=None, n_probe=0,
                 center=None, shortlist=0, full_codes=False, m_bytes=8):
        scan_meta[name] = {
            "index": index, "cents": cents, "n_probe": n_probe,
            "center": center, "shortlist": shortlist,
            "full_codes": full_codes, "m_bytes": m_bytes,
        }

    _probe_cache: dict = {}

    def scan_stats(meta) -> dict:
        """avg candidates + bytes/query for one registered config."""
        if meta["full_codes"]:
            cand = float(n_corpus)
        else:
            from crypto_market_data_etl_spark.operators.similarity import (
                _collect_small_side,
                probe_cells_expr,
            )

            key = (id(meta["index"]), id(meta["cents"]), meta["n_probe"],
                   tuple(meta["center"]) if meta["center"] else None)
            if key not in _probe_cache:
                cent_rows = _collect_small_side(
                    meta["cents"].select("c_id", "c_vec").orderBy("c_id"),
                    "centroid",
                )
                sizes = meta["index"].groupBy("c_id").count()
                probed = queries.select(
                    F.explode(
                        probe_cells_expr(
                            F.col("embedding"), cent_rows,
                            meta["n_probe"], meta["center"],
                        )
                    ).alias("c_id")
                )
                tot = (
                    probed.join(sizes, "c_id")
                    .agg(F.sum("count").alias("cand"))
                    .first()["cand"]
                ) or 0
                nq = queries.count()
                _probe_cache[key] = tot / max(nq, 1)
            cand = _probe_cache[key]
        bytes_q = cand * meta["m_bytes"] + meta["shortlist"] * DIM * 8
        return {
            "avg_candidates_per_q": round(cand, 1),
            "scan_bytes_per_q": int(bytes_q),
            "scan_frac_vs_brute": round(bytes_q / brute_bytes_per_q, 5),
        }

    def want(fam: str) -> bool:
        """True when some selected tier could need this build family."""
        if prefixes is None:
            return True
        return any(s.startswith(fam) or fam.startswith(s) for s in prefixes)

    seed_mod = max(1, args.vectors // args.cells) if args.cells else 400
    n_cells = max(2, args.vectors // seed_mod)
    seed_filter = F.col("vec_id") % seed_mod == 1

    t0 = time.time()
    exact = cosine_topk(corpus, queries, k=args.k).localCheckpoint()
    n_exact = exact.count()
    brute_cold = round(time.time() - t0, 2)
    planted_pred = F.col("n_id") == F.col("q_id") - args.vectors
    tail = exact.filter(~planted_pred).localCheckpoint()
    n_tail = tail.count()
    print(
        json.dumps(
            {
                "job": "sweep_brute_reference",
                "sec": brute_cold,
                "exact_pairs": n_exact,
                "tail_pairs": n_tail,
                "note": "cold first-touch wall; committed ratios use the "
                "interleaved warm minimum (brute_warm_interleaved)",
            }
        ),
        flush=True,
    )

    def brute_once() -> float:
        t0 = time.time()
        cosine_topk(corpus, queries, k=args.k).localCheckpoint().count()
        return round(time.time() - t0, 2)

    configs: list[tuple[str, object]] = []
    if want("bandor"):
        for n_tables, planes in [(3, 8), (8, 8), (8, 6), (16, 6), (16, 4), (32, 4)]:
            configs.append(
                (
                    f"bandor_{n_tables}x{planes}",
                    lambda nt=n_tables, b=planes: lsh_ann_bandor(
                        corpus, queries, planes_per_table=b, n_tables=nt,
                        dim=DIM, k=args.k,
                    ),
                )
            )
    if want(f"ivf_{n_cells}c"):
        for n_probe in (4, 16, 48, 96):
            configs.append(
                (
                    f"ivf_{n_cells}c_probe{n_probe}",
                    lambda p=n_probe: ivf_ann_topk(
                        corpus, queries, n_probe=p, k=args.k,
                        centroid_filter=seed_filter,
                    ),
                )
            )
    # k-means-refined centroids (same count): tighter cells shift the whole
    # probe-fraction curve up; the training cost is one-off and amortized
    # across query batches, so it is reported separately, not in the
    # per-config wall
    from crypto_market_data_etl_spark.operators.similarity import kmeans_train

    trained = None
    if want("ivf_km4") or want("ivfpq_m8k64"):
        t0 = time.time()
        trained = kmeans_train(corpus, centroid_filter=seed_filter, n_iters=4)
        trained.count()
        print(
            json.dumps(
                {"job": "ivf_kmeans_train_4iter", "sec": round(time.time() - t0, 2)}
            ),
            flush=True,
        )
    if want("ivf_km4"):
        for n_probe in (16, 48, 96):
            configs.append(
                (
                    f"ivf_km4_{n_cells}c_probe{n_probe}",
                    lambda p=n_probe: ivf_ann_topk(
                        corpus, queries, n_probe=p, k=args.k,
                        centroids=trained,
                    ),
                )
            )
    bow_mean = None
    trained_cen = None
    if args.bow and (
        want("ivf_cen") or want("cpq") or want("civfpq") or want("crivfpq")
    ):
        # mean-CENTERED assignment space (the shared-component fix for
        # hashed-BoW vectors — see center_embeddings): centroids trained on
        # the centered column, probe centered, rerank raw. One-off costs
        # (mean + centered kmeans) reported separately like the others.
        from crypto_market_data_etl_spark.operators.similarity import (
            center_embeddings,
            embedding_mean,
        )

        t0 = time.time()
        bow_mean = embedding_mean(corpus)
        trained_cen = kmeans_train(
            center_embeddings(corpus, bow_mean, out_col="cvec"),
            vec_col="cvec",
            centroid_filter=seed_filter,
            n_iters=4,
        )
        trained_cen.count()
        print(
            json.dumps(
                {"job": "ivf_centered_mean+kmeans", "sec": round(time.time() - t0, 2)}
            ),
            flush=True,
        )
        if want("ivf_cen"):
            for n_probe in (4, 16, 48):
                configs.append(
                    (
                        f"ivf_cen_km4_{n_cells}c_probe{n_probe}",
                        lambda p=n_probe: ivf_ann_topk(
                            corpus, queries, n_probe=p, k=args.k,
                            centroids=trained_cen, center_vec=bow_mean,
                        ),
                    )
                )
    # product quantization: codes are 64x smaller than the raw vectors, so
    # the top-k scan touches codes + per-query LUTs only. Train/encode are
    # build-once index costs, reported separately.
    from crypto_market_data_etl_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_topk_rerank,
        pq_train,
    )

    books64 = None
    for m, kc in ((8, 16), (8, 64)):
        need_ivfpq = (m, kc) == (8, 64) and want("ivfpq_m8k64")
        if not (want(f"pq_m{m}k{kc}") or need_ivfpq):
            continue
        t0 = time.time()
        books = pq_train(
            corpus, m=m, k=kc, n_iters=3, dim=DIM, **_pq_seed(args, kc)
        )
        books.count()
        train_wall = round(time.time() - t0, 2)
        t0 = time.time()
        codes = pq_encode(corpus, books).localCheckpoint()
        codes.count()
        encode_wall = round(time.time() - t0, 2)
        print(
            json.dumps(
                {
                    "job": f"pq_m{m}k{kc}_build",
                    "train_sec": train_wall,
                    "encode_sec": encode_wall,
                }
            ),
            flush=True,
        )
        configs.append(
            (
                f"pq_m{m}k{kc}",
                lambda b=books, c=codes: pq_topk(c, queries, b, k=args.k),
            )
        )
        reg_scan(f"pq_m{m}k{kc}", full_codes=True, m_bytes=m)
        configs.append(
            (
                f"pq_m{m}k{kc}_rerank400",
                lambda b=books, c=codes: pq_topk_rerank(
                    c, queries, b, corpus, k=args.k, shortlist=400
                ),
            )
        )
        reg_scan(
            f"pq_m{m}k{kc}_rerank400", full_codes=True, m_bytes=m, shortlist=400
        )
        if (m, kc) == (8, 64):
            books64 = books

    # IVF+PQ composed (round-8): kmeans coarse cells + m8k64 codes + exact
    # rerank. The fused index is one corpus pass (build-once, reported
    # separately); the ADC gather then touches only probed cells, so the
    # scan cost is ~n_probe/n_cells of pq_m8k64's full-table ADC at equal
    # shortlist.
    from crypto_market_data_etl_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    if want("ivfpq_m8k64"):
        t0 = time.time()
        ivfpq_idx = ivfpq_index(corpus, trained, books64).localCheckpoint()
        ivfpq_idx.count()
        print(
            json.dumps(
                {"job": "ivfpq_m8k64_index_build", "sec": round(time.time() - t0, 2)}
            ),
            flush=True,
        )
        for n_probe in (8, 16, 32, 64):
            configs.append(
                (
                    f"ivfpq_m8k64_probe{n_probe}_rerank400",
                    lambda p=n_probe: ivfpq_topk(
                        ivfpq_idx, queries, trained, books64, corpus,
                        n_probe=p, k=args.k, shortlist=400,
                    ),
                )
            )
            reg_scan(
                f"ivfpq_m8k64_probe{n_probe}_rerank400",
                index=ivfpq_idx, cents=trained, n_probe=n_probe, shortlist=400,
            )
    # residual-coded IVFADC (round-9): codebooks trained on coarse
    # residuals, codes over a - c(a), per-(query, cell) ADC tables.
    # RESIDUAL-MODE CONTRACT: centroids must be assignment-space means —
    # kmeans over the NORMALIZED column. Raw-scale centroids (norm ~4.6 on
    # this fixture) made every residual ~ -c and recall CRATERED
    # (clustered rung: 0.93 plain -> 0.32 at probe32, non-monotone in
    # probes — the measured pathology the operator now refuses loudly).
    from crypto_market_data_etl_spark.operators.similarity import (
        coarse_residuals,
        with_norm,
    )

    if want("rivfpq"):
        t0 = time.time()
        corpus_n = (
            with_norm(corpus)
            .select(
                "vec_id",
                F.expr("transform(embedding, x -> x / norm)").alias("embedding"),
            )
            .localCheckpoint()
        )
        corpus_n.count()
        trained_n = kmeans_train(corpus_n, centroid_filter=seed_filter, n_iters=3)
        trained_n.count()
        # checkpoint the residual frame: pq_train's per-block kmeans re-reads
        # its input ~8 x (1 + n_iters) times, and recomputing the corpus
        # assignment pass each time quadrupled the build wall (84 s -> ~25 s)
        resid = coarse_residuals(corpus, trained_n).localCheckpoint()
        resid.count()
        books_res = pq_train(
            resid, vec_col="resid", m=8, k=64, n_iters=3, dim=DIM,
            **_pq_seed(args, 64),
        )
        books_res.count()
        res_idx = ivfpq_index(
            corpus, trained_n, books_res, residual=True
        ).localCheckpoint()
        res_idx.count()
        print(
            json.dumps(
                {"job": "rivfpq_m8k64_index_build", "sec": round(time.time() - t0, 2)}
            ),
            flush=True,
        )
        for n_probe in (8, 32):
            configs.append(
                (
                    f"rivfpq_m8k64_probe{n_probe}_rerank400",
                    lambda p=n_probe: ivfpq_topk(
                        res_idx, queries, trained_n, books_res, corpus,
                        n_probe=p, k=args.k, shortlist=400, residual=True,
                    ),
                )
            )
            reg_scan(
                f"rivfpq_m8k64_probe{n_probe}_rerank400",
                index=res_idx, cents=trained_n, n_probe=n_probe, shortlist=400,
            )
        if args.assign_r > 1:
            # multi-assignment (probe-coverage lever): same centroids and
            # codebooks, each vector encoded in its r nearest cells with
            # residual codes against each copy's OWN cell
            t0 = time.time()
            res_idx_r = ivfpq_index(
                corpus, trained_n, books_res, residual=True,
                assign_r=args.assign_r,
            ).localCheckpoint()
            res_idx_r.count()
            print(
                json.dumps(
                    {
                        "job": f"rivfpq{args.assign_r}_m8k64_index_build",
                        "sec": round(time.time() - t0, 2),
                    }
                ),
                flush=True,
            )
            for n_probe in (8, 32):
                configs.append(
                    (
                        f"rivfpq{args.assign_r}_m8k64_probe{n_probe}_rerank400",
                        lambda p=n_probe: ivfpq_topk(
                            res_idx_r, queries, trained_n, books_res, corpus,
                            n_probe=p, k=args.k, shortlist=400, residual=True,
                        ),
                    )
                )
                reg_scan(
                    f"rivfpq{args.assign_r}_m8k64_probe{n_probe}_rerank400",
                    index=res_idx_r, cents=trained_n, n_probe=n_probe,
                    shortlist=400,
                )
    if args.bow and (want("cpq") or want("civfpq")):
        # FULLY-centered PQ/IVF+PQ (shared-component corpora): train,
        # encode, assign, and ADC on the centered frames; rerank raw via
        # rerank_queries. Raw-ADC can't separate content when the stop-word
        # mass dominates every codebook block — this is the measured fix.
        t0 = time.time()
        ccorp = (
            center_embeddings(corpus, bow_mean, out_col="cvec")
            .select("vec_id", F.col("cvec").alias("embedding"))
            .localCheckpoint()
        )
        ccorp.count()
        cq = (
            center_embeddings(queries, bow_mean, out_col="cvec")
            .select("vec_id", F.col("cvec").alias("embedding"))
            .localCheckpoint()
        )
        cq.count()
        books_cen = pq_train(ccorp, m=8, k=64, n_iters=3, dim=DIM, **_pq_seed(args, 64))
        books_cen.count()
        codes_cen = pq_encode(ccorp, books_cen).localCheckpoint()
        codes_cen.count()
        cen_idx = None
        if want("civfpq"):
            cen_idx = ivfpq_index(ccorp, trained_cen, books_cen).localCheckpoint()
            cen_idx.count()
        print(
            json.dumps(
                {"job": "centered_pq_build", "sec": round(time.time() - t0, 2)}
            ),
            flush=True,
        )
        if want("cpq"):
            configs.append(
                (
                    "cpq_m8k64_rerank400",
                    lambda: pq_topk_rerank(
                        codes_cen, cq, books_cen, corpus,
                        k=args.k, shortlist=400, rerank_queries=queries,
                    ),
                )
            )
            reg_scan("cpq_m8k64_rerank400", full_codes=True, shortlist=400)
        if want("civfpq"):
            for n_probe in (8, 32):
                configs.append(
                    (
                        f"civfpq_m8k64_probe{n_probe}_rerank400",
                        lambda p=n_probe: ivfpq_topk(
                            cen_idx, cq, trained_cen, books_cen, corpus,
                            n_probe=p, k=args.k, shortlist=400,
                            rerank_queries=queries,
                        ),
                    )
                )
                reg_scan(
                    f"civfpq_m8k64_probe{n_probe}_rerank400",
                    index=cen_idx, cents=trained_cen, n_probe=n_probe,
                    center=bow_mean, shortlist=400,
                )
    if args.bow and want("crivfpq"):
        # CENTERED-residual IVFADC: assignment centered (trained_cen +
        # bow_mean), codebooks on residuals in THAT space — the next rung
        # past centered-ADC (which removes one global direction; residuals
        # remove each cell's own mean direction).
        from crypto_market_data_etl_spark.operators.similarity import (
            coarse_residuals,
        )

        mm = args.m  # code width: the r10-verdict code-capacity lever
        t0 = time.time()
        cresid = coarse_residuals(
            corpus, trained_cen, center_vec=bow_mean
        ).localCheckpoint()
        cresid.count()
        books_cres = pq_train(
            cresid, vec_col="resid", m=mm, k=64, n_iters=3, dim=DIM,
            **_pq_seed(args, 64),
        )
        books_cres.count()
        # the assign_r=1 index only serves the crivfpq_m{mm} tier family —
        # champion-config rungs (--tiers crivfpq2_...) skip its encode
        # pass entirely (437 s at 12.8M in SCALE_r12, pure waste there)
        r1_fam = f"crivfpq_m{mm}"
        want_r1 = prefixes is None or any(
            s.startswith("crivfpq_m") or r1_fam.startswith(s)
            for s in prefixes
        )
        if want_r1:
            cres_idx = ivfpq_index(
                corpus, trained_cen, books_cres, center_vec=bow_mean,
                residual=True,
            ).localCheckpoint()
            cres_idx.count()
            print(
                json.dumps(
                    {"job": f"crivfpq_m{mm}k64_index_build",
                     "sec": round(time.time() - t0, 2)}
                ),
                flush=True,
            )
        # extended probe ladder: residual ADC nearly saturates the
        # probe-limited recall ceiling (probe16: 0.494 vs the exact-IVF
        # 0.522 ceiling at 1/24 its cost), so the high-probe rungs are
        # where it passes the full-scan centered-ADC point — per-probe
        # marginal cost is an ADC gather over codes, not a raw-vector
        # rerank of whole cells
        for n_probe in (4, 8, 16, 32, 64, 96) if want_r1 else ():
            configs.append(
                (
                    f"crivfpq_m{mm}k64_probe{n_probe}_rerank400",
                    lambda p=n_probe: ivfpq_topk(
                        cres_idx, queries, trained_cen, books_cres, corpus,
                        n_probe=p, k=args.k, shortlist=400,
                        center_vec=bow_mean, residual=True,
                    ),
                )
            )
            reg_scan(
                f"crivfpq_m{mm}k64_probe{n_probe}_rerank400",
                index=cres_idx, cents=trained_cen, n_probe=n_probe,
                center=bow_mean, shortlist=400, m_bytes=mm,
            )
        for n_probe in (64, 96) if want_r1 else ():
            configs.append(
                (
                    f"crivfpq_m{mm}k64_probe{n_probe}_rerank1600",
                    lambda p=n_probe: ivfpq_topk(
                        cres_idx, queries, trained_cen, books_cres, corpus,
                        n_probe=p, k=args.k, shortlist=1600,
                        center_vec=bow_mean, residual=True,
                    ),
                )
            )
            reg_scan(
                f"crivfpq_m{mm}k64_probe{n_probe}_rerank1600",
                index=cres_idx, cents=trained_cen, n_probe=n_probe,
                center=bow_mean, shortlist=1600, m_bytes=mm,
            )
        if args.assign_r > 1:
            t0 = time.time()
            cres_idx_r = ivfpq_index(
                corpus, trained_cen, books_cres, center_vec=bow_mean,
                residual=True, assign_r=args.assign_r,
            ).localCheckpoint()
            cres_idx_r.count()
            print(
                json.dumps(
                    {
                        "job": f"crivfpq{args.assign_r}_m{mm}k64_index_build",
                        "sec": round(time.time() - t0, 2),
                    }
                ),
                flush=True,
            )
            # deep-probe rungs (128+/3200+): the r10 committed negatives say
            # probes/shortlist bind at 6.4M, so the ladder extends to where
            # the scan budget (0.5% of brute bytes) actually runs out
            for n_probe, shortlist in (
                (8, 400), (16, 400), (32, 400), (64, 1600), (96, 1600),
                (96, 6400), (128, 3200), (192, 3200), (256, 6400),
            ):
                name = (
                    f"crivfpq{args.assign_r}_m{mm}k64_probe{n_probe}"
                    f"_rerank{shortlist}"
                )
                configs.append(
                    (
                        name,
                        lambda p=n_probe, sl=shortlist: ivfpq_topk(
                            cres_idx_r, queries, trained_cen, books_cres,
                            corpus, n_probe=p, k=args.k, shortlist=sl,
                            center_vec=bow_mean, residual=True,
                        ),
                    )
                )
                reg_scan(
                    name, index=cres_idx_r, cents=trained_cen,
                    n_probe=n_probe, center=bow_mean,
                    shortlist=shortlist, m_bytes=mm,
                )

    if prefixes is not None:
        skipped = [n for n, _ in configs if not n.startswith(prefixes)]
        configs = [(n, f) for n, f in configs if n.startswith(prefixes)]
        print(
            json.dumps(
                {"job": "tier_filter", "kept": len(configs), "skipped": skipped}
            ),
            flush=True,
        )
    # measurement rotation: brute interleaves with the tiers so the
    # denominator is warm on the SAME session state the tiers see
    warm = [brute_once()]
    print(json.dumps({"progress": "brute_warm", "sec": warm[-1]}), flush=True)
    results = []
    for i, (name, fn) in enumerate(configs):
        t0 = time.time()
        out = fn().localCheckpoint()
        out.count()
        wall = round(time.time() - t0, 2)
        rec = ann_recall(out, exact).first()
        tail_rec = ann_recall(out, tail).first()
        results.append((name, wall, float(rec["recall"]), float(tail_rec["recall"])))
        print(json.dumps({"progress": name, "sec": wall}), flush=True)
        if (i + 1) % 4 == 0 and (i + 1) < len(configs):
            warm.append(brute_once())
            print(json.dumps({"progress": "brute_warm", "sec": warm[-1]}), flush=True)
    warm.append(brute_once())
    bw_min = min(warm)
    bw_med = sorted(warm)[len(warm) // 2]
    print(
        json.dumps(
            {
                "job": "brute_warm_interleaved",
                "walls": warm,
                "min": bw_min,
                "median": bw_med,
                "cold_reference_sec": brute_cold,
                "corpus_vectors": n_corpus,
                "scan_bytes_per_q": brute_bytes_per_q,
                "note": "cost_vs_brute_warm divides by the MIN interleaved "
                "wall (strictest denominator)",
            }
        ),
        flush=True,
    )
    for name, wall, r, tr in results:
        line = {
            "job": name,
            "sec": wall,
            "cost_vs_brute_warm": round(wall / bw_min, 3),
            "cost_vs_brute_cold": round(wall / brute_cold, 3),
            "recall_at_k": r,
            "tail_recall_at_k": tr,
        }
        if name in scan_meta:
            line.update(scan_stats(scan_meta[name]))
        print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
