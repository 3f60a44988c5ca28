"""Similarity search over embedding columns (``array<float>``).

One physical tier per operator, chosen by measurement (see the numbers in
each docstring). Two physical forms exist in the module:

- **Expression form** (``zip_with`` + ``aggregate`` HOF fold, :func:`_dot`):
  JVM-side, no Python, bit-reproducible against the DuckDB oracle — but
  the fold is interpreted per element (~1 µs per 64-dim dot), so it serves
  candidate-bounded, row-paired work (reranks, norms, small probe sets)
  and :func:`lsh_ann_topk`'s signatures, where it measured faster.
- **Arrow form** (``mapInArrow`` + numpy): ~100x more dot throughput; one
  matrix x matrix product per Arrow batch is the right physical design for
  corpus-scale n x k assignment and scoring. :func:`_sweep_rows` replays
  the fold's FP sequence bit-exactly and backs the oracle-checked
  operators: BLAS does their n x k product but only picks candidates
  within two rounding quanta of the cut, and the sweep recomputes those
  exactly — in :func:`cosine_topk`, and in :func:`_assign_cells`, the one
  kernel of the IVF cell rule, shared by :func:`ivf_index`,
  :func:`ivf_ann_topk`'s query probes and :func:`semantic_dedup`'s
  clustering. The all-pairs :func:`_sweep_cross` backs only
  :func:`_signature_sweep`'s sign decisions. The kernels with no oracle
  (:func:`assign_centroids_np`, the PQ family) use BLAS as is.

Every vector kernel crosses the JVM/numpy boundary the same way: workers
decode a list column into a length-checked matrix (:func:`_vector_matrix`)
and emit list columns (:func:`_list_column`), the driver collects its small
side through the same decode (:func:`_collect_vectors`), and ids and
pass-through columns stay the original Arrow arrays — an int64 id past 2^53
survives a NULL id in its batch. Wrong-length vectors, and NULL vectors
where a kernel has no NULL route, raise a ValueError naming the operator.

Extension surface (BASELINE.json): approximate-nearest-neighbor primitives.

- :func:`cosine_topk` — brute-force cosine top-k of a bounded query set
  against the corpus. The query side is collected into every task (it is
  small by contract); the corpus streams through — no shuffle of the big
  side at all. This is the exactness baseline; cost O(|Q| x |corpus| x dim).
- :func:`lsh_buckets` — random-hyperplane (sign) LSH: each vector gets a
  b-bit bucket signature; near neighbors collide with high probability.
  Candidate generation = equi-join on the bucket — the 100 TB path (per-
  bucket work instead of |Q| x |corpus|). Hyperplane weights are +-1 derived
  from md5(plane, dim) — deterministic, reproducible in the DuckDB oracle,
  and multiplication-free in spirit (sign flips).

Row-paired reranks stay on the expression form (:func:`_rerank_candidates`
measures why); n x k cross kernels go through the Arrow path.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize


def _dot(a, b):
    # NOTE (r15, measured): an unrolled element_at fast path was prototyped
    # and REVERTED — warm HOF evaluation does 12.8M multiply-adds in ~0.1 s
    # (8 cores), a pure unrolled form is only ~1.6x that, and a size-guarded
    # hybrid is 2-4x SLOWER because the CodegenFallback child disables
    # whole-stage codegen for the whole projection. The fold is not the
    # bottleneck; stage parallelism is (see spread_small_input call sites).
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


#: Decimal places of every rounded cosine, mean and normalized cell here.
_ROUND_DP = 6


def _once(expr, fn):
    """Bind ``expr`` as a lambda variable so ``fn`` can reference it many
    times with ONE evaluation: ``transform(array(e), x -> body)[0]``.

    The staged-column alternative (withColumn) is undone by CollapseProject
    wherever no explode/agg boundary intervenes — the re-evaluation trap
    measured in sampling.py — and a column reference inside a higher-order
    lambda re-evaluates its whole subtree per element. A lambda VARIABLE is
    evaluated once when the singleton array is built; pure-projection
    pipelines (streams before their watermarked agg) get expression reuse
    with no staging boundary at all."""
    return F.transform(F.array(expr), fn)[0]


def with_norm(df: DataFrame, vec_col: str = "embedding", out: str = "norm") -> DataFrame:
    return df.withColumn(out, F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))


def embedding_mean(df: DataFrame, vec_col: str = "embedding") -> list[float]:
    """Elementwise corpus mean of an embedding column, as a plain list.

    One corpus pass (posexplode → per-dimension avg, map-side partial agg);
    the driver collect is DIM-bounded, never corpus-bounded. This is the
    center vector for :func:`center_embeddings` / the ``center`` knobs on
    the IVF family — at 100 TB you compute it once on a sample alongside
    the centroid training and reuse it (it is part of the index artifact,
    like the centroids themselves)."""
    rows = (
        df.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg("v").alias("m"))
        .orderBy("pos")
        .collect()
    )
    if not rows:
        raise ValueError(f"embedding_mean: no vectors in column {vec_col!r}")
    return [float(r["m"]) for r in rows]


#: ``center="auto"`` threshold on ``||mean(v)|| / mean(||v||)``. Measured
#: (5k vectors each): Zipf hashed-BoW **0.465** (shared stop-word direction
#: — centering pays), uniform synthetic 0.015, 200-cluster synthetic 0.062,
#: the testdata embeddings table 0.049. The statistic is ~0 whenever
#: vectors point every which way and approaches 1 as one direction
#: dominates; 0.25 splits the measured regimes with 5x margin on each side.
CENTER_AUTO_RATIO = 0.25


def shared_component_ratio(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[float, list[float]]:
    """``(||mean(v)|| / mean(||v||), mean_vector)`` — the shared-component
    statistic behind ``center="auto"`` (see :data:`CENTER_AUTO_RATIO`).
    Two single-pass aggs (per-dimension mean + average norm); run it on a
    SAMPLE at corpus scale, like centroid training."""
    import math

    mean = embedding_mean(df, vec_col)
    avg_norm = (
        df.select(
            F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("__n")
        )
        .agg(F.avg("__n"))
        .collect()[0][0]
    )
    if not avg_norm:
        return 0.0, mean
    return math.sqrt(sum(x * x for x in mean)) / avg_norm, mean


def center_embeddings(
    df: DataFrame,
    mean: list[float],
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Subtract a (broadcast-literal) mean vector elementwise.

    Why this exists: corpora whose vectors share a large common component —
    hashed-BoW text vectors are the canonical case, where universal stop
    words put the SAME direction into every vector — defeat cosine cell
    assignment: every vector is nearest the handful of centroids aligned
    with the shared direction, so IVF cells skew catastrophically (measured
    on the Zipf/BoW fixture: max cell occupancy 593 vs the ideal 100 at 200
    cells / 20k vectors; probing then scans most of the corpus, SCALE_r07/8
    ann.sweep_bow). Centering removes the shared component so assignment
    spreads by each vector's DISTINCTIVE content (max occupancy 172 on the
    same fixture) — the standard IR/embedding-pipeline move.

    Use it for the ASSIGNMENT space only (cell choice is a recall
    heuristic): train centroids on the centered column, assign and probe
    centered, but score/rerank on the raw vectors so the returned metric is
    still raw-vector cosine — exactly how the ``center`` knobs of
    :func:`ivf_ann_topk` / :func:`ivfpq_index` / :func:`ivfpq_topk` wire it.
    """
    m_lit = F.array(*[F.lit(float(x)) for x in mean])
    return df.withColumn(
        out_col or vec_col, F.zip_with(F.col(vec_col), m_lit, lambda x, y: x - y)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query vector (brute force, collected queries).

    Output: (q_id, n_id, rnk, sim). Ties broken by neighbor id.

    Physical form: the corpus streams through ``mapInArrow``; each Arrow
    batch scores against the collected query matrix with one BLAS matmul
    that only PICKS candidates — the batch's top ``k`` per query plus
    everything within two rounding quanta of the ``k``-th — and the picked
    pairs' cosines are recomputed with the bit-exact fold replay
    :func:`_sweep_rows`, corpus norms included. The
    final ranking window sees O(partitions × k) rows per query instead of
    the WHOLE n×q cross product, at BLAS speed. Rounding and the rank
    itself stay in Spark expressions (6dp ``round``, ``row_number`` by
    (sim desc, n_id)), so the output equals the ``_dot`` fold form —
    cross join, ``q_id != n_id`` filter, rounded sim, rank — bit for bit
    (pytest-asserted).

    Contract notes: the query side is collected to the driver when the
    DataFrame is BUILT, not when it executes — queries are small by
    contract, and a side over :data:`NP_TIER_MAX_COLLECT` raises. Ids pass
    through as their Arrow values (any orderable type: strings too), and
    the self pair is masked by native equality. A NULL query id returns no
    rows; a NULL query vector returns the ``k`` smallest non-NULL corpus
    ids other than its own with a NULL sim, and NULL corpus vectors rank
    last with a NULL sim (both as the fold's NULL sims order); NULL corpus
    ids never rank. Element-level NULLs inside a non-null array are out of
    contract (dense embeddings). A zero-norm vector raises (its cosine has
    no value; the fold's ANSI divide raises DIVIDE_BY_ZERO), and so does a
    vector whose length differs from the queries'.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    q_proj = with_norm(
        queries.filter(F.col(id_col).isNotNull()), vec_col, "q_norm"
    ).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        "q_norm",
    )
    q_tbl = _collect_small_side(q_proj, "cosine_topk query", arrow=True)
    q_id_arr, q_vec, q_norm = (c.combine_chunks() for c in q_tbl.columns)
    q_live, Q_mat = _vector_matrix(q_vec, "cosine_topk query", allow_null=True)
    q_ids = q_id_arr.to_numpy(zero_copy_only=False)  # native values, no NULLs
    live_q, null_q = np.flatnonzero(q_live), np.flatnonzero(~q_live)
    q_norms = np.asarray(q_norm, dtype=np.float64)[q_live]
    if (q_norms == 0.0).any():
        # a silent inf/NaN here would rank garbage first
        raise ArithmeticError(
            "cosine_topk query: zero-norm vector (cosine is undefined; the "
            "fold's ANSI divide raises DIVIDE_BY_ZERO)"
        )
    dim = Q_mat.shape[1] if len(live_q) else None
    # a pair whose cosine is a full 6dp quantum below the batch's k-th best
    # rounds strictly below k others and cannot rank; two quanta also
    # cover BLAS's last-bit drift
    cand_margin = 2 * 10.0**-_ROUND_DP
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    )
    cand_schema = T.StructType(
        [q_proj.schema["q_id"], c.schema["n_id"], T.StructField("__raw", T.DoubleType())]
    )

    def _cands(id_arr, rows, qpos, raw):
        # TRUE nulls for the NULL-vector routes, not NaN — the rank orders
        # NULL last / NaN first
        return pa.RecordBatch.from_pydict({
            "q_id": q_id_arr.take(qpos),
            "n_id": id_arr.take(rows),
            "__raw": pa.nulls(len(rows), pa.float64()) if raw is None else raw,
        })

    def _null_pairs(id_arr, rows, qpos):
        # every pair here has a NULL sim, and NULL sims tie: per query only
        # its k smallest n_ids other than its own can survive the global
        # (sim desc, n_id) window — emit just those, k rows per query
        if not len(rows) or not len(qpos):
            return None
        rows = rows[np.asarray(pc.sort_indices(id_arr.take(rows)))]
        other = id_arr.take(rows).to_numpy(zero_copy_only=False)[:, None] != q_ids[qpos]
        ri, qj = np.nonzero(other & (np.cumsum(other, axis=0) <= k))
        return _cands(id_arr, rows[ri], qpos[qj], None)

    def _topk_batches(it):
        for batch in it:
            if batch.num_rows == 0 or len(q_ids) == 0:
                continue
            id_arr = batch.column(0)
            live, V = _vector_matrix(
                batch.column(1), "cosine_topk", dim, allow_null=True
            )
            # NULL corpus ids never rank: the fold's q_id != n_id filter
            # drops them before the window
            has_id = np.asarray(id_arr.is_valid())
            rows = np.flatnonzero(live)
            V, rows = V[has_id[rows]], rows[has_id[rows]]
            if len(rows) and len(live_q):
                cn = np.sqrt(_sweep_rows(V, V))  # with_norm's value, bit for bit
                if (cn == 0.0).any():
                    raise ArithmeticError(
                        "cosine_topk: zero-norm corpus vector (cosine is "
                        "undefined; the fold's ANSI divide raises "
                        "DIVIDE_BY_ZERO)"
                    )
                # BLAS scores (queries x rows) only pick the candidates;
                # self pairs can never rank, NaN ranks FIRST under Spark's
                # NaN-is-largest ordering → treat as +inf here
                sel = (Q_mat @ V.T) / np.multiply.outer(q_norms, cn)
                ids = id_arr.take(rows).to_numpy(zero_copy_only=False)
                self_m = q_ids[live_q][:, None] == ids[None, :]
                sel[np.isnan(sel)] = np.inf
                sel[self_m] = -np.inf
                b = sel.shape[1]
                if b > k:
                    thr = np.partition(sel, b - k, axis=1)[:, b - k : b - k + 1]
                    keep = (sel >= thr - cand_margin) & ~self_m
                else:
                    keep = ~self_m
                qj, ri = np.nonzero(keep)
                raw = _sweep_rows(V[ri], Q_mat[qj]) / (cn[ri] * q_norms[qj])
                yield _cands(id_arr, rows[ri], live_q[qj], raw)
            # NULL sims: NULL corpus vectors against the live queries, and
            # every id'd corpus row against the NULL-vector queries
            for n_rows, qpos in (
                (np.flatnonzero(~live & has_id), live_q),
                (np.flatnonzero(has_id), null_q),
            ):
                out = _null_pairs(id_arr, n_rows, qpos)
                if out is not None:
                    yield out

    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        c.mapInArrow(_topk_batches, schema=cand_schema)
        .withColumn("sim", F.round(F.col("__raw"), _ROUND_DP))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "rnk", "sim")
    )


def hyperplane_weights(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic +-1 hyperplanes: sign = high bit of md5(f"{p}_{d}")[0]."""
    return [
        [
            1 if hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0] in "89abcdef" else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def bucket_signature(vec_col: str, n_planes: int, dim: int, offset: int = 0):
    """Sign-LSH bucket signature Column (bitstring of hyperplane sides).

    ``offset`` selects planes [offset, offset+n_planes) from the deterministic
    family — independent tables for band-OR LSH reuse one family with
    disjoint slices.
    """
    planes = hyperplane_weights(offset + n_planes, dim)[offset:]
    bits = [
        F.when(
            _dot(F.col(vec_col), F.array(*[F.lit(float(w)) for w in plane])) > 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def _signature_sweep(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    dim: int,
    offset: int = 0,
    carry_vec: bool = False,
    out_col: str = "bucket",
) -> DataFrame:
    """Sign-LSH signatures through the Arrow sweep — bit-identical buckets
    to :func:`bucket_signature` with none of its construction or codegen
    cost. The signature tier of :func:`lsh_buckets`,
    :func:`lsh_ann_multiprobe`, :func:`lsh_ann_bandor` and
    :func:`embedding_neardup_pairs`.

    The expression form pays twice per call: the ``n_planes × dim`` literal
    tree costs seconds of driver-side py4j round-trips just to BUILD
    (measured on x06, r15 batch 6: 1.5-3.5 s at 16×64), then an oversized
    whole-stage-codegen method at exec. Here the planes live in a numpy
    closure; dots replicate the fold's exact FP op sequence
    (:func:`_sweep_cross`), and a sign decision on a bit-identical dot is
    bit-identical. NaN dots emit '1' (Spark's ``NaN > 0`` is true under its
    NaN-is-largest ordering) and a whole-NULL vector emits the all-zeros
    bucket (every plane's ``when`` falls through to '0') — exactly
    :func:`bucket_signature`; element-level NULLs inside a non-null array
    are out of contract (dense embeddings).

    ``carry_vec`` passes the original vector column through the Arrow
    boundary unchanged so downstream norms/sims stay JVM-fold expressions —
    the sweep only ever decides bucket strings. ``offset`` selects planes
    [offset, offset+n_planes) from the deterministic family, the same
    slicing contract as :func:`bucket_signature` (each plane's dot is an
    independent fold, so slicing cannot change any bit).

    Physical form: the module's Arrow vector path. The id (and carried
    vector) columns pass through as the ORIGINAL Arrow arrays, so an int64
    id co-batched with a NULL id stays exact, and the vectors decode
    through :func:`_vector_matrix` — a vector that does not hold exactly
    ``dim`` elements raises.
    """
    import numpy as np
    from pyspark.sql import types as T

    P_mat = np.array(
        hyperplane_weights(offset + n_planes, dim)[offset:], dtype=np.float64
    )
    fields = [df.schema[id_col]]
    if carry_vec:
        fields.append(df.schema[vec_col])
    fields.append(T.StructField(out_col, T.StringType()))
    out_schema = T.StructType(fields)
    src = df.select(id_col, vec_col)

    def _batches(it):
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            vec = batch.column(1)
            live, V = _vector_matrix(vec, "_signature_sweep", dim, allow_null=True)
            buckets = np.full(n, "0" * n_planes, dtype=object)
            if len(V):
                dots = _sweep_cross(V, P_mat)
                bits = (dots > 0) | np.isnan(dots)
                chars = np.where(bits, "1", "0")
                buckets[live] = ["".join(row) for row in chars]
            out = {id_col: batch.column(0)}
            if carry_vec:
                out[vec_col] = vec
            out[out_col] = pa.array(buckets, type=pa.string())
            yield pa.RecordBatch.from_pydict(out)

    return src.mapInArrow(_batches, schema=out_schema)


def lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Sign-LSH bucket signature per vector: (id, bucket, n_in_bucket).

    ``n_in_bucket`` is a ``groupBy("bucket").count()`` joined back, NOT a
    ``count(*) OVER (PARTITION BY bucket)`` window: the window shape forces a
    single task to buffer an entire hot bucket (degenerate inputs — e.g.
    near-zero vectors — can put most of a 100 TB corpus in one signature),
    and AQE's skew-join splitting does not apply to window exchanges. The
    aggregate gets a map-side partial combine, its output is at most
    ``min(2^n_planes, n_rows)`` rows (65,536 at the default 16 planes), and
    the join back is broadcast when the bucket space is provably small — so
    the big side never shuffles at all.

    Signatures (r15): :func:`_signature_sweep`. The :func:`bucket_signature`
    expression form pays TWICE for its n_planes × dim literal tree —
    seconds of driver-side py4j round-trips just BUILDING the 16 × 64-literal
    expressions on every call, then an oversized whole-stage-codegen method
    for the fold (measured on x06: 1.5-3.5 s build + erratic 0.5-4 s exec).
    The sweep keeps the planes in a numpy closure and replicates the fold's
    exact FP sequence (:func:`_sweep_cross`); a sign decision on a
    bit-identical dot is bit-identical, so buckets equal the expression
    form's (pytest + oracle). Whole-NULL vectors bucket to the all-zeros
    string like the expression form's NULL dots; element-level NULLs inside
    a non-null array are out of contract (dense embeddings).
    """
    # materialized once: both the count aggregate and the join probe read the
    # signature projection (n_planes x dim folds per row) — without this
    # the probe side recomputes every signature a second time.
    # NOTE (r16, measured): spread_small_input before this sweep is 1.47×
    # SLOWER interleaved at sf0.1 (0.618 → 0.911 s best-of-3×3) — the
    # repartition exchange costs more than 32-way signature parallelism
    # saves on a 2k-row fixture, and unlike x14 there is no carried
    # vector/norm fold to parallelize. Do not re-add without a single-split
    # mid-size probe showing it wins.
    out = materialize(_signature_sweep(df, id_col, vec_col, n_planes, dim))
    counts = out.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_in_bucket"))
    if n_planes <= 20:  # <= 1M distinct buckets -> tens of MB broadcast, tops
        counts = F.broadcast(counts)
    return out.join(counts, "bucket").select(id_col, "bucket", "n_in_bucket")


def lsh_ann_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
    k: int = 3,
) -> DataFrame:
    """Approximate nearest neighbors: LSH bucket candidates + exact rerank.

    The 100 TB path: per-vector candidates come from a *bucket equi-join*
    (cost = sum of bucket sizes squared, tunable via n_planes), then exact
    cosine only on candidates, rank per query. vs :func:`cosine_topk`'s
    |Q| x |corpus|. Recall is probabilistic (neighbors in other buckets are
    missed) — multi-probe or band-OR raises it; this is the single-table
    variant. Output: (q_id, n_id, rnk, sim) like cosine_topk.

    NOTE (r15 batch 9, measured NEGATIVE — do not re-try blindly): a
    :func:`_signature_sweep` tier here (``carry_vec=True``, with and
    without ``materialize``) ran 1.07-1.6× the expression tier in
    interleaved sf0.1 A/Bs. Unlike x06 (16 planes) / x14 (8 planes,
    materialized in both arms) / x17-x18 (signature-only, no vector
    pass-through), this operator needs the VECTORS themselves downstream
    (pair sims), so the sweep pays a full corpus round-trip through the
    Arrow boundary both ways to save only a 6-plane tree.
    """
    from .dedup import spread_small_input

    sig = bucket_signature(vec_col, n_planes, dim)
    # norms are computed ONCE per vector here instead of once per candidate
    # pair below (the pair count is a multiple of the vector count — the old
    # per-pair form re-folded both self-dots for every candidate), and the
    # spread parallelizes the signature+norm projection on single-split
    # inputs (no-op at production split counts)
    t = spread_small_input(df).select(
        F.col(id_col),
        F.col(vec_col),
        sig.alias("bucket"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("__norm"),
    )
    a = t.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        "bucket", F.col("__norm").alias("__qn"),
    )
    b = t.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"),
        "bucket", F.col("__norm").alias("__cn"),
    )
    sim = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("__qn") * F.col("__cn"))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        a.join(b, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("sim", F.round(sim, _ROUND_DP))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "rnk", "sim")
    )


def _rerank_candidates(
    cand: DataFrame,
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    q_vecs: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine rerank of a distinct (q_id, n_id) candidate set.

    Vectors are joined back from ``vecs`` so candidate generation can drop
    payload columns early (candidates are the small relation; two hash joins
    on ids beat carrying dim-wide arrays through the explode/dedupe path).
    ``q_vecs`` is the query-side vector source — REQUIRED whenever the
    query set is not a subset of the corpus (an external query frame's ids
    would silently join to nothing against ``vecs``, returning an empty
    result; found by tools/scale_ann_run.py's offset-id planted queries).
    Defaults to ``vecs`` for the self-join ANN form.

    The scoring is the JVM ``_dot`` fold per candidate pair (expression
    tier). An Arrow ``_sweep_rows`` kernel was measured 1.5-2.6× slower
    here (r16): the rerank is ROW-PAIRED, so the bytes crossing the Arrow
    boundary scale with the work (2×dim doubles per pair), unlike the
    sweep tiers' n×k cross kernels that move n+k vectors for n×k dots.
    """
    q_vecs = vecs if q_vecs is None else q_vecs
    # norms ride the vector projections (one fold per vector) instead of
    # being re-folded per candidate pair — bit-identical, k-fold less work
    q = q_vecs.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("__qn"),
    )
    n = vecs.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("__cn"),
    )
    joined = cand.join(q, "q_id").join(n, "n_id")
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    sim = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("__qn") * F.col("__cn"))
    return (
        joined.withColumn("sim", F.round(sim, _ROUND_DP))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "rnk", "sim")
    )


def lsh_ann_multiprobe(
    df: DataFrame,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
    k: int = 3,
    probe_hamming: int = 1,
) -> DataFrame:
    """Multi-probe sign-LSH ANN: probe the query's bucket AND its Hamming-1
    neighbor buckets (each single-bit flip), then exact-rerank candidates.

    Recall control without re-hashing the corpus: the corpus keeps ONE bucket
    per vector (no storage/shuffle amplification on the 100 TB side); only the
    query side explodes by n_planes+1 probes. P(candidate) rises from p^b to
    p^b + b·p^(b-1)(1-p) per table — the standard multi-probe trade
    (Lv et al., VLDB'07). ``probe_hamming=0`` degenerates to
    :func:`lsh_ann_topk` semantics.

    Measured at 500k x 64-dim corpus, 1000 planted near-dup queries
    (cos≈0.99), 12 planes: probe=0 finds 64% of planted pairs in
    top-10; Hamming-1 probing lifts that to 92% for ~1.5x the wall time.

    Signatures (r15 batch 9): :func:`_signature_sweep` — bit-identical
    buckets without :func:`bucket_signature`'s n_planes × dim literal-tree
    construction cost (interleaved sf0.1 A/B: 0.80-0.85×; signature-only
    through Arrow, vectors never cross the boundary — the rerank reads them
    from ``df`` directly).

    Output: (q_id, n_id, rnk, sim), ties by neighbor id.
    """
    if queries is None:
        queries = df
    corpus = _signature_sweep(
        df, id_col, vec_col, n_planes, dim
    ).withColumnRenamed(id_col, "n_id")
    qt = _signature_sweep(
        queries, id_col, vec_col, n_planes, dim
    ).withColumnRenamed(id_col, "q_id")

    def flip(i: int):
        bit = F.substring("bucket", i + 1, 1)
        return F.concat(
            F.substring("bucket", 1, i),
            F.when(bit == "1", F.lit("0")).otherwise(F.lit("1")),
            F.substring("bucket", i + 2, n_planes - i - 1),
        )

    probes = [F.col("bucket")]
    if probe_hamming >= 1:
        probes += [flip(i) for i in range(n_planes)]
    q = qt.select("q_id", F.explode(F.array(*probes)).alias("bucket"))
    cand = (
        q.join(corpus, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()  # a pair can collide through several probes
    )
    return _rerank_candidates(cand, df, id_col, vec_col, k, q_vecs=queries)


def lsh_ann_bandor(
    df: DataFrame,
    queries: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_table: int = 4,
    n_tables: int = 3,
    dim: int = 64,
    k: int = 3,
) -> DataFrame:
    """Band-OR sign-LSH ANN: L independent hash tables; a pair is a candidate
    if it collides in ANY table, then exact rerank.

    The classic recall curve P(candidate) = 1 - (1 - p^b)^L — more tables
    raise recall at linear candidate cost, fewer planes per table raise it at
    bucket-size cost. Tables are disjoint slices of the deterministic
    hyperplane family, so the whole pipeline stays oracle-reproducible.
    Corpus-side cost: L buckets per vector (explode by L) — use when query
    volume is high enough to amortize the L× index, else prefer
    :func:`lsh_ann_multiprobe`. Output: (q_id, n_id, rnk, sim).

    Measured at 500k x 64-dim, 1000 planted near-dup queries (cos≈0.99):
    3 tables x 8 planes finds 98.2% in top-10 (21s local[32]);
    4 x 8 finds 99.5% (19s) — vs 64% for one 12-plane table.

    **Which knob for GENERAL k-NN (tail recall)?** Near-dup retrieval
    saturates at 3x8 because planted neighbors (cos≈0.999) collide in
    almost every table; the exact top-10 of an arbitrary query (cos~0.5-0.7
    on unstructured data) needs SHORTER codes (fewer planes → bigger
    buckets) OR'd over MORE tables. Measured recall-vs-cost at 100k x
    64-dim, k=10, 200 queries, tail = exact pairs excluding the planted
    near-dup (tools/scale_ann_run.py --sweep, SCALE_r07):

    ========  ===========  ============  ==============
    config    tail recall  recall@10     cost vs brute
    ========  ===========  ============  ==============
    3x8       0.10         0.19          1.1x
    8x8       0.25         0.33          1.2x
    16x6      0.74         0.76          1.9x
    16x4      0.96         0.97          5.4x
    32x4      1.00         1.00          5.3x
    ========  ===========  ============  ==============

    For tail recall ≥ 0.8 use ≥16 tables x 4 planes — and note the honest
    conclusion in the cost column: at ≤100k vectors Arrow brute force
    (:func:`cosine_topk`) is cheaper than ANY config reaching it,
    because b=4 buckets hold n/16 of the corpus and the candidate rerank
    approaches brute force. Sign-LSH earns its keep for near-dup retrieval
    (top rows), for corpora with real cluster structure, or when the
    corpus-side index is reused across many query batches; for one-shot
    general k-NN at this scale, prefer brute or :func:`ivf_ann_topk`
    (probe-fraction curve in its docstring).

    Signatures (r15 batch 9): :func:`_signature_sweep` — ONE Arrow pass
    computes every table's planes, bit-identical to per-table offset
    :func:`bucket_signature` columns (interleaved sf0.1 A/B: 0.65-0.68×;
    signature-only, vectors never cross the boundary).
    """
    if queries is None:
        queries = df

    # ONE sweep pass computes every table's planes, then in-plan substring
    # slices (each plane's fold is independent, so slicing the full-family
    # bitstring equals the per-table offset signatures)
    def tabled(side: DataFrame, out_id: str) -> DataFrame:
        full = _signature_sweep(
            side, id_col, vec_col, planes_per_table * n_tables, dim
        )
        slices = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    F.substring(
                        "bucket", t * planes_per_table + 1, planes_per_table
                    ).alias("sig"),
                )
                for t in range(n_tables)
            ]
        )
        return full.select(
            F.col(id_col).alias(out_id), F.explode(slices).alias("b")
        ).select(out_id, "b.tbl", "b.sig")

    corpus = tabled(df, "n_id")
    q = tabled(queries, "q_id")
    cand = (
        q.join(corpus, ["tbl", "sig"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    return _rerank_candidates(cand, df, id_col, vec_col, k, q_vecs=queries)


def ann_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact top-k.

    Both inputs use the (q_id, n_id, rnk, sim) contract. One row:
    (n_queries, n_exact, n_hit, recall).
    """
    hits = approx.select("q_id", "n_id").join(exact.select("q_id", "n_id"), ["q_id", "n_id"])
    return exact.agg(
        F.countDistinct("q_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
    ).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("n_hit"))
    ).select(
        "n_queries",
        "n_exact",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_exact"), 4).alias("recall"),
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.9,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH candidates.

    Same shape as MinHash near-dup for text: sign-LSH buckets generate
    candidates (equi-join), exact cosine filters. ``n_planes`` tunes recall:
    P(same bucket) = (1 - theta/pi)^planes for angle theta. Output:
    (id_a, id_b, sim) with sim >= threshold, id_a < id_b.

    Hot buckets are truncated to ``max_bucket_size`` members (default
    ``skew.DEFAULT_MAX_BUCKET_SIZE``; 0 disables) with the drop count
    logged. Each dropped membership emits a chain pair to the bucket's
    smallest id (exact dups collapse to ONE bucket per table — truncation
    alone would orphan members beyond the cap); chain pairs go through the
    same exact-cosine verification as joined candidates, so no similarity
    is ever fabricated. The cap decision is in-plan (the rank window shares
    the join's exchange and the capped condition degenerates to
    ``id_a < id_b`` for in-cap buckets) — no driver-side pre-count, no
    second pass over the embeddings. See ``operators.skew``.

    Signatures (r15 batch 9): :func:`_signature_sweep` with the vector
    carried through (against materialized :func:`bucket_signature` columns
    the sweep's saving is pure signature construction + codegen:
    interleaved sf0.1 A/B 0.59-0.61×). Norms/sims stay JVM-fold
    expressions, so every emitted value is bit-identical to the expression
    form's (pytest + oracle).
    """
    from .skew import (
        DEFAULT_MAX_BUCKET_SIZE,
        capped_pair_condition,
        ranked_pair_sides,
    )

    if max_bucket_size is None:
        max_bucket_size = DEFAULT_MAX_BUCKET_SIZE
    from .dedup import spread_small_input

    # both self-join sides read the signature projection — materialize once,
    # deployment-aware (materialize.py). Norms ride the same materialized
    # table (one fold per vector, not two per candidate pair — bit-identical)
    # on the carried vector. Input spread BEFORE the sweep: a mapInArrow
    # projection's parallelism is its input split count, so a
    # single-row-group input would run the signature sweep + the per-vector
    # norm fold as ONE task before materialize; no-op at production split
    # counts (ADVICE r15)
    t = materialize(
        _signature_sweep(
            spread_small_input(df), id_col, vec_col, n_planes, dim,
            carry_vec=True,
        ).withColumn("__norm", F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))
    )
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
    if max_bucket_size > 0:
        ra, rb = ranked_pair_sides(t, ["bucket"], id_col, max_bucket_size)
        a = ra.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket",
            "__rn_a", F.col("__norm").alias("__na"),
        )
        b = rb.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket",
            "__rn_b", F.col("__norm").alias("__nb"),
        )
        joined = a.join(b, "bucket").filter(
            capped_pair_condition("id_a", "id_b", max_bucket_size)
        )
    else:
        a = t.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket",
            F.col("__norm").alias("__na"),
        )
        b = t.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket",
            F.col("__norm").alias("__nb"),
        )
        joined = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        joined.withColumn("sim", F.round(sim, _ROUND_DP))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
        .distinct()
    )


def ivf_index(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    center_vec: list[float] | None = None,
    assign_r: int = 1,
) -> DataFrame:
    """Build the exact-IVF inverted file ONCE: ``(n_id, n_vec, c_id)`` —
    each corpus vector tagged with its nearest centroid by the IVF cell
    rule (6dp-rounded cosine in assignment space, both norms floored at
    1e-12, ties to the lowest ``c_id``) — the rule :func:`ivf_ann_topk`'s
    query probes, :func:`semantic_dedup`'s clustering and
    :func:`probe_cells_expr` apply, so a vector and its exact duplicate
    always meet in one cell. ``center_vec`` moves the assignment into
    centered space; vectors are stored raw. ``c_id`` keeps the centroid
    table's own type.

    Physical form: one ``mapInArrow`` pass (:func:`_assign_cells`, the
    one batch implementation of the cell rule). A BLAS matmul per Arrow
    batch only PRE-FILTERS the cells (every cell within two rounding
    quanta of the row's ``assign_r``-th best: BLAS drifts in the last bits,
    far below a quantum); the candidates' cosines are then recomputed with
    the bit-exact fold replay (:func:`_sweep_rows`), and the rounding and
    the pick run in Spark's own ``round`` and ``sort_array`` — so the cells
    equal the expression rule's bit for bit (pytest-asserted on a 6dp
    near-tie), at BLAS cost plus a few candidate dots per row. NULLs take
    the rule's own route: a NULL vector scores NULL against every cell, so
    it is filed into the first ``assign_r`` cells in ``c_id`` order, and a
    NULL-vector centroid scores NULL, so it never beats a non-NULL cosine.
    A wrong-length vector raises.

    This is the build/query split the raw-vector tier was missing (the
    PQ tier always had it via :func:`ivfpq_index`): persist this table
    partitioned/bucketed by ``c_id`` and every query batch through
    :func:`ivf_ann_topk`'s ``index=`` parameter pays probe selection +
    the probed-cell rerank only — the corpus is never re-assigned. At
    100 TB the assignment pass runs exactly once per centroid
    generation.

    ``assign_r > 1`` lists each vector in its ``r`` nearest cells
    (multi-assignment — the coverage lever for fuzzy cell boundaries;
    r× index size). Pass ``dedup_candidates=True`` to
    :func:`ivf_ann_topk` when querying such an index: a neighbor probed
    through two of its cells must be ranked once, not twice."""
    side = df.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    cells = _collect_cells(centroids, "ivf_index")
    return _assign_cells(side, cells, center_vec, max(1, assign_r), "ivf_index")


def _assign_cells(side, cells, center_vec, r, what):
    """An ``(id, vector)`` ``side`` with a ``c_id`` column appended,
    exploded over each row's ``r`` nearest of the collected ``cells``
    (:func:`_collect_cells`, ``r`` clamped to their count) by the IVF cell
    rule — :func:`ivf_index`'s docstring has the rule, its NULL route and
    the physical form. ``what`` names the operator in the errors."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_type

    c_ids, live, C = cells
    r = min(r, len(c_ids))
    c_norm = np.maximum(np.sqrt(_sweep_rows(C, C)), 1e-12)  # the fold's norm
    c_row = np.cumsum(live) - 1  # a live cell's row of C
    mean = None if center_vec is None else np.asarray(center_vec, dtype=np.float64)
    cand = T.StructType(
        [
            T.StructField("raw", T.DoubleType()),
            T.StructField("cj", T.LongType()),
            T.StructField("c_id", from_arrow_type(c_ids.type)),
        ]
    )
    cands = T.StructField("__cand", T.ArrayType(cand))
    schema = T.StructType(side.schema.fields + [cands])

    def batches(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            col = batch.column(1)
            valid = np.asarray(col.is_valid())
            v_row = np.cumsum(valid) - 1
            # a NULL vector on either side scores NULL: -inf to the pre-filter
            # (kept if it can reach the top r), NULL to the pick (last, by c_id)
            S = np.full((batch.num_rows, len(c_ids)), -np.inf)
            if valid.any() and live.any():
                _, V = _vector_matrix(col, what, C.shape[1], allow_null=True)
                if mean is not None:
                    V = V - mean  # the centering zip_with, op for op
                vn = np.maximum(np.sqrt(_sweep_rows(V, V)), 1e-12)
                S[np.ix_(valid, live)] = (V @ C.T) / np.multiply.outer(vn, c_norm)
            kth = -np.partition(-S, r - 1, axis=1)[:, r - 1 : r]
            # NaN sims (NaN data) stay candidates: Spark orders NaN largest
            keep = (S >= kth - 2 * 10.0**-_ROUND_DP) | np.isnan(S)
            ri, cj = np.nonzero(keep)  # row-major: each row's cells contiguous
            swept = valid[ri] & live[cj]
            raw = np.zeros(len(ri))
            if swept.any():
                vr, cr = v_row[ri[swept]], c_row[cj[swept]]
                raw[swept] = _sweep_rows(V[vr], C[cr]) / (vn[vr] * c_norm[cr])
            offsets = np.concatenate([[0], np.cumsum(keep.sum(axis=1))])
            cand_arr = pa.StructArray.from_arrays(
                [pa.array(raw, mask=~swept), pa.array(cj), c_ids.take(pa.array(cj))],
                names=["raw", "cj", "c_id"],
            )
            yield batch.append_column(
                "__cand",
                pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), cand_arr),
            )

    # best first by (rounded sim desc — NULL last, c_id asc): the key struct
    # carries -cj, the centroid's position in the c_id-ordered table
    ranked = F.sort_array(
        F.transform(
            "__cand",
            lambda c: F.struct(
                F.round(c["raw"], _ROUND_DP).alias("r"), (-c["cj"]).alias("nc"), c["c_id"]
            ),
        ),
        asc=False,
    )
    return (
        side.mapInArrow(batches, schema=schema)
        .select(*side.columns, F.explode(F.slice(ranked, 1, r)).alias("__c"))
        .select(*side.columns, F.col("__c.c_id").alias("c_id"))
    )


def ivf_ann_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    k: int = 3,
    centroid_filter=None,
    centroids: DataFrame | None = None,
    center: bool | str = False,
    center_vec: list[float] | None = None,
    index: DataFrame | None = None,
    dedup_candidates: bool = False,
) -> DataFrame:
    """IVF-style ANN: inverted file over centroid cells + multi-probe rerank.

    Index build: :func:`ivf_index` — every vector is filed into its
    nearest cell (one Arrow pass), giving the inverted lists as a
    ``(c_id, n_id, n_vec)`` table. Query: probe the ``n_probe`` nearest
    cells and rerank exactly within them. Corpus and probes share one cell
    rule (6dp-rounded cosine, ties to the lowest ``c_id`` — the rule
    :func:`probe_cells_expr` shares) and one kernel (:func:`_assign_cells`
    on one centroid collect per call), so the result is oracle-exact at any
    ``n_probe``. Without ``index=`` the call builds that index inline and
    then runs exactly the prebuilt-index path: inline means
    :func:`ivf_index` plus probes. A NULL vector takes the rule's NULL
    route: a NULL corpus vector is filed into the first cell in ``c_id``
    order (with a NULL sim it ranks last, as in :func:`cosine_topk`), and
    a NULL query vector probes the first ``n_probe`` cells.

    Centroids here are a deterministic sample of the corpus
    (``centroid_filter``, default ``id % 50 == 1``) so the whole pipeline is
    reproducible in the SQL oracle; production swaps in k-means centroids —
    the index/probe/rerank plumbing is identical. Output: (q_id, n_id, rnk,
    sim) — approximate: neighbors outside probed cells are missed.

    **n_probe is the general-kNN recall knob.** Measured at 100k x 64-dim,
    250 sampled centroids, k=10 (tail = exact top-10 pairs excluding the
    planted near-dup; tools/scale_ann_run.py --sweep, SCALE_r07):

    ========  ===========  =========  ==============
    n_probe   tail recall  recall@10  cost vs brute
    ========  ===========  =========  ==============
    4 (2%)    0.18         0.26       0.74x
    16 (6%)   0.42         0.48       0.86x
    48 (19%)  0.70         0.73       1.5x
    96 (38%)  0.89         0.90       3.0x
    ========  ===========  =========  ==============

    Those are FLOOR numbers — uniform vectors have no structure for cells
    to capture. On the 200-cluster fixture (``--clustered``, SCALE_r07
    ``ann.sweep_clustered``) probe16 alone reaches 0.998 tail recall at
    0.61x brute, and kmeans-trained centroids saturate 1.0.

    Tail recall ≥ 0.8 needs probing ~2/5 of the cells on unstructured
    vectors. The end-to-end cost above re-assigns the corpus every call;
    the inverted file is a build-once artifact in production, so the
    per-query-batch cost is probe selection (n_cells dots) + rerank of the
    probed fraction — at n_probe=48 that is ~5x cheaper than brute per
    batch at 0.70 tail recall.

    K-means-refined centroids (``centroids=kmeans_train(...)``, 4 Lloyd
    iterations, 5.5 s one-off at 100k) lift the same curve measurably but
    modestly on UNIFORM vectors — 0.42→0.46 / 0.70→0.72 / 0.89→0.90 tail
    recall at probe 16/48/96, at slightly lower wall (tighter cells →
    smaller rerank sets). Uniform data has no cluster structure for Lloyd
    to find; on real embedding corpora (which cluster hard) the k-means
    lift is the difference that makes IVF standard practice — the sampled-
    centroid numbers are the floor, and the override is how you cash in.

    ``center=True`` (or an explicit ``center_vec``) assigns cells in
    MEAN-CENTERED space: corpus, queries, and the default sampled
    centroids are shifted by the corpus mean before the cosine argmax,
    while the final rerank stays on raw vectors — the output metric is
    unchanged (exhaustive-probe degeneracy to brute force holds, see
    tests). This is the fix for shared-component corpora (hashed-BoW text:
    universal stop words align every vector, cells skew to uselessness —
    :func:`center_embeddings` has the measured occupancy numbers). An
    EXPLICIT ``centroids`` table is used as-is in assignment space: train
    it on the centered column (``kmeans_train(center_embeddings(df, m))``)
    and pass the same ``center_vec=m``.

    ``center="auto"`` measures :func:`shared_component_ratio` on the
    corpus and centers iff it exceeds :data:`CENTER_AUTO_RATIO` — one
    extra corpus pass at index-build time (the same amortization class as
    centroid training; at 100 TB run the probe on a sample). The same
    auto-vs-measured pattern as the as-of join's density-probed ``"auto"``
    crossover.

    ``index=`` accepts a prebuilt :func:`ivf_index` table
    ``(c_id, n_id, n_vec)`` and skips the corpus assignment entirely —
    the build-once form: per query batch the work is probe selection
    (|Q| x n_cells dots) + the probed-cell rerank. The SAME explicit
    ``centroids`` (and ``center_vec``, if any) the index was built with
    are REQUIRED — sampling fresh centroids from ``df`` would silently
    probe cells that don't match the prebuilt assignment, and
    ``center=True`` would re-derive the mean with a full corpus pass the
    build-once form exists to avoid. With those passed, ``df`` is never
    scanned.
    """
    if centroid_filter is None:
        centroid_filter = F.col(id_col) % 50 == 1
    if index is not None:
        if centroids is None:
            raise ValueError(
                "ivf_ann_topk: index= requires the explicit centroids table "
                "the index was built with — freshly sampled centroids would "
                "not match the prebuilt cell assignment and queries would "
                "silently probe the wrong cells"
            )
        if center is True and center_vec is None:
            raise ValueError(
                "ivf_ann_topk: center=True with index= would recompute the "
                "corpus mean (a full scan the build-once form avoids) and "
                "may not match the mean the index was built with — pass the "
                "build's center_vec explicitly (or center=False for a "
                "raw-space build)"
            )
    mean = None
    if center == "auto" and center_vec is None:
        if centroids is not None or index is not None:
            # an explicit centroid/index table is used AS-IS in assignment
            # space; a data-dependent auto decision could silently probe
            # centered queries against raw-space cells (or vice versa) —
            # make the caller pick the space that matches their build
            raise ValueError(
                "ivf_ann_topk: center='auto' with an explicit centroids/"
                "index table is ambiguous — those are used as-is in "
                "assignment space. Decide the space yourself: pass "
                "center_vec=m matching the build (centroids trained on "
                "center_embeddings(df, m) / ivf_index(..., center_vec=m)), "
                "or center=False for a raw-space build."
            )
        ratio, probed_mean = shared_component_ratio(df, vec_col)
        mean = probed_mean if ratio > CENTER_AUTO_RATIO else None
    elif center or center_vec is not None:
        mean = center_vec if center_vec is not None else embedding_mean(df, vec_col)
    # explicit (c_id, c_vec) centroid table (e.g. kmeans_train output, in
    # assignment space) overrides the sampled-from-corpus default (raw
    # corpus rows — centered here when the assignment space is centered)
    if centroids is None:
        centroids = df.filter(centroid_filter).select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        )
        if mean is not None:
            centroids = center_embeddings(centroids, mean, "c_vec")
    # one centroid collect for the corpus (inline index) and the probes
    cells = _collect_cells(centroids, "ivf_ann_topk")
    if index is None:
        corpus = df.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
        index = _assign_cells(corpus, cells, mean, 1, "ivf_index")
    query_side = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    inv = index.select("c_id", "n_id", "n_vec")
    probes = _assign_cells(query_side, cells, mean, n_probe, "ivf_ann_topk")
    sim = _dot(F.col("q_vec"), F.col("n_vec")) / (
        F.sqrt(_dot(F.col("q_vec"), F.col("q_vec")))
        * F.sqrt(_dot(F.col("n_vec"), F.col("n_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    probed = (
        probes.join(inv, "c_id")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("sim", F.round(sim, _ROUND_DP))
        .select("q_id", "n_id", "sim")
    )
    if dedup_candidates:
        # multi-assigned index (ivf_index assign_r>1): a neighbor probed
        # through two of its cells carries identical sim — dedup before the
        # rank or it would occupy two top-k slots. Opt-in: the extra
        # exchange is pure waste on a single-assignment index.
        probed = probed.distinct()
    return (
        probed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "rnk", "sim")
    )


#: Hard cap on the rows the numpy tier will pull to the driver. The
#: centroid/query sides are "small by contract" (they are broadcast as a
#: dense matrix to every task); this makes a miswired caller — e.g. passing
#: the corpus as the query side — fail loudly instead of OOMing the driver.
NP_TIER_MAX_COLLECT = 1_000_000


def _collect_small_side(
    df: DataFrame, what: str, cap: int | None = None, arrow: bool = False
):
    """Capped driver collect of a small-by-contract side: Rows (for literal
    builders such as :func:`probe_cells_expr`), or a ``pyarrow.Table``."""
    if cap is None:
        cap = NP_TIER_MAX_COLLECT  # resolved at call time: tunable/testable
    capped = df.limit(cap + 1)
    rows = capped.toArrow() if arrow else capped.collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what} side exceeds the numpy-tier driver-collect cap "
            f"({cap} rows): this side is broadcast as a dense matrix and must "
            "be small by contract — split it into batches under the cap, use "
            "an ANN operator (lsh_ann_topk / ivf_ann_topk), or raise "
            "NP_TIER_MAX_COLLECT deliberately"
        )
    return rows


def _vector_matrix(col, what, dim=None, allow_null=False, dtype="float64"):
    """Worker-side decode of a ``list<float|double>`` Arrow column →
    ``(live, M)``: the non-NULL-row mask and those rows as a zero-copy
    ``(n_live, dim)`` matrix (float32 widens exactly). Each row must hold
    exactly ``dim`` elements (``None``: the first row's count) — checked
    per row, not per batch total. Wrong lengths, and NULL vectors unless
    ``allow_null``, raise a ValueError naming ``what``."""
    import numpy as np
    import pyarrow.compute as pc

    live = np.asarray(col.is_valid())
    if col.null_count:
        if not allow_null:
            raise ValueError(f"{what}: NULL vector (no NULL route; filter them first)")
        col = col.drop_null()
    lens = np.asarray(pc.list_value_length(col))
    if dim is None:
        dim = int(lens[0]) if len(lens) else 0
    if (lens != dim).any():
        bad = lens[lens != dim][0]
        raise ValueError(f"{what}: a vector holds {bad} elements, expected {dim} each")
    return live, np.asarray(col.flatten(), dtype=dtype).reshape(len(col), dim)


def _list_column(values, offsets=None):
    """Inverse of :func:`_vector_matrix`: an ``(n, dim)`` matrix, or flat
    ``values`` cut at ``offsets``, as an Arrow list column."""
    import numpy as np
    import pyarrow as pa

    if offsets is None:
        offsets = np.arange(values.shape[0] + 1) * values.shape[1]
    return pa.ListArray.from_arrays(
        pa.array(np.asarray(offsets, dtype=np.int32)),
        pa.array(np.ascontiguousarray(values).ravel()),
    )


def _collect_vectors(df, id_col, vec_col, what, dim=None):
    """Driver-side collect through Arrow under :data:`NP_TIER_MAX_COLLECT`
    (a larger side raises): ``(ids, (n, dim) matrix)`` in row order,
    vectors checked like the workers'. Ids keep their native values —
    int64 stays exact, strings stay strings; callers that emit a LongType
    id cast. A NULL id or vector raises a ValueError naming ``what``."""
    tbl = _collect_small_side(df.select(id_col, vec_col), what, arrow=True)
    ids, vecs = (c.combine_chunks() for c in tbl.columns)
    if ids.null_count or vecs.null_count:
        raise ValueError(f"{what}: NULL id or vector on the collected side")
    _, M = _vector_matrix(vecs, what, dim)
    return ids.to_numpy(zero_copy_only=False), M


def _collect_cells(centroids: DataFrame, what: str):
    """``(c_ids, live, C)`` of a ``(c_id, c_vec)`` table in ``c_id`` order,
    collected through :func:`_collect_small_side`: the ids as their native
    Arrow array, the non-NULL-vector mask, and those vectors as a matrix.
    An empty table raises: every row needs a cell, and a keep-filter
    caller of :func:`semantic_dedup` would otherwise silently drop the
    whole corpus instead of learning its filter matched nothing."""
    cents = centroids.select("c_id", "c_vec").orderBy("c_id")
    tbl = _collect_small_side(cents, f"{what} centroid", arrow=True)
    c_ids, c_vec = (c.combine_chunks() for c in tbl.columns)
    if not len(c_ids):
        raise ValueError(
            f"{what}: the centroid table has no rows — pass a centroid_filter "
            "that matches this corpus's ids, or a non-empty centroid table"
        )
    live, C = _vector_matrix(c_vec, f"{what} centroid", allow_null=True)
    return c_ids, live, C


def _collect_centroids(centroids: DataFrame, what: str):
    """:func:`_collect_cells` as ``(int64 c_ids, C)``, for the kernels with
    no NULL route: a NULL id or vector raises."""
    import numpy as np

    c_ids, live, C = _collect_cells(centroids, what)
    if c_ids.null_count or not live.all():
        raise ValueError(f"{what} centroid: NULL id or vector on the collected side")
    return np.asarray(c_ids.to_numpy(zero_copy_only=False), dtype=np.int64), C


def _unit_rows(X, what: str | None = None):
    """Rows of ``X`` at unit L2 norm. Without ``what`` the norm is floored
    at 1e-12 (a zero row scores 0 everywhere); with it a zero row raises a
    ValueError naming ``what`` instead of going NaN into a plausible code,
    cell or rank."""
    import numpy as np

    norms = np.linalg.norm(X, axis=1, keepdims=True)
    if what is None:
        return X / np.maximum(norms, 1e-12)
    if (norms == 0.0).any():
        raise ValueError(f"{what}: zero-norm vector cannot be unit-normalized")
    return X / norms


def _top_cells(S, n: int):
    """Column indices of each row's ``n`` largest scores, best first."""
    import numpy as np

    if n == 1:
        return S.argmax(axis=1)[:, None]
    part = np.argpartition(-S, n - 1, axis=1)[:, :n]
    order = np.take_along_axis(-S, part, axis=1).argsort(axis=1)
    return np.take_along_axis(part, order, axis=1)


def _sweep_rows(A, B):
    """Row-paired dot products replicating the ``_dot`` fold
    BIT-EXACTLY: the fold computes ``acc = ((0.0 + a0*b0) + a1*b1) + ...`` —
    one correctly-rounded IEEE multiply and one add per element, in element
    order.  This sweep performs the identical op sequence per row (numpy
    ufuncs are strictly per-op rounded, no FMA contraction), vectorized
    ACROSS rows instead of across elements — so results carry the exact bits
    of the JVM fold at numpy speed.  NOT equivalent to ``np.dot``/BLAS, which
    reassociates the summation (last-bit drift — the reason the oracle-gated
    queries could never use :func:`assign_centroids_np`)."""
    import numpy as np

    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * B[:, d]
    return acc


def _sweep_cross(V, C):
    """All-pairs variant of :func:`_sweep_rows`: ``acc[i, j]`` accumulates
    ``V[i, d] * C[j, d]`` over ``d`` in element order — the exact FP sequence
    of one ``_dot`` fold per (row, centroid) pair."""
    import numpy as np

    acc = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
    for d in range(V.shape[1]):
        acc += np.multiply.outer(V[:, d], C[:, d])
    return acc


def assign_centroids_np(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 1,
) -> DataFrame:
    """Nearest-centroid assignment via Arrow batches + numpy matmul.

    Measured vs the expression tier at 500k vectors x 707 centroids: the HOF
    fold + rank-window formulation took 394 s (350M interpreted dots, 350M
    rows through a window); this computes each Arrow batch as one
    (batch x dim)@(dim x centroids) BLAS matmul with a local argpartition —
    no row explosion at all. Appends ``c_id`` (top-1) or explodes n probes.
    The ``df`` columns pass through as their original Arrow arrays; a NULL
    or wrong-length vector raises (no NULL route: filter first).
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    c_ids, C = _collect_centroids(centroids, "assign_centroids_np")
    Cn = _unit_rows(C).T  # (dim, m); floored like the expression cell rule
    n = min(n, len(c_ids))  # probing every cell == exhaustive, not an error

    schema = T.StructType(list(df.schema.fields) + [T.StructField("c_id", T.LongType())])

    def batches(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            _, V = _vector_matrix(
                batch.column(vec_col), "assign_centroids_np", C.shape[1]
            )
            # floor like the centroid side: a zero-norm row otherwise goes
            # NaN and argmaxes silently to candidate 0 (r10 ADVICE)
            idx = _top_cells(_unit_rows(V) @ Cn, n)  # (b, n)
            if n > 1:  # probe-major: every row with its best cell, then its 2nd, ...
                batch = batch.take(np.tile(np.arange(batch.num_rows), n))
            yield batch.append_column("c_id", pa.array(c_ids[idx.T.ravel()]))

    return df.mapInArrow(batches, schema=schema)


def lsh_candidates(
    buckets: DataFrame,
    id_col: str = "vec_id",
    max_bucket_size: int | None = None,
    log_dropped: bool = True,
) -> DataFrame:
    """Candidate pairs = same bucket (equi-join; the ANN scale path).

    A degenerate bucket (near-duplicate-heavy corpus collapsing many vectors
    onto one sign pattern) would emit O(n²) pairs on a single shuffle
    partition; each bucket is deterministically truncated to its
    ``max_bucket_size`` smallest ids with the drop count logged
    (``operators.skew.cap_bucket_size``). Default (None) resolves to
    ``skew.DEFAULT_MAX_BUCKET_SIZE`` — inert on healthy corpora. Pass
    ``max_bucket_size=0`` to disable.
    """
    from .skew import DEFAULT_MAX_BUCKET_SIZE, cap_bucket_size

    if max_bucket_size is None:
        max_bucket_size = DEFAULT_MAX_BUCKET_SIZE
    if max_bucket_size > 0:
        buckets = cap_bucket_size(
            buckets, ["bucket"], id_col, max_bucket_size, log_dropped
        )
    a = buckets.select(F.col(id_col).alias("id_a"), "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "bucket")
    return a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "bucket"
    )


def kmeans_step(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter=None,
) -> DataFrame:
    """One Lloyd (k-means) iteration as pure DataFrame ops — the centroid
    refinement the IVF index (:func:`ivf_ann_topk`) notes production uses
    instead of its deterministic seed centroids. Iterating this operator =
    k-means; embedding-cluster balancing / semantic-dedup pipelines run a
    handful of rounds.

    Assignment: broadcast the centroid set, rank by (cosine sim desc,
    centroid id) per vector, keep rank 1 — the standard map-side argmin
    (O(n·k), no shuffle of the corpus beyond the final mean agg). Update:
    per-(cluster, dimension) mean via posexplode + groupBy — row-form
    output ``(cluster_id, pos, mean_val, n_members)`` (1-based ``pos``), so
    the gate hashes scalars, not arrays; ``F.array_agg`` the rows back when
    feeding the next iteration. Sims and means are rounded to 6dp
    (order-dependent float sums — the engine-divergence rule; same
    treatment as the gated cosine top-k). Empty clusters vanish from the
    output (standard Lloyd: respawn or drop is caller policy).

    At corpus scale the assignment is ``assign_centroids_np``'s Arrow+BLAS
    tier (measured 35x), which is NOT this rule: it takes the unrounded
    BLAS argmax over norms floored at 1e-12, this form the 6dp-rounded fold
    over unfloored norms. They disagree on 6dp near-ties (in
    ``test_ivf_matches_fold_reference``'s fixture BLAS picks cell 2 and the
    rule cell 1); this form is the oracle-checkable one.
    """
    if centroid_filter is None:
        centroid_filter = F.col(id_col) % 50 == 1
    cent = df.filter(centroid_filter).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    vecs = df.select(
        F.col(id_col).alias("v_id"), F.col(vec_col).cast("array<double>").alias("ev")
    )
    sim = F.round(
        _dot(F.col("ev"), F.col("cv"))
        / (
            F.sqrt(_dot(F.col("ev"), F.col("ev")))
            * F.sqrt(_dot(F.col("cv"), F.col("cv")))
        ),
        _ROUND_DP,
    )
    ranked = (
        vecs.join(F.broadcast(cent))
        .withColumn("sim", sim)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("v_id").orderBy(F.col("sim").desc(), F.col("c_id"))
            ),
        )
        .filter(F.col("__rn") == 1)
    )
    return (
        ranked.select("c_id", F.posexplode("ev").alias("pos0", "val"))
        .groupBy(F.col("c_id").alias("cluster_id"), (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(F.avg("val"), _ROUND_DP).alias("mean_val"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def kmeans_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter=None,
    n_iters: int = 4,
    init: DataFrame | None = None,
) -> DataFrame:
    """Iterated Lloyd refinement → a ``(c_id, c_vec)`` centroid table ready
    for :func:`ivf_ann_topk`'s ``centroids`` parameter (or
    :func:`semantic_dedup`'s cluster stage).

    Each iteration: Arrow+BLAS nearest-centroid assignment
    (:func:`assign_centroids_np` — one matmul per batch, no row explosion),
    then the per-(cluster, dimension) mean via posexplode + groupBy and an
    ``array_sort``-of-structs rebuild — the same update as
    :func:`kmeans_step`, unrounded and in the array form iteration needs;
    the assignment is the unrounded BLAS argmax, not kmeans_step's rounded
    fold, so a 6dp near-tie can land in another cluster. Iterative: each
    round ends in an eager stats-stripped checkpoint so the plan stays O(1) deep
    (`materialize.checkpoint_nostats` — same rule as connected components).

    Empty clusters vanish (standard Lloyd; k only ever shrinks). Seeds
    default to the deterministic corpus sample ``id % 50 == 1``; pass
    ``init`` (a ``(c_id, c_vec)`` table, e.g. from
    :func:`kmeans_parallel_init`) to start from chosen centroids instead —
    supplying BOTH ``init`` and ``centroid_filter`` raises. Cost per
    iteration: one corpus pass + one (cluster × dim)-sized agg — at 100 TB
    you run this on an embedding SAMPLE and reuse the centroids, which is
    exactly what the ``centroids`` override on the IVF index enables.
    """
    from ..materialize import checkpoint_nostats

    if init is not None and centroid_filter is not None:
        raise ValueError(
            "kmeans_train: pass init OR centroid_filter, not both — init "
            "supplies the seed table outright, so a filter would silently "
            "do nothing (r10 ADVICE)"
        )
    vecs = df.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col))
    if init is not None:
        cents = checkpoint_nostats(
            init.select(
                F.col("c_id").cast("long"),
                F.col("c_vec").cast("array<double>"),
            ),
            eager=True,
        )
    else:
        if centroid_filter is None:
            centroid_filter = F.col(id_col) % 50 == 1
        cents = checkpoint_nostats(
            vecs.filter(centroid_filter).select(
                F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
            ),
            eager=True,
        )
    if cents.isEmpty():  # cents is materialized: the probe is free
        raise ValueError(
            "kmeans_train: no seed rows (empty init table, or "
            "centroid_filter matched no corpus ids — same contract as "
            "semantic_dedup's empty-centroid guard)"
        )
    for _ in range(n_iters):
        assigned = assign_centroids_np(vecs, cents, id_col, vec_col, n=1)
        cents = checkpoint_nostats(
            assigned.select("c_id", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("c_id", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("c_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
            .select("c_id", F.transform("s", lambda x: x["m"]).alias("c_vec")),
            eager=True,
        )
    return cents


def kmeans_parallel_init(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int | None = None,
    rounds: int = 4,
    salt: int = 17,
) -> DataFrame:
    """k-means|| seeding (Bahmani et al., "Scalable K-Means++", VLDB 2012)
    in the spherical space the rest of this module's k-means uses
    (distance ``1 − cos``) — a ``(c_id, c_vec)`` table of ``k`` seeds for
    :func:`kmeans_train`'s ``init`` parameter.

    Why: the hashed id-sample seeding (``id % m``) is uniform — on corpora
    whose mass concentrates (hashed-BoW text, any real embedding corpus)
    uniform seeds land ~all in the dense core, and sparse regions get no
    cell. k-means++ fixes that by sampling proportional to distance-to-
    nearest-seed, but its sequential draw is k corpus passes; k-means||
    collapses it to ``rounds`` passes by oversampling ``l`` candidates per
    pass, then reclustering the small weighted candidate set on the driver.

    Distributed part (per round, all map-side + one agg): one Arrow+BLAS
    pass computes each point's distance to its nearest current seed
    (:func:`assign_centroids_np` economics — one matmul per batch), the
    round's total cost is one sum, and each point keeps itself with
    probability ``min(1, l·d/cost)`` via a DETERMINISTIC xxhash64 Bernoulli
    draw (hash of ``id × round-salt`` — reproducible cross-run, no RNG
    state; the sandbox-wide determinism contract). Candidates accumulate
    (expected ``l`` per round; collected under the
    :data:`NP_TIER_MAX_COLLECT` cap — loud, never silent).

    Driver part: one more distributed pass weights each candidate by the
    corpus mass it attracts (argmax-cosine counts), then a GREEDY weighted
    k-means++ picks the ``k`` seeds — each step takes the candidate
    maximizing ``weight × d`` to the chosen set (ties to lowest id; the
    deterministic variant of the sampling draw — Celebi et al. 2013
    survey greedy/deterministic++ as the quality-equivalent form). The
    exponent is 1, not the Euclidean D² rule: the distributed Bernoulli
    stage weights by ``d = 1 − cos`` (the spherical potential), and the
    finisher optimizes the SAME objective so both stages agree (r10
    ADVICE flagged the earlier d² finisher as a mixed-potential
    inconsistency). Fewer
    than ``k`` distinct candidates returns them all (k only ever shrinks —
    the standard-Lloyd contract downstream already holds).

    Output ``c_id`` is dense ``0..k-1`` in pick order; ``c_vec`` is the
    candidate's vector AS GIVEN in ``df`` (cosine is scale-invariant, so
    feed the normalized column when the residual-IVFADC contract needs
    assignment-space means — same rule as :func:`kmeans_train`).

    Cost at 100 TB: ``rounds + 1`` corpus COMPUTE passes (each one matmul
    per Arrow batch, zero shuffles) + one k-sized driver recluster — vs k
    passes for sequential k-means++. Within a round the d-frame is
    persisted (memory-and-disk) so the cost agg and the candidate filter
    share one materialization; the cache is freed before the next round,
    so peak extra storage is one corpus+d copy. Run it on the same
    embedding SAMPLE kmeans_train trains on and reuse the centroids.

    Rows with a NULL vector, or a NULL id (a candidate is named by its
    source id), are filtered out before seeding; a wrong-length vector
    raises.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    if k < 1:
        raise ValueError(f"kmeans_parallel_init: k must be >= 1, got {k}")
    l = oversample if oversample is not None else max(2 * k, 8)
    vecs = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    ).filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())

    def _dmin_pass(seed_mat: "np.ndarray"):
        """Append d = 1 - max-cosine-to-seed per row (one matmul/batch)."""
        Sn = _unit_rows(seed_mat).T

        schema = T.StructType(
            list(vecs.schema.fields) + [T.StructField("d", T.DoubleType())]
        )

        def batches(it):
            for batch in it:
                if batch.num_rows == 0:
                    continue
                _, V = _vector_matrix(
                    batch.column(vec_col), "kmeans_parallel_init", Sn.shape[0]
                )
                d = 1.0 - (_unit_rows(V) @ Sn).max(axis=1)
                yield batch.append_column("d", pa.array(d))

        return vecs.mapInArrow(batches, schema=schema)

    first_id, first_vec = _collect_vectors(
        vecs.orderBy(id_col).limit(1), id_col, vec_col, "kmeans_parallel_init"
    )
    if not len(first_id):
        raise ValueError(
            "kmeans_parallel_init: corpus has no non-NULL vectors"
        )
    cand_ids = [int(first_id[0])]
    cand_vecs = [first_vec[0]]
    for r in range(rounds):
        S = np.stack(cand_vecs)
        # persist the d-frame: the cost agg materializes the matmul pass
        # ONCE and the Bernoulli candidate filter re-scans the cache — not
        # a second corpus compute (r10 ADVICE: unpersisted, the real cost
        # was ~2·rounds+1 passes vs the rounds+1 the docstring commits to)
        with_d = _dmin_pass(S).persist()
        try:
            cost = with_d.agg(F.sum("d").alias("c")).first()["c"] or 0.0
            if cost <= 0.0:
                break  # every point coincides with a seed: nothing to cover
            # deterministic Bernoulli: keep iff hash(id, round) < p * 1e9
            draw = F.pmod(
                F.xxhash64(F.col(id_col), F.lit(salt + r)), F.lit(1_000_000_000)
            )
            p = F.least(
                F.lit(1.0), F.lit(float(l)) * F.col("d") / F.lit(float(cost))
            )
            picked_ids, picked_vecs = _collect_vectors(
                with_d.filter(draw < p * 1_000_000_000),
                id_col, vec_col, "kmeans|| candidate", dim=S.shape[1],
            )
        finally:
            with_d.unpersist()
        seen = set(cand_ids)
        for i, v in zip(picked_ids.tolist(), picked_vecs):
            if i not in seen:
                seen.add(i)
                cand_ids.append(i)
                cand_vecs.append(v)

    # weight candidates by attracted corpus mass (argmax cosine, ties to
    # the earliest candidate — assign_centroids_np's argmax rule)
    spark = df.sparkSession
    cand_df = spark.createDataFrame(
        [(i, cid, v.tolist()) for i, (cid, v) in enumerate(zip(cand_ids, cand_vecs))],
        schema="c_id long, src_id long, c_vec array<double>",
    )
    assigned = assign_centroids_np(vecs, cand_df, id_col=id_col, vec_col=vec_col)
    wrows = assigned.groupBy("c_id").count().collect()
    weights = np.zeros(len(cand_ids), dtype=np.float64)
    for row in wrows:
        weights[int(row["c_id"])] = float(row["count"])

    # greedy weighted k-means++ over the candidate set (driver, numpy);
    # picks are vectorized lexsorts — primary score desc, ties to lowest
    # source id (deterministic: candidates are strictly id-dedup'd)
    Cn = _unit_rows(np.stack(cand_vecs))
    n_cand = len(cand_ids)
    ids_arr = np.array(cand_ids, dtype=np.int64)

    def _pick(score):
        return int(np.lexsort((ids_arr, -score))[0])

    chosen = [_pick(weights)]
    dmin = 1.0 - Cn @ Cn[chosen[0]]
    while len(chosen) < min(k, n_cand):
        score = weights * np.maximum(dmin, 0.0)  # spherical potential (see docstring)
        score[chosen] = -1.0
        best = _pick(score)
        if score[best] <= 0.0:
            break  # remaining candidates coincide with chosen seeds
        chosen.append(best)
        dmin = np.minimum(dmin, 1.0 - Cn @ Cn[best])

    return spark.createDataFrame(
        [(j, cand_vecs[i].tolist()) for j, i in enumerate(chosen)],
        schema="c_id long, c_vec array<double>",
    )


def hashed_bow_embeddings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    normalize: bool = True,
    tokenizer: str | Column = "space",
) -> DataFrame:
    """Deterministic text → dense embedding via the hashing trick
    (feature hashing, Weinberger et al., ICML 2009): token ``t`` adds
    ``sign(t)`` at index ``hash(t) % dim``; optionally L2-normalized.

    The bridge from a TEXT-ONLY corpus to the whole vector family — ANN
    (:func:`cosine_topk` …), :func:`semantic_dedup`, k-means, PQ — with no
    model inference: a 100 TB first-pass semantic clustering/dedup runs on
    these before any learned embeddings exist. Collisions are benign at
    this use (they perturb cosine, not ordering structure).

    Exactness contract: one md5 per token; index and sign both derive from
    the same 15-hex-char integer with INTEGER ``div``/``%`` (exact past
    2^53 — a float divide would corrupt high bits); cell values are ±1
    integer sums, so everything before the final normalize-and-round is
    exact cross-engine, and DuckDB mirrors the whole pipeline (oracle
    x49). One explode + one (id, idx) shuffle + one per-doc agg; output
    ``(id, embedding array<double>)`` dense in index order. A doc whose
    cells ALL cancel (zero norm) gets a NULL embedding under
    ``normalize=True`` — never NaN values that would silently poison
    downstream cosine math.

    ``tokenizer`` selects how text becomes tokens: ``"space"`` (default —
    single-space split, mirrored verbatim by the x49 oracle), ``"regex"``
    (the text battery's BPE-ish ``[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]`` —
    ``text.BPE_ISH_PATTERN``, what real corpora want; oracle x51), or any
    Column expression yielding ``array<string>``.
    """
    tok_arr = _bow_tokens(text_col, tokenizer)
    staged = df.select(F.col(id_col), F.explode(tok_arr).alias("tok")).select(
        id_col,
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    cells = (
        staged.select(
            id_col,
            F.expr(f"hv % {dim}").alias("idx"),
            (F.lit(1) - F.lit(2) * F.expr(f"(hv div {dim}) % 2")).alias("sign"),
        )
        .groupBy(id_col, "idx")
        .agg(F.sum("sign").cast("double").alias("v"))
    )
    dense = (
        cells.groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("idx", "v"))).alias("m"))
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda d: F.coalesce(F.element_at("m", d.cast("bigint")), F.lit(0.0)),
            ).alias("embedding"),
        )
    )
    if not normalize:
        return dense
    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
    # zero-norm docs (all cells cancelled) → NULL embedding, not NaN cells
    return dense.select(
        id_col,
        F.when(
            norm > 0,
            F.transform("embedding", lambda x: F.round(x / norm, _ROUND_DP)),
        ).alias("embedding"),
    )


def _bow_tokens(text_col: str, tokenizer: str | Column) -> Column:
    """The shared text→tokens rule for the hashed-BoW family: ``"space"``
    (single-space split — the x49 oracle's verbatim mirror), ``"regex"``
    (``text.BPE_ISH_PATTERN``, oracle x51), or any ``array<string>``
    Column."""
    if isinstance(tokenizer, Column):
        return tokenizer
    if tokenizer == "space":
        return F.split(F.col(text_col), " ")
    if tokenizer == "regex":
        from .text import BPE_ISH_PATTERN

        # column API, not f-string SQL: survives column names needing
        # backticks and patterns containing quotes/backslashes
        return F.regexp_extract_all(
            F.col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0)
        )
    raise ValueError(f"unknown tokenizer {tokenizer!r} (space|regex|Column)")


def bow_embedding_expr(
    toks: Column,
    dim: int = 64,
    normalize: bool = True,
) -> Column:
    """:func:`hashed_bow_embeddings` as ONE pure-projection Column — no
    explode, no shuffle, no aggregation — so it runs unchanged on a STREAM
    before its watermarked aggregation (the in-row-signature contract of
    ``dedup.minhash_sig_cols``). Bit-identical to the batch operator
    (equality-tested): same md5→integer hash, same index/sign derivation
    (sign parity via ``hv % (2·dim) >= dim`` — exactly ``(hv div dim) % 2``
    for non-negative ``hv``, with every quantity exact in bigint), same
    ±1-integer cell sums (order-free: exact in double far below 2^53), same
    normalize-and-round, same NULL-not-NaN zero-norm contract.

    Cost is O(dim · tokens) per row (each output cell folds the token-hash
    array once); the hash array, the raw cell array, and the norm are each
    evaluated ONCE via :func:`_once` lambda binding — immune to the
    CollapseProject re-evaluation trap a staged column hits on
    projection-only (stream) pipelines. For batch corpora prefer the
    explode-based :func:`hashed_bow_embeddings` (one shuffle, but
    O(tokens) per row)."""
    hv_arr = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"),
    )

    def raw_cells(hv):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.aggregate(
                hv,
                F.lit(0).cast("bigint"),
                lambda acc, h: acc
                + F.when(
                    h % dim == d,
                    F.lit(1) - F.lit(2) * (h % (2 * dim) >= dim).cast("int"),
                ).otherwise(F.lit(0)),
            ).cast("double"),
        )

    def normalized(raw):
        return _once(
            F.sqrt(F.aggregate(raw, F.lit(0.0), lambda a, x: a + x * x)),
            lambda nrm: F.when(
                nrm > 0, F.transform(raw, lambda x: F.round(x / nrm, _ROUND_DP))
            ),
        )

    if not normalize:
        return _once(hv_arr, raw_cells)
    return _once(hv_arr, lambda hv: _once(raw_cells(hv), normalized))


def probe_cells_expr(
    vec: Column,
    cent_rows,
    n_probe: int,
    center_vec: list[float] | None = None,
) -> Column:
    """Per-row IVF probe selection as ONE pure-projection Column: the
    ``n_probe`` nearest cells (cosine desc, 6dp-rounded, ties to the lowest
    ``c_id`` — exactly the IVF cell rule of :func:`ivf_index` and
    :func:`ivf_ann_topk`'s query probes, equality-tested) as
    ``array<bigint>`` of cell ids.

    ``cent_rows`` is the COLLECTED centroid table (rows with ``c_id`` /
    ``c_vec`` — small by the same broadcast contract as
    :func:`_collect_small_side`); centroid norms are precomputed into the
    literal, so the per-row cost is one dim-wide dot per centroid. No
    window, no shuffle — usable on a stream where rank-over-partition is
    unavailable. ``center_vec`` moves the match into centered assignment
    space (the vector is shifted; centroids are expected already in that
    space, the :func:`ivf_index` contract). A NULL vector yields NULL (the
    caller's explode_outer keeps the row with zero hits)."""
    import math

    cent_lit = F.array(
        *[
            F.struct(
                F.lit(int(r["c_id"])).alias("c_id"),
                F.array(*[F.lit(float(v)) for v in r["c_vec"]]).alias("cv"),
                # floor like the query norm: a zero-norm centroid must rank
                # sim-0 deterministically, not poison the whole array_sort
                # with IEEE Inf/NaN (the cell rule + the X57 oracle mirror)
                F.lit(
                    max(
                        math.sqrt(sum(float(v) * float(v) for v in r["c_vec"])),
                        1e-12,
                    )
                ).alias("cn"),
            )
            for r in cent_rows
        ]
    )
    av = vec
    if center_vec is not None:
        m_lit = F.array(*[F.lit(float(x)) for x in center_vec])
        av = F.zip_with(vec, m_lit, lambda x, y: x - y)

    def ranked(a):
        return _once(
            F.greatest(F.sqrt(_dot(a, a)), F.lit(1e-12)),
            lambda an: F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            cent_lit,
                            lambda c: F.struct(
                                (
                                    -F.round(
                                        _dot(a, c["cv"]) / (an * c["cn"]), _ROUND_DP
                                    )
                                ).alias("negsim"),
                                c["c_id"].alias("c_id"),
                            ),
                        )
                    ),
                    1,
                    n_probe,
                ),
                lambda s: s["c_id"],
            ),
        )

    # NULL-vector guard inside the binding (greatest() would swallow the
    # NULL norm and return the epsilon, yielding a c_id-ordered probe list
    # for a vectorless row instead of NULL)
    return _once(av, lambda a: F.when(a.isNotNull(), ranked(a)))


#: pq_train's auto-seed probe reads at most this many rows to size the seed
#: density — the bound that keeps the training path free of full-corpus
#: actions. Past it, callers pass ``seed_mod`` or a sample (loudly).
PQ_TRAIN_PROBE_CAP = 1_000_000

def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    n_iters: int = 4,
    dim: int = 64,
    seed_mod: int | None = None,
) -> DataFrame:
    """Train product-quantization sub-codebooks: ``(block, c_id, c_vec)``
    with ``c_id`` dense 0..k-1 per block (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    The vector splits into ``m`` contiguous ``dim/m``-wide sub-vectors; each
    block gets its own k-centroid codebook via :func:`kmeans_train` on the
    sliced corpus (seeds = a deterministic corpus sample, ~k per block).
    Training cost is m small k-means runs over 1/m-width slices — at corpus
    scale you train on an embedding SAMPLE (same note as ``kmeans_train``)
    and reuse the codebooks; empty clusters shrink k for that block
    (standard Lloyd).

    Why PQ at 100 TB: a 64-dim float64 embedding is 512 bytes; its m=8/k=16
    code is 8 NIBBLES (we store one int per block for plainness — still
    64x smaller than the vector). The ANN memory/scan path becomes
    codes + one (m x k) distance lookup table per query
    (:func:`pq_topk`), never the raw vectors.

    Seed selection hashes ids (``xxhash64 % seed_mod == residue``) so it is
    independent of id density — no dense-0..n-1 assumption. When
    ``seed_mod`` is None it derives from a BOUNDED probe
    (``limit(PQ_TRAIN_PROBE_CAP).count()`` — never a full corpus pass, per
    this function's own train-on-a-sample contract); a corpus past the cap
    must pass ``seed_mod`` explicitly or feed a sample.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    if seed_mod is None:
        n = df.limit(PQ_TRAIN_PROBE_CAP + 1).count()
        if n > PQ_TRAIN_PROBE_CAP:
            raise ValueError(
                f"pq_train: corpus exceeds the {PQ_TRAIN_PROBE_CAP}-row "
                "auto-seed probe cap — pass seed_mod explicitly or train on "
                "a sample (the production contract anyway)"
            )
        # expected ~k seeds at any n (n < 2k included: seed_mod=1 keeps all)
        seed_mod = max(1, n // k)
    seed_hash = F.pmod(F.xxhash64(F.col(id_col)), F.lit(seed_mod))

    def _train_block(b: int) -> DataFrame:
        sliced = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col).cast("array<double>"), b * dsub + 1, dsub).alias(
                "sub"
            ),
        )
        cents = None
        # hashed sampling leaves ~e^-k odds of an empty seed set; walk the
        # residue on the rare miss instead of failing the whole train
        for residue in range(3):
            try:
                cents = kmeans_train(
                    sliced,
                    id_col=id_col,
                    vec_col="sub",
                    centroid_filter=seed_hash == residue,
                    n_iters=n_iters,
                )
                break
            except ValueError as e:
                # only the empty-seed miss is retryable; anything else
                # (e.g. the NP_TIER_MAX_COLLECT cap) re-raises immediately
                if "no seed rows" not in str(e) or residue == 2:
                    raise
        w = Window.orderBy("c_id")
        return cents.select(
            F.lit(b).alias("block"),
            (F.row_number().over(w) - 1).alias("c_id"),
            F.col("c_vec"),
        ).limit(k)

    # The m block trainings are INDEPENDENT (disjoint sub-vector slices, no
    # shared state), but each is a chain of driver-blocking eager jobs
    # (seed checkpoint + per-iteration collect/checkpoint in kmeans_train).
    # Run them from a thread pool (guide §2.6 "overlap independent jobs"):
    # every block's own job sequence — and therefore every FP op sequence —
    # is unchanged, so the codebooks are bit-identical to the sequential
    # form (pytest-asserted); only the submission overlaps. Measured on the
    # x52/x55 plan builds (m=8, k=16, n_iters=2, sf0.001): ~8-9 s of
    # sequential job latency collapses to the longest single block. At
    # cluster scale the same overlap back-fills executors idled by each
    # block's small-agg tail.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from ..materialize import materialize

    if m == 1:
        return materialize(_train_block(0))
    # session-argument form: the bare-function form warns "Tags will not be
    # inherited" in classic pinned-thread mode (block jobs would escape
    # tag-based cancellation) and treats its argument as the session under
    # Spark Connect (AttributeError before any job runs). One opt-out
    # deployment shape remains (ADVICE r15): classic mode with
    # PYSPARK_PIN_THREAD=false makes the session-argument form return its
    # argument UNWRAPPED (the SparkSession itself), so guard and run the
    # bare function — thread-local inheritance is a no-op without pinned
    # threads anyway, and the blocks are bit-identical either way.
    from pyspark.sql import SparkSession as _SparkSession

    wrapper = inheritable_thread_target(df.sparkSession)
    if callable(wrapper) and not isinstance(wrapper, _SparkSession):
        target = wrapper(_train_block)
    else:  # pragma: no cover - PYSPARK_PIN_THREAD=false deployments
        target = _train_block
    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        denses = list(pool.map(target, range(m)))
    out = denses[0]
    for dense in denses[1:]:  # assembled in block order, as before
        out = out.unionByName(dense)
    return materialize(out)


def _pq_codebook_tensor(codebooks: DataFrame):
    """(blocks-sorted numpy tensor list, m) from a (block, c_id, c_vec)
    frame — per-block (k_b, dsub) arrays (k_b may differ if clusters
    emptied)."""
    blocks, M = _collect_vectors(
        codebooks.orderBy("block", "c_id"), "block", "c_vec", "codebook"
    )
    if not len(blocks):
        raise ValueError("pq codebook table is empty")
    m = int(blocks.max()) + 1
    books = [M[blocks == b] for b in range(m)]
    for b, book in enumerate(books):
        if not len(book):
            raise ValueError(f"pq codebook block {b} is empty")
    return books, m


def _pq_codes(X, books):
    """PQ encoder shared by :func:`pq_encode` and :func:`ivfpq_index`: per
    block, the L2-nearest codebook centroid of each row of ``X`` →
    ``(n, m)`` int32 codes."""
    import numpy as np

    dsub = X.shape[1] // len(books)
    codes = np.empty((len(X), len(books)), dtype=np.int32)
    for b, B in enumerate(books):
        sub = X[:, b * dsub : (b + 1) * dsub]  # (n, dsub)
        # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 constant per row
        d = -2.0 * (sub @ B.T) + (B * B).sum(axis=1)[None, :]
        codes[:, b] = d.argmin(axis=1)
    return codes


def _pq_luts(X, books):
    """ADC table builder shared by :func:`pq_topk` and :func:`ivfpq_topk`:
    per block, the squared L2 from each row of ``X`` to every codebook
    centroid → list of m arrays ``(len(X), k_b)``."""
    dsub = X.shape[1] // len(books)
    out = []
    for b, B in enumerate(books):
        sub = X[:, b * dsub : (b + 1) * dsub]  # (n, dsub)
        out.append(
            (sub * sub).sum(axis=1)[:, None]
            - 2.0 * (sub @ B.T)
            + (B * B).sum(axis=1)[None, :]
        )
    return out


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Encode vectors to PQ codes: ``(id, codes array<int>)`` — per block,
    the L2-nearest centroid's dense id. One Arrow+numpy pass with the
    broadcast codebook tensor; ``normalize=True`` unit-normalizes first so
    ADC L2 ordering matches the cosine ordering the other ANN tiers use
    (a zero vector then raises — it has no direction to encode). A NULL
    or wrong-length vector raises.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    books, m = _pq_codebook_tensor(codebooks)
    dim = m * books[0].shape[1]
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def batches(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            _, V = _vector_matrix(batch.column(1), "pq_encode", dim)
            if normalize:
                V = _unit_rows(V, "pq_encode")
            yield pa.RecordBatch.from_pydict({
                id_col: batch.column(0).cast(pa.int64()),
                "codes": _list_column(_pq_codes(V, books)),
            })

    return df.select(id_col, vec_col).mapInArrow(batches, schema=schema)


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    normalize: bool = True,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query one
    ``(m x k)`` table of sub-distances to every centroid, then each code's
    score is ``sum_b table[b, code_b]`` — a table gather, no vector math
    per corpus row. Arrow batches emit their LOCAL top-k per query (a
    partial top-k combine); output
    ``(q_id, n_id, rnk, dist)`` ranked by ascending quantized L2 (=
    descending cosine on normalized inputs). Approximate: exact for the
    quantized representation (tested against explicit reconstruction),
    recall vs the raw vectors depends on m/k.

    Measured at 100k x 64-dim uniform vectors, k=10 (SCALE_r07 ann.sweep;
    build cost — train + encode — is one-off and reported separately):

    ==================  ===========  =========  ==============
    config              tail recall  recall@10  cost vs brute
    ==================  ===========  =========  ==============
    m8 k16 scan         0.05         0.14       0.29x
    m8 k64 scan         0.14         0.23       0.39x
    m8 k64 + rerank400  0.71         0.74       0.49x
    ==================  ===========  =========  ==============

    The coarse scan alone retrieves 100% of planted near-dups (cos≈0.9998)
    at a fraction of brute cost — PQ codes preserve coarse structure, not
    the vanishing top-10 margins of uniform data. For general k-NN use
    :func:`pq_topk_rerank`: the true neighbor only needs to land in the PQ
    top-``shortlist``, and 0.71 tail recall at 0.49x brute is the cheapest
    measured point on the whole ANN curve below 0.8 (IVF probe48: 0.70 at
    0.91x). On the 200-cluster fixture (SCALE_r07 ``ann.sweep_clustered``)
    rerank400 reaches 0.92-0.94 at ~0.6x — while the coarse scan ALONE
    loses recall there (cluster-mates collapse to near-identical codes):
    the rerank is what converts cluster structure into recall. At 100 TB
    the raw vectors never stream through the scan at all — codes are 64x
    smaller.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    books, m = _pq_codebook_tensor(codebooks)
    q_ids, Q = _collect_vectors(
        queries, id_col, vec_col, "pq_topk query", dim=m * books[0].shape[1]
    )
    q_ids = np.asarray(q_ids, dtype=np.int64)
    if normalize:
        Q = _unit_rows(Q, "pq_topk query")
    # LUT[b][qi] = squared L2 from the query's b-th sub-vector to each centroid
    luts = _pq_luts(Q, books)

    # partial top-k combine: per Arrow batch each query keeps its k+1
    # lowest-distance codes (the +1 absorbs the query matching itself); one
    # rank per query over those partials drops self pairs and orders the
    # 6dp-rounded dist, ties by n_id. NULL ids never rank.
    def batches(it):
        for batch in it:
            if batch.num_rows == 0 or len(q_ids) == 0:
                continue
            id_arr = batch.column(0)
            _, codes = _vector_matrix(batch.column(1), "pq_topk", m, dtype="int64")
            rows = np.flatnonzero(np.asarray(id_arr.is_valid()))
            if not len(rows):
                continue
            # dists (nq, n): gather each block's LUT column by the code
            d = np.zeros((len(q_ids), len(rows)))
            for b in range(m):
                d += luts[b][:, codes[rows, b]]
            kk = min(k + 1, d.shape[1])
            qi = np.repeat(np.arange(len(q_ids)), kk)
            ri = np.argpartition(d, kk - 1, axis=1)[:, :kk].ravel()
            yield pa.RecordBatch.from_pydict({
                "q_id": q_ids[qi],
                "n_id": id_arr.take(rows[ri]).cast(pa.int64()),
                "dist": d[qi, ri],
            })

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("n_id", T.LongType()),
            T.StructField("dist", T.DoubleType()),
        ]
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dist"), F.col("n_id"))
    return (
        codes_df.select(id_col, "codes")
        .mapInArrow(batches, schema=schema)
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("dist", F.round("dist", _ROUND_DP))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "rnk", "dist")
    )


def pq_topk_rerank(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 200,
    rerank_queries: DataFrame | None = None,
) -> DataFrame:
    """PQ-shortlist + exact rerank (the IVFADC+R shape): :func:`pq_topk`
    scans the 64x-compressed codes for a ``shortlist``-sized candidate set
    per query, then the standard exact rerank (``_rerank_candidates``,
    shared with the LSH tiers) scores only those against the raw vectors.
    The true neighbor only needs to survive into the PQ top-``shortlist`` —
    a far weaker demand than PQ top-k — so recall approaches exact while
    the raw-vector reads stay O(queries x shortlist). Output: the exact
    tiers' ``(q_id, n_id, rnk, sim)`` contract.

    ``rerank_queries`` splits the ADC space from the scoring space: the
    codes/LUTs come from ``queries`` while the exact rerank scores
    ``rerank_queries`` (default: same frame). This is how the CENTERED-PQ
    composition runs on shared-component corpora — train/encode/shortlist
    on :func:`center_embeddings` output, rerank on the raw frames, so the
    shortlist heuristic sees distinctive content while the returned metric
    stays raw cosine. Measured on the 100k Zipf-BoW fixture (m8k64 +
    rerank400, SCALE_r08 ann.sweep_bow): raw-ADC recall@10 0.25 →
    centered-ADC **0.72 at equal-or-lower cost** (0.45x → 0.42x brute
    committed; 0.78x → 0.51x dev run) — the shared stop-word mass
    otherwise dominates every per-block codebook, so raw ADC distances
    can't separate content.
    """
    cand = pq_topk(
        codes_df, queries, codebooks, id_col, vec_col, k=shortlist
    ).select("q_id", "n_id")
    return _rerank_candidates(
        cand, corpus, id_col, vec_col, k,
        q_vecs=queries if rerank_queries is None else rerank_queries,
    )


def _check_residual_centroid_scale(C, what: str) -> None:
    """Refuse raw-scale centroid tables in residual mode: assignment
    vectors are unit-normalized, so assignment-space centroids (means of
    unit vectors, possibly centered) have norms ≤ ~1. A table whose max
    norm exceeds 2 is provably not in that space; residuals would be
    dominated by ``−c`` (measured recall collapse — see
    :func:`coarse_residuals`)."""
    import numpy as np

    max_norm = float(np.linalg.norm(C, axis=1).max())
    if max_norm > 2.0:
        raise ValueError(
            f"{what}: centroid table is not in the assignment space (max "
            f"||c_vec|| = {max_norm:.2f} > 2; assignment vectors are unit-"
            f"normalized, so residual-mode centroids must be means of the "
            f"normalized/centered column — train kmeans_train on that "
            f"column, not on raw vectors)"
        )


def coarse_residuals(
    df: DataFrame,
    coarse_centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "resid",
    center_vec: list[float] | None = None,
) -> DataFrame:
    """Each vector's coarse residual: ``(id, resid)`` where ``resid =
    a - c(a)`` — the assignment-space UNIT vector minus its nearest coarse
    centroid (argmax cosine, :func:`assign_centroids_np` semantics; the
    centroid is used as-is, e.g. a ``kmeans_train`` mean).

    This is the IVFADC training frame (Jégou et al., TPAMI 2011 §V-A: PQ
    codebooks are learned on residuals, not raw vectors). Residuals
    concentrate within cells — the coarse quantizer has already removed the
    between-cell structure — so each sub-codebook's k centroids spend their
    bits on what distinguishes NEIGHBORS instead of re-encoding the shared
    mass every cell-mate carries. On shared-component corpora (hashed-BoW
    text) this is the next rung past mean-centering: centering removes ONE
    global direction, residual coding removes each cell's own mean
    direction.

    ``center_vec`` puts assignment (and hence the residual frame) in
    mean-centered space — pass the SAME value to
    :func:`ivfpq_index`/:func:`ivfpq_topk`. One corpus pass, no shuffle
    (broadcast centroid matmul per Arrow batch).

    **Scale contract**: the centroid table must live in the ASSIGNMENT
    space — i.e. be (approximately) means of the unit-normalized
    (optionally centered) vectors, as ``kmeans_train`` over that column
    produces. A centroid table on the RAW scale (e.g. k-means over
    unnormalized vectors with norms ≫ 1) makes every residual
    ``a − c ≈ −c``: the codebooks spend all their bits re-encoding cell
    means and recall CRATERS — measured on the clustered fixture (raw
    ~4.6-norm centroids: recall 0.93 plain → 0.32 residual at probe32,
    non-monotone in probes). Means of unit vectors have norm ≤ 1, so a
    table with ``max ||c|| > 2`` is provably not assignment-space and is
    refused loudly. A NULL or wrong-length vector raises."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    _, C = _collect_centroids(coarse_centroids, "coarse_residuals")
    _check_residual_centroid_scale(C, "coarse_residuals")
    Cn = _unit_rows(C).T  # (dim, n_cells); floored like assign_centroids_np
    mean_np = None if center_vec is None else np.asarray(center_vec, dtype=np.float64)

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(out, T.ArrayType(T.DoubleType())),
        ]
    )

    def batches(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            _, V = _vector_matrix(batch.column(1), "coarse_residuals", C.shape[1])
            A = V if mean_np is None else V - mean_np[None, :]
            A = _unit_rows(A)
            pos = (A @ Cn).argmax(axis=1)
            yield pa.RecordBatch.from_pydict({
                id_col: batch.column(0).cast(pa.int64()), out: _list_column(A - C[pos])
            })

    return df.select(id_col, vec_col).mapInArrow(batches, schema=schema)


def ivfpq_index(
    corpus: DataFrame,
    coarse_centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    center_vec: list[float] | None = None,
    residual: bool = False,
    assign_r: int = 1,
) -> DataFrame:
    """Build the IVF+PQ index in ONE corpus pass: ``(id, c_id, codes)`` —
    each vector's coarse cell (argmax cosine against the broadcast
    ``coarse_centroids``, ties to the lowest ``c_id``, exactly
    :func:`assign_centroids_np` semantics) plus its PQ code
    (:func:`pq_encode` semantics: per block, the L2-nearest centroid of the
    unit-normalized vector).

    Fusing assignment + encoding into a single ``mapInArrow`` scan avoids
    the second corpus pass AND the id-on-id join the two-operator
    composition would shuffle — the build-once artifact for
    :func:`ivfpq_topk` is 1 scan, 0 shuffles. At 100 TB the raw vectors
    stream through exactly once and never again (queries touch only this
    index + the shortlist).

    ``center_vec`` switches CELL assignment to mean-centered space (the
    shared-component fix — :func:`center_embeddings`); ``coarse_centroids``
    are then expected in that space (``kmeans_train`` over the centered
    column) and the PQ codes stay on the raw (normalized) vectors, so ADC
    and rerank semantics are untouched. Pass the SAME ``center_vec`` to
    :func:`ivfpq_topk`.

    ``assign_r > 1`` is multi-assignment (the probe-coverage lever for
    fuzzy cell boundaries, e.g. hashed-BoW corpora): each vector is
    encoded into its ``r`` nearest cells — in residual mode each copy's
    code is taken against ITS OWN cell's centroid, so every copy ranks
    correctly from whichever cell a query probes it in. Index size grows
    r×; :func:`ivfpq_topk` dedups candidates reached through more than
    one probed cell before the exact rerank, so results stay a valid
    top-k (a superset shortlist, never duplicates).

    ``residual=True`` is true IVFADC (Jégou et al. 2011 §V): the PQ code is
    computed over ``a - c(a)`` — the assignment-space unit vector minus its
    coarse centroid — with ``codebooks`` trained on :func:`coarse_residuals`
    of the same corpus/centroids. Residuals concentrate within cells, so
    per-block bits encode what distinguishes neighbors instead of the mass
    every cell-mate shares; pass ``residual=True`` (same centroids/books/
    center_vec) to :func:`ivfpq_topk`, whose ADC tables then shift by each
    probed cell's centroid. ``normalize`` is ignored for the code space in
    this mode (assignment-space unit vectors are what the residual is taken
    against).

    A NULL or wrong-length vector raises, and so does a zero vector wherever
    its unit normalization is used (no center_vec, or normalized codes) —
    it would otherwise be coded ``[0, …, 0]`` in cell ``c_ids[0]``."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    books, m = _pq_codebook_tensor(codebooks)
    c_ids, C = _collect_centroids(coarse_centroids, "ivfpq_index")
    if residual:
        _check_residual_centroid_scale(C, "ivfpq_index(residual=True)")
    Cn = _unit_rows(C).T  # (dim, n_cells); floored like assign_centroids_np
    mean_np = None if center_vec is None else np.asarray(center_vec, dtype=np.float64)
    uses_unit = mean_np is None or (normalize and not residual)

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("c_id", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    r = min(max(1, assign_r), len(c_ids))

    def batches(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            _, V = _vector_matrix(batch.column(1), "ivfpq_index", C.shape[1])
            Vn = _unit_rows(V, "ivfpq_index") if uses_unit else None
            A = Vn if mean_np is None else _unit_rows(V - mean_np[None, :])
            idx = _top_cells(A @ Cn, r)  # (n, r) desc sim
            codes = []
            for j in range(r):
                if residual:
                    # each copy's code against ITS OWN cell: the copy found
                    # via cell c must rank under c's ADC tables
                    codes.append(_pq_codes(A - C[idx[:, j]], books))
                elif j == 0:
                    codes.append(_pq_codes(Vn if normalize else V, books))
                else:
                    codes.append(codes[0])  # same code, new cell
            ids = batch.column(0).cast(pa.int64())
            if r > 1:  # copy-major: every row in its best cell, then its 2nd, ...
                ids = ids.take(np.tile(np.arange(batch.num_rows), r))
            yield pa.RecordBatch.from_pydict({
                id_col: ids,
                "c_id": c_ids[idx.T.ravel()],
                "codes": _list_column(np.concatenate(codes)),
            })

    return corpus.select(id_col, vec_col).mapInArrow(batches, schema=schema)


def _pack_code_cols(group_lens: list) -> list:
    """LongType packing expressions for byte-wide PQ codes: group ``g``
    packs ``codes[g*8 : g*8+group_lens[g]]`` big-endian, one byte per
    code. Bit ops (``shiftleft | code``), NOT ``acc * 256 + x``: under
    Spark 4's default ``spark.sql.ansi.enabled=true`` the arithmetic
    form throws ARITHMETIC_OVERFLOW whenever a full 8-code group's
    leading code has its top bit set (codebooks with 129–256 centroids)
    — the sign bit is data here, and shifts don't overflow-check. The
    numpy unpack side (arithmetic ``>>`` then ``& 255``) is
    sign-agnostic by construction.
    """
    return [
        F.expr(
            f"aggregate(slice(codes, {g * 8 + 1}, {glen}), 0L, "
            f"(acc, x) -> shiftleft(acc, 8) | cast(x AS bigint))"
        ).alias(f"p{g}")
        for g, glen in enumerate(group_lens)
    ]


def ivfpq_topk(
    index_df: DataFrame,
    queries: DataFrame,
    coarse_centroids: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 8,
    k: int = 10,
    shortlist: int = 200,
    normalize: bool = True,
    center_vec: list[float] | None = None,
    rerank_queries: DataFrame | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF + PQ + exact rerank composed — the full IVFADC+R query shape
    (Jégou et al. 2011 §V): each query probes its ``n_probe`` nearest
    coarse cells, ADC-scans ONLY the PQ codes in those cells, and the
    exact rerank scores the surviving ``shortlist`` against raw vectors.

    Semantics (what a reference implementation must reproduce):

    1. **Probe.** Per query, the ``n_probe`` cells with the highest
       centroid cosine in the assignment space (``center_vec`` centers
       it, as in :func:`ivfpq_index`); ties break to the lowest ``c_id``.
    2. **Shortlist.** Every code in a probed cell is ADC-scored against
       the query; self pairs (``n_id == q_id``, incl. ``assign_r > 1``
       duplicates) are masked BEFORE the cut, so every slot holds a real
       candidate. The cut keeps the first ``shortlist`` (cell, row)
       scores by ``(dist, n_id)``; a multi-assigned row reached through
       two probed cells may fill two slots and is then deduplicated.
    3. **Rerank.** Exact cosine against the raw vectors, ranked by
       ``(sim desc, n_id)``, top ``k``.

    Where the savings stack (vs :func:`pq_topk_rerank`, which ADC-scans
    the WHOLE code table): a cell is touched only for the queries probing
    it, so the ADC work drops from ``n_queries x n`` to
    ``~(n_probe / n_cells) x n_queries x n`` — and the rerank input is
    identical. Probe selection is driver-side numpy over the broadcast-
    small centroid table (``n_queries x n_cells`` cosines). The index
    (``index_df`` = :func:`ivfpq_index`) is build-once; queries stream
    against codes only.

    Physical plan — one index scan regardless of probe depth:

    - **Packed code transfer.** The per-row ``codes`` array<int> would
      cross Arrow as a Python list per row (hundreds of millions of boxed
      conversions at 12.8M × m16). The codes are packed JVM-side into
      ``ceil(m/8)`` LongType columns (:func:`_pack_code_cols`, 8 one-byte
      codes per long) and unpacked in numpy with vectorized shifts — the
      Arrow transfer is zero-copy primitive columns. One byte per code
      means every codebook must hold ≤ 256 centroids (``pq_train``
      defaults to 16, the committed rungs use 64); a wider codebook is
      refused loudly.
    - **Cell-major layout + worker-side ADC tables.** The index is
      repartitioned on ``c_id`` and sorted within partitions, so each
      cell's rows arrive contiguously and its per-(query, cell) tables
      are built once, next to the data, then discarded. The closure
      carries only the query matrix, centroids and codebooks (a few
      hundred KB), never an ``n_q x n_probe x m x k`` table tensor. The
      repartition is one narrow shuffle of the packed codes (~24
      bytes/row).
    - **Per-partition shortlist fold + one global merge** (the
      distributed top-k shape of REPOSE, ICDE 2021). Each partition folds
      scores into per-query accumulators (vectorized lexsort prune on
      ``(dist, n_id)``) and emits ONE Arrow-array row per (partition,
      query): ≤ ``n_queries × n_partitions`` rows of ≤ ``shortlist``-long
      arrays, a superset of the global top-``shortlist``. A
      ``groupBy(q_id).applyInPandas`` concat+lexsort takes the global
      cut — the same candidates cross the shuffle as a few thousand
      packed arrays instead of a row per candidate into a ranking window.

    Memory: per-partition accumulators are pruned whenever they exceed
    ``max(1M, 2 × shortlist × n_queries)`` tuples, so a partition holds
    O(shortlist × n_queries) candidate tuples, never its full scored set;
    tables live one cell at a time (≤ n_queries × m × k doubles).

    Recall characteristics: on CLUSTERED corpora (the production regime)
    the coarse probe concentrates near-neighbors into few cells, so at
    equal shortlist the composition matches pq_rerank recall at a fraction
    of the cost; uniform vectors are the floor (neighbors spread across
    cells — raise ``n_probe``). Measured: tools/scale_ann_run.py --sweep,
    SCALE_r08 ``ann`` section; at the 6.4M/12.8M BoW rungs (SCALE_r13)
    this scorer is the wall-clock path for deep probe/rerank configs.

    ``rerank_queries`` splits ADC space from scoring space (same contract
    as :func:`pq_topk_rerank`): for the FULLY-centered composition on
    shared-component corpora, build the index from pre-centered frames
    (``ivfpq_index(centered_corpus, centered_centroids, centered_books)``,
    no ``center_vec`` needed), query with centered ``queries``, and pass
    the raw frame as ``rerank_queries`` with the raw ``corpus`` — cells,
    codes, and tables all see distinctive content; the returned metric
    stays raw cosine.

    ``residual=True`` queries a ``residual=True`` :func:`ivfpq_index` (true
    IVFADC): the ADC table is built per (query, probed cell) over the query
    residual ``q_a - c`` — distances approximate
    ``||q_a - (c + code)||^2``, comparable ACROSS cells because the
    per-cell constant stays in. ``coarse_centroids``/``codebooks``/
    ``center_vec`` must match the build (books from
    :func:`coarse_residuals`).

    Measured on the 400k Zipf-BoW rung (a one-off interleaved best-of-3
    A/B, SCALE_r09 ``ann.ab_bow_residual_400k``; centered
    assignment space, m8k64):

    ===========================  =========  ===========================
    config                       recall@10  note
    ===========================  =========  ===========================
    centered-ADC full rerank400  0.64       the r8 champion point
    residual probe64 rerank1600  0.744      ~0.36x sweep-protocol cost
    residual probe96 rerank1600  0.804      sub-brute in-protocol
    centered-ADC full rerank1600 0.831      +~30% wall vs probe96
    ===========================  =========  ===========================

    The controlled ablation (same cells/probes/shortlist, only the code
    space differs) attributes +1–2 recall pts to the residual codes
    themselves (0.744 vs 0.735 @ probe64, 0.804 vs 0.785 @ probe96); the
    rest is probe/shortlist headroom the cell-restricted gather makes
    affordable. On the CLUSTERED fixture (the production regime, SCALE_r09
    ``ann.sweep_clustered_rivfpq_fix``) residual codes strictly dominate:
    recall ceiling **0.929 → 0.998 at LOWER cost** (probe8 0.346x vs plain
    probe8 0.416x) — within-cluster residuals are the noise term, so ADC
    is nearly exact. Protocol honesty: a WARM 400k x 200 brute matmul is
    ~1 s on local[32] (single-shot brute references varied 6–20 s with
    session warmth), so local cost ratios are protocol-relative — the
    100 TB edge of this family is codes-only IO (64x smaller than raw
    vectors) and probe-bounded scans, not local FLOPs.

    **Centroid-scale contract** (measured pathology, refused loudly): the
    centroid table must hold assignment-space means — kmeans over the
    normalized (optionally centered) column. Raw-scale centroids make
    every residual ``≈ −c`` and recall craters non-monotonically (0.93 →
    0.32 on the clustered fixture before the guard).

    Input contracts: index rows with a NULL id or cell are skipped (they
    can never join the rerank); NULL or wrong-length codes, a NULL or
    wrong-length query vector, and a zero query vector wherever its unit
    normalization is used raise a ValueError.

    Output: the exact tiers' ``(q_id, n_id, rnk, sim)`` contract.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    books, m = _pq_codebook_tensor(codebooks)
    widest = max(b.shape[0] for b in books)
    if widest > 256:
        raise ValueError(
            f"ivfpq_topk: a codebook holds {widest} centroids, but PQ codes "
            f"are packed one byte per code (at most 256 centroids per "
            f"block) — train with pq_train(k<=256)"
        )

    c_ids, C = _collect_centroids(coarse_centroids, "ivfpq_topk")
    if residual:
        _check_residual_centroid_scale(C, "ivfpq_topk(residual=True)")
    Cn = _unit_rows(C)  # floored like assign_centroids_np

    q_ids, Q = _collect_vectors(
        queries, id_col, vec_col, "ivfpq_topk query", dim=C.shape[1]
    )
    q_ids = np.asarray(q_ids, dtype=np.int64)
    # the unit query probes (without center_vec) and feeds plain normalized
    # ADC; where it is used, a zero query raises instead of going NaN
    Qn = (
        _unit_rows(Q, "ivfpq_topk query")
        if center_vec is None or (normalize and not residual)
        else None
    )
    Qe = Qn if normalize else Q

    # probe selection: top-n_probe cells per query (cosine); with
    # center_vec the probe runs in the same centered assignment space the
    # index was built in (ADC/rerank below stay on raw vectors)
    Qa = Qn
    if center_vec is not None:
        Qc = Q - np.asarray(center_vec, dtype=np.float64)[None, :]
        Qa = _unit_rows(Qc)
    sims = Qa @ Cn.T
    n_take = min(n_probe, sims.shape[1])
    # full stable argsort (the centroid table is broadcast-small by
    # contract): ties at the probe boundary break to the lowest column =
    # lowest c_id on every numpy version, where bare argpartition would
    # leave them to introselect's arbitrary order
    part = np.argsort(-sims, axis=1, kind="stable")[:, :n_take]
    cell_to_q: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for ci in part[qi]:
            cell_to_q.setdefault(int(c_ids[ci]), []).append(qi)
    cell_to_q_np = {c: np.array(v, dtype=np.int64) for c, v in cell_to_q.items()}

    # Worker-side table inputs: per probed cell the workers rebuild the
    # per-(query, cell) residual tables from these small arrays
    c_pos = {int(cid): i for i, cid in enumerate(c_ids)}
    luts = None if residual else _pq_luts(Qe, books)

    n_groups = (m + 7) // 8
    group_lens = [min(8, m - g * 8) for g in range(n_groups)]
    pack_cols = _pack_code_cols(group_lens)
    # cell-major layout: hash-repartition on c_id + in-partition sort
    # makes each cell's rows contiguous in one partition, so its tables
    # are built exactly once and freed when the scan moves past it. The
    # code count rides along: packing cannot tell a short code from zeros
    packed = (
        index_df.select(
            F.col(id_col), F.col("c_id"), F.size("codes").alias("__m"), *pack_cols
        )
        .repartition(F.col("c_id"))
        .sortWithinPartitions("c_id")
    )

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("n_ids", T.ArrayType(T.LongType())),
            T.StructField("dists", T.ArrayType(T.DoubleType())),
        ]
    )
    nq = len(q_ids)
    prune_at = max(1_000_000, 2 * shortlist * max(nq, 1))

    def _prune(qa, na, da, per_q):
        """Exact per-query top-``per_q`` by (dist, n_id), vectorized
        over all queries at once."""
        o = np.lexsort((na, da, qa))
        qa, na, da = qa[o], na[o], da[o]
        starts = np.flatnonzero(np.r_[True, qa[1:] != qa[:-1]])
        counts = np.diff(np.r_[starts, len(qa)])
        rank = np.arange(len(qa)) - np.repeat(starts, counts)
        keep = rank < per_q
        return qa[keep], na[keep], da[keep]

    def batches(it):
        acc_q: list[np.ndarray] = []
        acc_n: list[np.ndarray] = []
        acc_d: list[np.ndarray] = []
        held = 0
        # per-cell residual tables, built HERE from the small shipped
        # arrays. Cells arrive contiguously (repartition + sort above),
        # so a fragment-boundary memo of a few entries gives one build
        # per (cell, partition); the dict is cleared when it grows past
        # the handful a batch boundary can straddle.
        lut_memo: dict[int, list] = {}
        for batch in it:
            # NULL ids / cells can never reach a candidate (the rerank
            # joins on id, the probes on c_id)
            ok = pc.and_(batch.column(0).is_valid(), batch.column(1).is_valid())
            if ok.false_count:
                batch = batch.filter(ok)
            if batch.num_rows == 0:
                continue
            n_codes = batch.column(2)
            if n_codes.null_count or (np.asarray(n_codes) != m).any():
                raise ValueError(
                    f"ivfpq_topk: NULL or wrong-length codes in the index "
                    f"(expected {m} codes per row)"
                )
            cid_arr = np.asarray(batch.column(1), dtype=np.int64)
            ids_all = np.asarray(batch.column(0), dtype=np.int64)
            codes = np.empty((batch.num_rows, m), dtype=np.int64)
            bpos = 0
            for g, glen in enumerate(group_lens):
                v = np.asarray(batch.column(3 + g))
                for j in range(glen):
                    codes[:, bpos + j] = (v >> (8 * (glen - 1 - j))) & 255
                bpos += glen
            order = np.argsort(cid_arr, kind="stable")
            cs = cid_arr[order]
            bounds = np.flatnonzero(np.r_[True, cs[1:] != cs[:-1]])
            ends = np.r_[bounds[1:], len(cs)]
            for s, e in zip(bounds, ends):
                cell = int(cs[s])
                qs = cell_to_q_np.get(cell)
                if qs is None:
                    continue
                rows = order[s:e]
                ids = ids_all[rows]
                cc = codes[rows]
                d = np.zeros((len(qs), len(ids)))
                if residual:
                    cl = lut_memo.get(cell)
                    if cl is None:
                        if len(lut_memo) > 16:
                            lut_memo.clear()
                        cl = _pq_luts(Qa[qs] - C[c_pos[cell]][None, :], books)
                        lut_memo[cell] = cl
                    for b in range(m):
                        d += cl[b][:, cc[:, b]]
                else:
                    for b in range(m):
                        d += luts[b][qs][:, cc[:, b]]
                qa_c = np.repeat(q_ids[qs], len(ids))
                na_c = np.tile(ids, len(qs))
                da_c = d.ravel()
                # Self pairs (query vector present in the index, incl.
                # assign_r>1 duplicates) are dropped HERE, before the
                # prune, so a self row never burns a shortlist slot
                sm = qa_c != na_c
                if not sm.all():
                    qa_c, na_c, da_c = qa_c[sm], na_c[sm], da_c[sm]
                acc_q.append(qa_c)
                acc_n.append(na_c)
                acc_d.append(da_c)
                held += len(qa_c)
            if held > prune_at:
                qa, na, da = _prune(
                    np.concatenate(acc_q), np.concatenate(acc_n),
                    np.concatenate(acc_d), shortlist,
                )
                acc_q, acc_n, acc_d = [qa], [na], [da]
                held = len(qa)
        if held:
            qa, na, da = _prune(
                np.concatenate(acc_q), np.concatenate(acc_n),
                np.concatenate(acc_d), shortlist,
            )
            # _prune's lexsort leaves qa grouped — emit ONE array row
            # per (partition, query): ≤ nq rows of ≤ shortlist-long
            # arrays per partition instead of nq × shortlist candidate
            # rows. At 12.8M/probe96/rerank6400 that is ~6k Arrow-list
            # rows through the shuffle where the row form pushed ~40M
            # rows into a global ranking window — the O(nq × partitions
            # × shortlist) term that dominated deep-shortlist configs.
            starts = np.flatnonzero(np.r_[True, qa[1:] != qa[:-1]])
            offsets = np.r_[starts, len(qa)]
            yield pa.RecordBatch.from_pydict({
                "q_id": qa[starts],
                "n_ids": _list_column(na, offsets),
                "dists": _list_column(da, offsets),
            })

    partial = packed.mapInArrow(batches, schema=schema)

    def _merge(pdf):
        # Global top-``shortlist`` per query over the per-partition
        # arrays (self pairs already masked), cut by (dist, n_id), then
        # deduplicated: a multi-assigned row can survive via two cells.
        na = np.concatenate([np.asarray(v, dtype=np.int64) for v in pdf["n_ids"]])
        da = np.concatenate([np.asarray(v, dtype=np.float64) for v in pdf["dists"]])
        top = np.lexsort((na, da))[:shortlist]
        return pd.DataFrame(
            {"q_id": pdf["q_id"].iloc[0], "n_id": np.unique(na[top])}
        )

    cand = partial.groupBy("q_id").applyInPandas(_merge, "q_id long, n_id long")
    return _rerank_candidates(
        cand, corpus, id_col, vec_col, k,
        q_vecs=queries if rerank_queries is None else rerank_queries,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    centroid_filter=None,
    max_reps: int = 256,
    center_vec: list[float] | None = None,
    center: bool | str = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings, then inside each cluster drop any
    member whose cosine similarity to a lower-id cluster-mate reaches
    ``threshold`` — the deterministic form of keep-one-per-epsilon-ball.

    Pipeline (no driver loops beyond the small centroid collect):

    1. **Assignment** — the centroid set (``centroid_filter`` selects
       deterministic seeds; production feeds :func:`kmeans_step` output) is
       collected to the driver, and each vector takes its argmax cosine
       (rounded to 6dp, ties to the lowest ``c_id``) — the IVF cell rule
       and kernel of :func:`ivf_index`, one cell per row. Map-side O(n·k):
       the corpus never shuffles for this step.
    2. **Representatives** — the ``max_reps`` smallest-id members of each
       cluster. Every member is compared ONLY against lower-id
       representatives, so per-cluster work is |cluster|·max_reps, never
       |cluster|² — a degenerate mega-cluster stays linear. (SemDeDup keeps
       one doc per epsilon-ball; comparing against a bounded prefix of the
       cluster is the same greedy rule with a bounded ball census.)
    3. **Verdict** — drop iff some lower-id representative is within the
       threshold; emitted as a ``keep`` flag for every input row (callers
       filter, or audit the drops).

    Output: ``(id_col, cluster_id, keep)``. Exact cosine, rounded to 6dp
    — oracle-reproducible: both dot-heavy steps recompute their cosines
    with sweeps that replicate the ``_dot`` fold bit-exactly (see the
    inline notes), so the output equals the fold form of all three steps
    (pytest-asserted). Ids may be any orderable type and are unique by
    contract: each input row is assigned on its own, and ``cluster_id``
    keeps the id column's type. A NULL-vector centroid scores NULL, as in
    the fold: it never beats a non-NULL cosine, and a NULL-vector row goes
    to the smallest ``c_id``.

    Scale: one small-side collect (centroids; over
    :data:`NP_TIER_MAX_COLLECT` rows it raises), one shuffle on
    ``cluster_id`` for the rep join, one shuffle back on id for the verdict
    anti-join. The rep ranking is a window on ``cluster_id`` — bounded by
    the k-means granularity the caller controls (more centroids = smaller
    clusters).

    ``center_vec`` moves step 1 (assignment ONLY) into mean-centered space
    — the shared-component fix (:func:`center_embeddings`): on hashed-BoW
    text the universal stop-word direction hubs whole corpora into a few
    mega-clusters, and the ``max_reps`` bound then means most members are
    never compared against their true near-dups (recall loss, not a
    blow-up). Step 3's verdict cosine stays on RAW vectors, so what counts
    as a duplicate is unchanged — centering only redraws cluster
    boundaries. Pass a pre-rounded mean (``[round(v, 6) for v in
    embedding_mean(df)]``) when oracle parity matters. ``center=True``
    computes the mean itself; ``center="auto"`` probes
    :func:`shared_component_ratio` and centers iff it clears
    :data:`CENTER_AUTO_RATIO` (same contract as :func:`ivf_ann_topk`).
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    if centroid_filter is None:
        centroid_filter = F.col(id_col) % 50 == 1
    if center_vec is None:
        if center == "auto":
            ratio, probed_mean = shared_component_ratio(df, vec_col)
            center_vec = probed_mean if ratio > CENTER_AUTO_RATIO else None
        elif center:
            center_vec = embedding_mean(df, vec_col)
    # Assignment: the IVF cell rule's one kernel, in-row with r = 1 — no
    # corpus shuffle. Centroids are centered here, rows in the kernel; the
    # verdict sim below always stays on the raw `ev`.
    cents = df.filter(centroid_filter).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    if center_vec is not None:
        cents = center_embeddings(cents, center_vec, "c_vec")
    cells = _collect_cells(cents, "semantic_dedup")
    vecs = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("ev"))
    assign = _assign_cells(vecs, cells, center_vec, 1, "semantic_dedup")
    assign = assign.withColumnRenamed("c_id", "cluster_id")
    # both the member side and the rep side re-read the assignment (k dot
    # products per vector) — materialize once (deployment-aware). The RAW
    # verdict norm rides the materialized table too: the member-vs-rep pair
    # count is up to max_reps x |corpus|, and the old per-pair form re-folded
    # both self-dots for every pair (bit-identical values either way).
    assign = materialize(
        assign.withColumn("__n", F.sqrt(_dot(F.col("ev"), F.col("ev"))))
    )
    reps = (
        assign.withColumn(
            "__rep_rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(F.col(id_col))
            ),
        )
        .filter(F.col("__rep_rn") <= max_reps)
        .select(
            F.col(id_col).alias("__rep_id"),
            F.col("ev").alias("rv"),
            F.col("__n").alias("__rn"),
            "cluster_id",
        )
    )
    pairs = assign.join(reps, "cluster_id").filter(
        F.col("__rep_id") < F.col(id_col)
    )
    # Verdict sweep for the member×rep dots (the assignment kernel's
    # contract: _sweep_rows replicates the fold bit-exactly, the norms are
    # the Spark-computed __n/__rn riding the joined row, and the threshold
    # decision stays in Spark — the sweep only PRE-FILTERS with a slack of
    # one rounding quantum (no raw value below threshold - 10^-dp can round
    # up to the threshold), then Spark's own Round expression applies the
    # exact cut.
    margin = threshold - 10.0**-_ROUND_DP
    raw_schema = T.StructType(
        [df.schema[id_col], T.StructField("__raw", T.DoubleType())]
    )

    def _verdict_batches(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            _, Ev = _vector_matrix(batch.column(1), "semantic_dedup verdict")
            _, Rv = _vector_matrix(
                batch.column(2), "semantic_dedup verdict", Ev.shape[1]
            )
            denom = np.asarray(batch.column(3), dtype=np.float64) * np.asarray(
                batch.column(4), dtype=np.float64
            )
            if (denom == 0.0).any():
                # a silent NaN here would DROP the row (NaN >= threshold is
                # true in Spark)
                raise ArithmeticError(
                    "semantic_dedup verdict: zero-norm vector in a member/rep "
                    "pair (cosine is undefined; the fold's ANSI divide raises "
                    "DIVIDE_BY_ZERO)"
                )
            raw = _sweep_rows(Ev, Rv) / denom
            # NaN raws must reach Spark: its NaN-is-largest comparison
            # semantics make round(NaN) >= threshold TRUE, as for the fold
            m = np.flatnonzero((raw >= margin) | np.isnan(raw))
            yield pa.RecordBatch.from_pydict(
                {id_col: batch.column(0).take(m), "__raw": raw[m]}
            )

    dropped = (
        # a NULL ev/rv pair has a NULL fold sim, which never passes the >=
        # filter — excluding those pairs here is that exact behavior, and
        # leaves the sweep no NULL vectors
        pairs.filter(F.col("ev").isNotNull() & F.col("rv").isNotNull())
        .select(id_col, "ev", "rv", "__n", "__rn")
        .mapInArrow(_verdict_batches, schema=raw_schema)
        .filter(F.round(F.col("__raw"), _ROUND_DP) >= threshold)
        .select(id_col)
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assign.join(dropped, id_col, "left").select(
        F.col(id_col),
        "cluster_id",
        F.col("__dropped").isNull().alias("keep"),
    )
