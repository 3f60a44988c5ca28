"""Extension operator invariants (dedup / similarity / text / multimodal)."""

import pytest
from pyspark.sql import functions as F

from crypto_market_data_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_jaccard_pairs,
    simhash,
    word_shingles,
)
from crypto_market_data_etl_spark.operators.multimodal import (
    extract_features,
    to_blob_table,
)
from crypto_market_data_etl_spark.operators.similarity import (
    ann_recall,
    bucket_signature,
    cosine_topk,
    lsh_ann_bandor,
    lsh_ann_multiprobe,
    lsh_buckets,
)
from crypto_market_data_etl_spark.schemas import load_table
from tests.conftest import SF_SMOKE
from tests.fold_reference import (
    cosine_topk_fold,
    ivf_ann_topk_fold,
    nearest_cells_fold,
    semantic_dedup_fold,
)


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").limit(100).cache()


@pytest.fixture(scope="module")
def embs(spark):
    return load_table(spark, SF_SMOKE, "embeddings").limit(200).cache()


def test_exact_dedup_counts_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa")], "doc_id long, text string"
    )
    out = {r.content_hash: r for r in exact_dedup(df, ["text"], "doc_id").collect()}
    assert len(out) == 2
    dup = [r for r in out.values() if r.n_copies == 2][0]
    assert dup.keep_id == 1


def test_minhash_inrow_selectexpr_matches_column_builders(spark, docs):
    """The r15 selectExpr form of minhash_signatures_inrow must be
    bit-identical to the Column-builder form (gram_array_expr +
    minhash_ab_expr + minhash_cols_from_ab — still used by the streaming
    tier) AND to the explode+groupBy agg form: same expressions, different
    construction path only."""
    from crypto_market_data_etl_spark.operators.dedup import (
        gram_array_expr,
        minhash_ab_expr,
        minhash_cols_from_ab,
        minhash_signatures,
        minhash_signatures_inrow,
        spread_small_input,
        word_shingles,
    )

    staged = spread_small_input(docs).select(
        F.col("doc_id"), F.split(F.col("text"), " ").alias("__toks")
    )
    built = (
        staged.filter(F.size(F.col("__toks")) >= 2)
        .select(F.col("doc_id"), gram_array_expr(F.col("__toks"), 2).alias("__grams"))
        .select(F.col("doc_id"), minhash_ab_expr(F.col("__grams")).alias("__ab"))
    )
    built = built.select(
        F.col("doc_id"), *minhash_cols_from_ab(F.col("__ab"), 15)
    ).withColumn("mhs", F.array(*[f"mh{i}" for i in range(15)]))
    new = sorted(map(tuple, minhash_signatures_inrow(docs).collect()))
    assert new == sorted(map(tuple, built.collect()))
    agg = sorted(
        map(tuple, minhash_signatures(word_shingles(docs, distinct=False)).collect())
    )
    assert new == agg


def test_minhash_self_duplicate_detected(spark, docs):
    # append an exact copy of one doc under a new id: jaccard_est must be 1.0
    one = docs.filter(F.col("doc_id") == 1).withColumn("doc_id", F.lit(999_999).cast("long"))
    pairs = minhash_jaccard_pairs(docs.unionByName(one)).collect()
    exact = [p for p in pairs if p.doc_a == 1 and p.doc_b == 999_999]
    assert len(exact) == 1 and exact[0].jaccard_est == 1.0
    assert all(0.0 <= p.jaccard_est <= 1.0 and p.doc_a < p.doc_b for p in pairs)


def test_simhash_shape_and_determinism(spark, docs):
    out = simhash(docs).collect()
    assert all(len(r.simhash) == 32 and set(r.simhash) <= {"0", "1"} for r in out)
    again = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert all(again[r.doc_id] == r.simhash for r in out)


def test_shingles_distinct(spark, docs):
    sh = word_shingles(docs)
    assert sh.count() == sh.distinct().count()


def test_cosine_topk_self_similarity_excluded(spark, embs):
    out = cosine_topk(embs, embs.filter(F.col("vec_id") < 3), k=4).collect()
    assert all(r.q_id != r.n_id for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rnk)
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        assert all(-1.0 - 1e-9 <= s <= 1.0 + 1e-9 for s in sims)


def test_cosine_topk_finds_identical_vector(spark, embs):
    clone = embs.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(777_777).cast("long")
    )
    out = cosine_topk(embs.unionByName(clone), embs.filter(F.col("vec_id") == 0), k=1).collect()
    assert out[0].n_id == 777_777 and abs(out[0].sim - 1.0) < 1e-6


def _bucket_signature_sweep(
    df, id_col, vec_col, n_planes, dim, offset=0, carry_vec=False, out_col="bucket"
):
    """Stand-in for ``_signature_sweep`` built from the ``bucket_signature``
    expression: same arguments, same output columns."""
    cols = [F.col(id_col)] + ([F.col(vec_col)] if carry_vec else [])
    return df.select(
        *cols, bucket_signature(vec_col, n_planes, dim, offset).alias(out_col)
    )


def _with_expression_signatures(monkeypatch, fn):
    """``fn()`` collected with the sign-LSH family's signatures computed by
    the ``bucket_signature`` expression instead of the Arrow sweep."""
    from crypto_market_data_etl_spark.operators import similarity as sim

    with monkeypatch.context() as m:
        m.setattr(sim, "_signature_sweep", _bucket_signature_sweep)
        return fn().collect()


def test_lsh_buckets_sweep_bit_parity(spark, embs, monkeypatch):
    """The r15 sweep signatures must produce IDENTICAL buckets to the
    ``bucket_signature`` expression: sign decisions on bit-exact dots need
    no margin at all. Full-output equality, both plane widths used by the
    gated queries."""
    for planes in (6, 16):
        sweep = lsh_buckets(embs, n_planes=planes).collect()
        expr = _with_expression_signatures(
            monkeypatch, lambda: lsh_buckets(embs, n_planes=planes)
        )
        assert sorted(map(tuple, sweep)) == sorted(map(tuple, expr)), planes


def test_cosine_topk_matches_fold_reference(spark, embs):
    """The r15 sweep must equal the ``_dot`` fold form on the FULL output
    (ids, ranks AND rounded sims) — it replicates the fold bit-exactly and
    only pre-selects candidates with a 2-quantum margin; the rank and the
    rounding run in the same Spark expressions either way. Covers k larger
    than the corpus (every row a candidate) and tiny-k."""
    qs = embs.filter(F.col("vec_id") % 7 == 0)
    for corpus, kk in ((embs, 5), (embs, 1), (embs.limit(4), 10)):
        sweep = cosine_topk(corpus, qs, k=kk).collect()
        expr = cosine_topk_fold(corpus, qs, k=kk).collect()
        assert sorted(map(tuple, sweep)) == sorted(map(tuple, expr)), kk


def test_cosine_topk_sweep_edge_regimes(spark):
    """Inputs beside the dense long-id case, each against the fold form:
    NULL query vectors (the k smallest other ids, NULL sim), NULL corpus
    vectors (ranked last, bounded emission), a NULL-id query (no rows),
    string ids (native self-mask and ordering); zero-norm vectors raise in
    both (the fold's ANSI DIVIDE_BY_ZERO, the sweep's explicit guard)."""
    rows = [(i, [float(i % 7) + 0.1 * d for d in range(8)]) for i in range(40)]
    rows += [(40, None), (None, [1.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sdf = df.withColumn("vec_id", F.concat(F.lit("v"), F.col("vec_id").cast("string")))
    cases = [
        (df, F.col("vec_id").isin(1, 40)),
        (df, F.col("vec_id") == 1),
        (df, F.col("vec_id").isNull() | (F.col("vec_id") == 3)),
        (sdf, F.col("vec_id").isin("v1", "v40", "v5")),
    ]
    for corpus, qfilter in cases:
        qs = corpus.filter(qfilter)
        sweep = cosine_topk(corpus, qs, k=3).collect()
        expr = cosine_topk_fold(corpus, qs, k=3).collect()
        assert len(sweep) > 0
        assert sorted(map(tuple, sweep), key=repr) == sorted(
            map(tuple, expr), key=repr
        )
    assert cosine_topk(df, df.filter(F.col("vec_id").isNull()), k=3).count() == 0
    z = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [0.0] * 8), (2, [2.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    for topk in (cosine_topk, cosine_topk_fold):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO|zero-norm"):
            topk(z, z.filter(F.col("vec_id") == 0), k=2).collect()


def test_ivf_matches_fold_reference(spark, embs):
    """Inline ``ivf_ann_topk`` (``ivf_index`` plus the cell rule for the
    query probes) equals the fold form that files the corpus by the same
    cell rule. The near-tie fixture pins the rule's 6dp rounding: a BLAS
    argmax files ``[1, 0]`` into cell 2 (cosine 0.7000003 beats 0.7000001)
    and a 1-probe query for its exact duplicate then probes cell 1 and
    misses it; the rounded rule ties the two cells and picks c_id 1."""
    import math

    from crypto_market_data_etl_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_index,
    )
    qs = embs.filter(F.col("vec_id") % 50 == 0)
    flt = F.col("vec_id") % 20 == 1
    cents = embs.filter(flt).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    a = {(r.q_id, r.rnk): (r.n_id, r.sim)
         for r in ivf_ann_topk_fold(embs, qs, cents, n_probe=2, k=3).collect()}
    b = {(r.q_id, r.rnk): (r.n_id, r.sim)
         for r in ivf_ann_topk(
             embs, qs, n_probe=2, k=3, centroid_filter=flt
         ).collect()}
    assert a == b

    def unit(c):
        return [c, math.sqrt(1 - c * c)]

    tie = spark.createDataFrame(
        [(1, unit(0.7000001)), (2, unit(0.7000003)), (3, [0.0, 0.0]),
         (4, [-1.0, 0.0])],
        "c_id long, c_vec array<double>",
    )
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [0.0, 0.0]), (13, [0.3, 0.2])],
        "vec_id long, embedding array<float>",
    )
    side = corpus.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"))
    for r, mean in ((1, None), (2, None), (3, None), (2, [0.1, -0.2])):
        got = ivf_index(corpus, tie, center_vec=mean, assign_r=r)
        want = nearest_cells_fold(side, "n_id", "n_vec", tie, r, mean)
        assert sorted(got.select("n_id", "c_id").collect()) == sorted(
            want.select("n_id", "c_id").collect()
        )
    dup = spark.createDataFrame([(20, [1.0, 0.0])], "vec_id long, embedding array<float>")
    hit = ivf_ann_topk(
        corpus.filter(F.col("vec_id") != 12), dup, n_probe=1, k=1, centroids=tie
    ).collect()
    assert [(h.n_id, h.sim) for h in hit] == [(10, 1.0)]


def test_lsh_buckets_shape(spark, embs):
    out = lsh_buckets(embs).collect()
    assert all(len(r.bucket) == 16 and set(r.bucket) <= {"0", "1"} for r in out)
    # identical vectors share a bucket
    sizes = {}
    for r in out:
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
    assert all(r.n_in_bucket == sizes[r.bucket] for r in out)


def test_multiprobe_recall_dominates_single_bucket(spark, embs):
    # Hamming-1 probing strictly widens the candidate set, so recall@k vs the
    # exact top-k is monotone: recall(probe=1) >= recall(probe=0).
    qs = embs.filter(F.col("vec_id") % 25 == 0)
    exact = cosine_topk(embs, qs, k=3).cache()
    single = lsh_ann_multiprobe(embs, qs, n_planes=6, k=3, probe_hamming=0)
    multi = lsh_ann_multiprobe(embs, qs, n_planes=6, k=3, probe_hamming=1)
    r0 = ann_recall(single, exact).collect()[0]
    r1 = ann_recall(multi, exact).collect()[0]
    assert r0.n_queries > 0 and r0.n_exact == r1.n_exact
    assert r1.recall >= r0.recall
    assert 0.0 <= r0.recall <= 1.0 and r1.recall <= 1.0


def test_bandor_recall_dominates_one_table(spark, embs):
    # collide-in-ANY over 3 tables is a superset of table 0 alone
    qs = embs.filter(F.col("vec_id") % 25 == 0)
    exact = cosine_topk(embs, qs, k=3).cache()
    one = lsh_ann_multiprobe(embs, qs, n_planes=4, k=3, probe_hamming=0)
    orred = lsh_ann_bandor(embs, qs, planes_per_table=4, n_tables=3, k=3)
    r_one = ann_recall(one, exact).collect()[0]
    r_or = ann_recall(orred, exact).collect()[0]
    assert r_or.recall >= r_one.recall


def test_sign_lsh_family_sweep_bit_parity(spark, embs, monkeypatch):
    """r15 batch 9: the sign-LSH family on _signature_sweep must equal the
    same operators on ``bucket_signature`` expressions on the FULL output
    (ids, ranks, rounded sims / thresholds) — sign decisions on bit-exact
    dots need no margin, and norms/sims stay JVM folds either way. Covers
    the gated shapes: x14 (8 planes, capped + uncapped), x17 (multi-probe,
    6 planes), x18 (band-OR 4×3)."""
    from crypto_market_data_etl_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    qs = embs.filter(F.col("vec_id") % 25 == 0)
    cases = [
        ("x14", lambda: embedding_neardup_pairs(
            embs, n_planes=8, threshold=0.25)),
        ("x14_capped", lambda: embedding_neardup_pairs(
            embs, n_planes=2, threshold=0.0, max_bucket_size=5)),
        ("x17", lambda: lsh_ann_multiprobe(embs, qs, n_planes=6, k=3)),
        ("x17_p0", lambda: lsh_ann_multiprobe(
            embs, qs, n_planes=6, k=3, probe_hamming=0)),
        ("x18", lambda: lsh_ann_bandor(
            embs, qs, planes_per_table=4, n_tables=3, k=3)),
    ]
    for name, fn in cases:
        sweep = fn().collect()
        expr = _with_expression_signatures(monkeypatch, fn)
        assert len(sweep) > 0, name
        assert sorted(map(tuple, sweep)) == sorted(map(tuple, expr)), name


def test_sign_lsh_family_sweep_null_vector_parity(spark, embs, monkeypatch):
    """A whole-NULL vector buckets to the all-zeros string in both forms
    (the sweep pre-handles it; ``bucket_signature``'s NULL dots fall to
    '0'), and downstream NULL norms/sims rank/filter identically."""
    from crypto_market_data_etl_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    nul = spark.createDataFrame(
        # a whole-NULL vector AND a NULL id: the id column must survive the
        # sweep's Arrow→pandas→Arrow round-trip null-intact (nullable int64)
        [(900001, None, 0), (None, [1.0] * 64, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    dfn = embs.unionByName(nul)
    qs = dfn.filter((F.col("vec_id") % 25 == 0) | F.col("embedding").isNull())
    for name, fn in [
        ("x14", lambda: embedding_neardup_pairs(dfn, n_planes=8, threshold=0.25)),
        ("x17", lambda: lsh_ann_multiprobe(dfn, qs, n_planes=6, k=3)),
        ("x18", lambda: lsh_ann_bandor(
            dfn, qs, planes_per_table=4, n_tables=3, k=3)),
    ]:
        sweep = fn().collect()
        expr = _with_expression_signatures(monkeypatch, fn)
        assert sorted(map(tuple, sweep)) == sorted(map(tuple, expr)), name


def test_signature_sweep_id_exactness_past_2_53(spark):
    """r16 (ADVICE r15): the sweep must not corrupt ids > 2^53 when a NULL
    id shares the batch. The old mapInPandas form let Arrow widen
    long-with-null to float64 (silently rounding big ids); the mapInArrow
    form passes the id column through with its validity bitmap intact."""
    from crypto_market_data_etl_spark.operators.similarity import (
        _signature_sweep,
        bucket_signature,
    )

    big = (1 << 60) + 12345  # not representable in float64
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (None, [0.5] * 8), (2, None), (big, [0.25] * 8)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)  # one batch: the NULL id and the big id MUST co-batch
    out = _signature_sweep(df, "vec_id", "embedding", 4, 8).collect()
    ids = [r.vec_id for r in out]
    assert big in ids and None in ids and sorted(
        i for i in ids if i is not None
    ) == [1, 2, big]
    by_id = {r.vec_id: r.bucket for r in out}
    assert by_id[2] == "0000"  # whole-NULL vector → all-zeros bucket
    expr = {
        r.vec_id: r.b
        for r in df.filter(F.col("embedding").isNotNull()).select(
            "vec_id", bucket_signature("embedding", 4, 8).alias("b")
        ).collect()
    }
    for i in (1, big):
        assert by_id[i] == expr[i]
    # carry_vec passes the vector through the Arrow boundary unchanged
    cv = {
        r.vec_id: r.embedding
        for r in _signature_sweep(
            df, "vec_id", "embedding", 4, 8, carry_vec=True
        ).collect()
    }
    assert cv[big] == [0.25] * 8 and cv[2] is None


def test_signature_sweep_rejects_wrong_length_vectors(spark):
    """Two length-4 vectors at dim=8 hold exactly one row's worth of
    elements, and so do a 4- and a 12-element vector at dim=8 as two rows:
    the sweep must refuse both, not reshape them into merged or shifted
    vectors and bucket the wrong data."""
    from crypto_market_data_etl_spark.operators.similarity import _signature_sweep

    for rows in ([(1, [1.0] * 4), (2, [0.5] * 4)], [(1, [1.0] * 4), (2, [0.5] * 12)]):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1)  # one Arrow batch: the element total divides evenly by dim
        with pytest.raises(Exception, match="expected 8 each"):
            _signature_sweep(df, "vec_id", "embedding", 4, 8).collect()


# --------------------------------------------------------------------------
# The Arrow vector path contract: every vector kernel, fed ONE Arrow batch
# holding an int64 id past 2^53 next to a NULL id, a NULL vector, and
# wrong-length vectors
# --------------------------------------------------------------------------

BIG_ID = (1 << 60) + 12345  # float64 rounds it to 1152921504606859264
_VP_VECS = {
    1: [1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
    None: [0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0],
    BIG_ID: [0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0],
    BIG_ID + 1: [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 1.0],
    7: [1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],  # exact copy of id 1
}


def _vp_frame(spark, extra=()):
    return spark.createDataFrame(
        list(_VP_VECS.items()) + list(extra), "vec_id long, embedding array<double>"
    ).coalesce(1)  # one Arrow batch: the NULL id and the big ids co-batch


def _vp_kernel(name, spark, df, reference=False):
    from crypto_market_data_etl_spark.operators import similarity as sim

    h = 0.5 ** 0.5
    cents = spark.createDataFrame(
        [(0, [h, h] + [0.0] * 6), (BIG_ID, [0.0] * 4 + [h, h, 0.0, 0.0])],
        "c_id long, c_vec array<double>",
    )
    # m=8 one-dim blocks with centroids {0, 1}: the 0/1 test vectors are
    # their own codes
    books = spark.createDataFrame(
        [(b, c, [float(c)]) for b in range(8) for c in range(2)],
        "block int, c_id int, c_vec array<double>",
    )
    codes = df.select("vec_id", F.col("embedding").cast("array<int>").alias("codes"))
    qs = df.filter(F.col("vec_id").isin(1, BIG_ID))
    return {
        "cosine_topk": lambda: (cosine_topk_fold if reference else sim.cosine_topk)(
            df, qs, k=5
        ),
        "assign_centroids_np": lambda: sim.assign_centroids_np(df, cents),
        "kmeans_parallel_init": lambda: sim.kmeans_parallel_init(df, k=4, rounds=2),
        "pq_encode": lambda: sim.pq_encode(df, books),
        "pq_topk": lambda: sim.pq_topk(codes, qs, books, k=3),
        "coarse_residuals": lambda: sim.coarse_residuals(df, cents),
        "ivfpq_index": lambda: sim.ivfpq_index(df, cents, books),
        "ivfpq_topk": lambda: sim.ivfpq_topk(
            codes.withColumn("c_id", F.lit(0).cast("long")), qs, cents, books, df,
            n_probe=2, k=3, shortlist=10,
        ),
        "semantic_dedup": lambda: (
            semantic_dedup_fold if reference else sim.semantic_dedup
        )(df, centroid_filter=F.col("vec_id").isin(1, BIG_ID)),
        "ivf_index": lambda: (
            nearest_cells_fold(
                df.select(
                    F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec")
                ),
                "n_id", "n_vec", cents, 1,
            )
            if reference
            else sim.ivf_index(df, cents)
        ),
        "_signature_sweep": lambda: (
            _bucket_signature_sweep if reference else sim._signature_sweep
        )(df, "vec_id", "embedding", 4, 8),
    }[name]().collect()


#: each kernel's NULL-vector route: "raise" (a ValueError naming the
#: operator), "expression" (the expression form's answer — ranked last /
#: smallest c_id / all-zeros bucket) or "filtered" (dropped before seeding)
_VP_NULL_ROUTE = {
    "cosine_topk": "expression",
    "assign_centroids_np": "raise",
    "kmeans_parallel_init": "filtered",
    "pq_encode": "raise",
    "pq_topk": "raise",
    "coarse_residuals": "raise",
    "ivfpq_index": "raise",
    "ivfpq_topk": "raise",
    "semantic_dedup": "expression",
    "_signature_sweep": "expression",
    "ivf_index": "expression",
}


def _sorted_rows(rows):
    return sorted(map(tuple, rows), key=repr)


@pytest.mark.parametrize("name", list(_VP_NULL_ROUTE))
def test_vector_path_ids_nulls_and_lengths(spark, name):
    """The one Arrow vector path, per kernel: an id past 2^53 sharing the
    batch with a NULL id comes back exact; a NULL vector takes the
    kernel's documented route or raises a ValueError naming it; wrong-
    length vectors — a 4 and a 12 at dim 8, whose total divides evenly —
    raise."""
    clean = _vp_frame(spark)
    out = _vp_kernel(name, spark, clean)
    if name == "kmeans_parallel_init":
        # big ids that collide in float64 must stay two candidates; the
        # NULL-id row cannot seed (a seed is named by its source id)
        assert sorted(list(r.c_vec) for r in out) == sorted(
            _VP_VECS[i] for i in (1, BIG_ID, BIG_ID + 1)
        )
    else:
        ints = {v for row in out for v in row if type(v) is int}
        assert BIG_ID in ints and int(float(BIG_ID)) not in ints

    nulls = _vp_frame(spark, [(2, None)])
    route = _VP_NULL_ROUTE[name]
    if route == "raise":
        with pytest.raises(Exception, match=f"{name}: NULL"):
            _vp_kernel(name, spark, nulls)
    elif route == "filtered":
        assert _sorted_rows(_vp_kernel(name, spark, nulls)) == _sorted_rows(out)
    else:
        for df in (clean, nulls):
            assert _sorted_rows(_vp_kernel(name, spark, df)) == _sorted_rows(
                _vp_kernel(name, spark, df, reference=True)
            )

    wrong = _vp_frame(spark, [(5, [1.0] * 4), (6, [1.0] * 12)])
    with pytest.raises(Exception, match=f"{name}: .*(expected 8|wrong-length)"):
        _vp_kernel(name, spark, wrong)


def test_unit_normalizing_kernels_refuse_zero_vectors(spark):
    """A zero vector has no direction: the kernels that unit-normalize
    without a floor must refuse it, not code it [0, ..., 0] in cell
    c_ids[0] or rank it first with a NULL sim."""
    from crypto_market_data_etl_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0] * 4), (3, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "c_id long, c_vec array<double>",
    )
    books = spark.createDataFrame(
        [(b, c, [float(c)]) for b in range(4) for c in range(2)],
        "block int, c_id int, c_vec array<double>",
    )
    zero_q = df.filter(F.col("vec_id") == 2)
    ok_q = df.filter(F.col("vec_id") == 1)
    index = df.filter(F.col("vec_id") != 2).select(
        "vec_id", F.lit(0).cast("long").alias("c_id"),
        F.col("embedding").cast("array<int>").alias("codes"),
    )
    cases = {
        "pq_encode": lambda: sim.pq_encode(df, books),
        "ivfpq_index": lambda: sim.ivfpq_index(df, cents, books),
        "cosine_topk": lambda: sim.cosine_topk(df, ok_q, k=2),
        "cosine_topk query": lambda: sim.cosine_topk(df, zero_q, k=2),
        "pq_topk query": lambda: sim.pq_topk(index, zero_q, books, k=2),
        "ivfpq_topk query": lambda: sim.ivfpq_topk(
            index, zero_q, cents, books, df, n_probe=2, k=2
        ),
    }
    for what, run in cases.items():
        with pytest.raises(Exception, match=f"{what}: zero-norm"):
            run().collect()
    # the documented floor stays: a zero row assigns deterministically
    assert sim.coarse_residuals(df, cents).count() == 3


def test_multiprobe_matches_exact_on_identical_vectors(spark, embs):
    # a cloned vector collides in every probe scheme: it must be rank 1
    clone = embs.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(777_777).cast("long")
    )
    out = lsh_ann_multiprobe(
        embs.unionByName(clone), embs.filter(F.col("vec_id") == 0), n_planes=6, k=1
    ).collect()
    assert len(out) == 1 and out[0].n_id == 777_777 and out[0].sim == 1.0


def test_multimodal_features_deterministic(spark, docs):
    blobs = to_blob_table(docs.limit(10))
    a = {r.doc_id: r.feature for r in extract_features(blobs).collect()}
    b = {r.doc_id: r.feature for r in extract_features(blobs).collect()}
    assert a == b
    assert all(len(v) == 8 and all(0 <= x <= 1 for x in v) for v in a.values())


def test_kmeans_train_matches_numpy_reference(spark):
    """One kmeans_train iteration == a numpy Lloyd iteration (cosine
    assignment to the seed centroids, per-cluster mean), and the output
    feeds ivf_ann_topk's `centroids` override."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        ivf_ann_topk,
        kmeans_train,
    )

    rng = np.random.default_rng(3)
    X = rng.normal(size=(40, 4)).round(3)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    seed_ids = [i for i in range(40) if i % 10 == 1]
    got = {
        r.c_id: list(r.c_vec)
        for r in kmeans_train(
            df, centroid_filter=F.col("vec_id") % 10 == 1, n_iters=1
        ).collect()
    }
    C = X[seed_ids]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    assign = (Xn @ Cn.T).argmax(axis=1)
    for j, cid in enumerate(seed_ids):
        members = X[assign == j]
        if len(members) == 0:
            assert cid not in got
        else:
            assert got[cid] == pytest.approx(members.mean(axis=0).tolist(), rel=1e-9)

    # trained centroids drop into the IVF index via the centroids override
    cents = kmeans_train(df, centroid_filter=F.col("vec_id") % 10 == 1, n_iters=2)
    out = ivf_ann_topk(df, df.limit(5), n_probe=2, k=3, centroids=cents).collect()
    assert len(out) > 0
    assert all(r.q_id != r.n_id for r in out)


def test_kmeans_train_empty_seeds_raise(spark):
    from crypto_market_data_etl_spark.operators.similarity import kmeans_train

    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no seed rows"):
        kmeans_train(df, centroid_filter=F.col("vec_id") > 100, n_iters=1)


def test_kmeans_train_init_plus_filter_raise(spark):
    """Supplying both init and centroid_filter raises instead of silently
    ignoring the filter (r10 ADVICE)."""
    from crypto_market_data_etl_spark.operators.similarity import kmeans_train

    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    init = spark.createDataFrame(
        [(0, [1.0, 2.0])], "c_id long, c_vec array<double>"
    )
    with pytest.raises(ValueError, match="not both"):
        kmeans_train(
            df, centroid_filter=F.col("vec_id") >= 0, init=init, n_iters=1
        )


def test_assign_centroids_np_zero_norm_rows_are_finite(spark):
    """A zero-norm corpus vector must not NaN-argmax to candidate 0: the
    batch-side norm is floored like the centroid side (r10 ADVICE), so the
    assignment is deterministic and the similarity finite."""
    from crypto_market_data_etl_spark.operators.similarity import (
        assign_centroids_np,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "c_id long, c_vec array<double>",
    )
    out = {r["vec_id"]: r["c_id"] for r in assign_centroids_np(df, cents).collect()}
    # the floored zero vector has similarity exactly 0 to every centroid →
    # argmax ties to the first centroid BY RULE (not via NaN), and the
    # non-degenerate row still lands on its true nearest centroid
    assert out[2] == 1
    assert out[1] in (0, 1)


def _three_cluster_df(spark):
    """3 well-separated spherical clusters with wildly unequal mass and
    ids laid out so the uniform id-sample seeding lands ALL its seeds in
    the big cluster (the failure mode kmeans|| exists to fix): 60 points
    near e0 (ids 0-59), 10 near e1 (ids 60-69), 5 near e2 (ids 70-74)."""
    rows = []
    for i in range(75):
        base = [0.0, 0.0, 0.0, 0.0]
        axis = 0 if i < 60 else (1 if i < 70 else 2)
        base[axis] = 1.0
        # deterministic small jitter off-axis
        base[(axis + 1) % 4] += ((i * 7919) % 11 - 5) / 100.0
        base[(axis + 2) % 4] += ((i * 104729) % 11 - 5) / 100.0
        rows.append((i, base))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cluster_of(vec):
    return max(range(len(vec)), key=lambda j: vec[j])


def test_kmeans_parallel_init_covers_unequal_clusters(spark):
    """k-means|| seeds cover ALL three separated clusters (greedy weighted
    D-squared cannot leave a separated cluster unseeded), where the uniform
    id-sample puts every seed in the dominant cluster; Lloyd from the
    kmeans|| seeds reaches strictly lower spherical inertia."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        kmeans_parallel_init,
        kmeans_train,
    )

    df = _three_cluster_df(spark)
    seeds = kmeans_parallel_init(df, k=3, rounds=3).collect()
    assert len(seeds) == 3
    assert sorted(r.c_id for r in seeds) == [0, 1, 2]
    assert {_cluster_of(list(r.c_vec)) for r in seeds} == {0, 1, 2}

    X = np.array(
        [r.embedding for r in df.orderBy("vec_id").collect()], dtype=np.float64
    )
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    def inertia(cents):
        C = np.array([list(r.c_vec) for r in cents], dtype=np.float64)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        return float((1.0 - (Xn @ Cn.T).max(axis=1)).sum())

    # the seeding claim proper: BEFORE any Lloyd step, the uniform
    # id-sample (ids 0/25/50) has every seed inside the 60-point cluster;
    # kmeans|| already covers all three
    uniform_seed_clusters = {_cluster_of(list(X[i])) for i in (0, 25, 50)}
    assert uniform_seed_clusters == {0}
    assert {_cluster_of(list(r.c_vec)) for r in seeds} == {0, 1, 2}

    init_tbl = kmeans_parallel_init(df, k=3, rounds=3)
    good = kmeans_train(df, init=init_tbl, n_iters=2).collect()
    bad = kmeans_train(
        df, centroid_filter=F.col("vec_id") % 25 == 0, n_iters=2
    ).collect()
    assert {_cluster_of(list(r.c_vec)) for r in good} == {0, 1, 2}
    # Lloyd may or may not dig the uniform seeds out of the dominant
    # cluster; seeded-from-coverage can never do worse
    assert inertia(good) <= inertia(bad)


def test_kmeans_parallel_init_deterministic_and_shrinks(spark):
    from crypto_market_data_etl_spark.operators.similarity import (
        kmeans_parallel_init,
    )

    df = _three_cluster_df(spark)
    a = [(r.c_id, tuple(r.c_vec)) for r in kmeans_parallel_init(df, k=4).collect()]
    b = [(r.c_id, tuple(r.c_vec)) for r in kmeans_parallel_init(df, k=4).collect()]
    assert sorted(a) == sorted(b)

    # k past the distinct-candidate count returns what exists (k shrinks,
    # the standard-Lloyd contract downstream)
    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "vec_id long, embedding array<double>",
    )
    got = kmeans_parallel_init(tiny, k=10, rounds=2).collect()
    assert 1 <= len(got) <= 3
    assert sorted(r.c_id for r in got) == list(range(len(got)))


def test_kmeans_parallel_init_empty_and_null_corpus(spark):
    from crypto_market_data_etl_spark.operators.similarity import (
        kmeans_parallel_init,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-NULL vectors"):
        kmeans_parallel_init(empty, k=2)
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no non-NULL vectors"):
        kmeans_parallel_init(nulls, k=2)


def test_hashed_bow_embeddings_bridge_text_to_vectors(spark, docs):
    """The text -> vector bridge: unit-norm deterministic embeddings whose
    cosine structure reflects token overlap — a near-duplicate text ranks
    above unrelated text through the UNCHANGED vector operators."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        hashed_bow_embeddings,
    )

    base = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog by the river"),
            (2, "completely unrelated text about market volatility and trades"),
            (3, "the quick brown fox jumps over the lazy dog by the stream"),
        ],
        "doc_id long, text string",
    )
    emb = {r.doc_id: np.array(r.embedding) for r in hashed_bow_embeddings(base).collect()}
    for v in emb.values():
        assert np.linalg.norm(v) == pytest.approx(1.0, abs=1e-5)
    sim_dup = float(emb[1] @ emb[3])
    sim_other = float(emb[1] @ emb[2])
    assert sim_dup > 0.8 > sim_other

    # determinism + the vector family composes: cosine_topk over the
    # hashed embeddings puts the near-dup first
    vecs = hashed_bow_embeddings(base).withColumnRenamed("doc_id", "vec_id")
    top = cosine_topk(vecs, vecs.filter(F.col("vec_id") == 1), k=2).collect()
    assert next(r.n_id for r in top if r.rnk == 1) == 3


def test_hashed_bow_zero_norm_and_tokenizers(spark):
    """(a) a doc whose cells ALL cancel gets a NULL embedding (not NaN
    values poisoning downstream cosine); (b) the regex tokenizer splits
    punctuation the space tokenizer can't; (c) a Column tokenizer
    expression is accepted; (d) unknown names raise."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        hashed_bow_embeddings,
    )

    # "t17" and "t30" hash to the same cell with opposite signs (found by
    # exhaustive search over the md5 scheme at dim=64) — their sum is the
    # all-cancelled zero-norm document
    base = spark.createDataFrame(
        [(1, "t17 t30"), (2, "hello world")], "doc_id long, text string"
    )
    out = {r.doc_id: r.embedding for r in hashed_bow_embeddings(base).collect()}
    assert out[1] is None
    assert np.linalg.norm(out[2]) == pytest.approx(1.0, abs=1e-5)

    punct = spark.createDataFrame(
        [(1, "hello, world! hello,world"), (2, "hello world hello world")],
        "doc_id long, text string",
    )
    sp = {r.doc_id: np.array(r.embedding) for r in hashed_bow_embeddings(punct).collect()}
    rx = {
        r.doc_id: np.array(r.embedding)
        for r in hashed_bow_embeddings(punct, tokenizer="regex").collect()
    }
    # space-split sees "hello," / "hello,world" as opaque tokens -> low sim;
    # the regex tokenizer recovers hello/world (plus ,/! tokens) -> high sim
    assert float(rx[1] @ rx[2]) > float(sp[1] @ sp[2])
    assert float(rx[1] @ rx[2]) > 0.7

    col = {
        r.doc_id: np.array(r.embedding)
        for r in hashed_bow_embeddings(
            punct, tokenizer=F.split(F.col("text"), "[ ,!]+")
        ).collect()
    }
    assert float(col[1] @ col[2]) > 0.9

    with pytest.raises(ValueError, match="unknown tokenizer"):
        hashed_bow_embeddings(punct, tokenizer="words")


def test_pq_train_pooled_blocks_bit_identical_to_sequential(spark):
    """r15 batch 10: pq_train submits its m independent block trainings from
    a thread pool (each block's job chain — and FP op sequence — unchanged;
    only the submission overlaps). The codebooks must be BIT-identical to
    the sequential per-block composition through the public API."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        kmeans_train,
        pq_train,
    )

    rng = np.random.default_rng(11)
    dim, m, kc, n_iters = 8, 4, 4, 2
    X = rng.normal(size=(60, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    pooled = {
        (r.block, r.c_id): tuple(r.c_vec)
        for r in pq_train(df, m=m, k=kc, n_iters=n_iters, dim=dim).collect()
    }
    # sequential reference: the exact pre-batch-10 composition (same
    # auto-derived seed_mod, same residue-0 filter — the fixture's ids are
    # dense so residue 0 always seeds, the retry ladder never engages)
    seed_mod = max(1, 60 // kc)
    dsub = dim // m
    seq = {}
    for b in range(m):
        sliced = df.select(
            "vec_id",
            F.slice(F.col("embedding").cast("array<double>"), b * dsub + 1, dsub
                    ).alias("sub"),
        )
        cents = kmeans_train(
            sliced,
            vec_col="sub",
            centroid_filter=F.pmod(F.xxhash64(F.col("vec_id")), F.lit(seed_mod)) == 0,
            n_iters=n_iters,
        )
        for i, r in enumerate(sorted(cents.collect(), key=lambda r: r.c_id)[:kc]):
            seq[(b, i)] = tuple(r.c_vec)
    assert pooled == seq


def test_pq_train_seed_edge_cases(spark):
    """Auto-seed selection survives the regimes that broke the id-modulo
    scheme: (a) n < 2k (seed_mod=1 previously selected ZERO seeds — id%1==1
    never holds); (b) sparse non-dense ids (hashed selection has no
    0..n-1 assumption); (c) the bounded probe raises loudly past the cap
    instead of running a full-corpus count."""
    import numpy as np

    from crypto_market_data_etl_spark.operators import similarity as sim
    from crypto_market_data_etl_spark.operators.similarity import pq_encode, pq_train

    rng = np.random.default_rng(3)
    dim, m, kc = 8, 2, 8
    # (a) n=10 < 2k=16; (b) ids sparse (stride 1000, offset 7)
    X = rng.normal(size=(10, dim))
    df = spark.createDataFrame(
        [(7 + 1000 * i, [float(v) for v in X[i]]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    books = pq_train(df, m=m, k=kc, n_iters=1, dim=dim)
    rows = books.collect()
    assert {r.block for r in rows} == {0, 1}
    codes = pq_encode(df, books).collect()
    assert len(codes) == 10 and all(len(r.codes) == m for r in codes)
    # (c) probe cap: shrink it so the guard fires without a big frame
    old = sim.PQ_TRAIN_PROBE_CAP
    sim.PQ_TRAIN_PROBE_CAP = 5
    try:
        with pytest.raises(ValueError, match="probe cap"):
            pq_train(df, m=m, k=kc, n_iters=1, dim=dim)
        pq_train(df, m=m, k=kc, n_iters=1, dim=dim, seed_mod=3).collect()
    finally:
        sim.PQ_TRAIN_PROBE_CAP = old


def test_pq_encode_decode_and_adc(spark):
    """PQ pipeline invariants: (1) encode picks the L2-nearest centroid per
    block (numpy reference); (2) ADC distances equal the explicit distance
    to the RECONSTRUCTED vector (ADC is exact for the quantized
    representation); (3) a planted duplicate of a corpus vector is its own
    PQ top-1."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        _pq_codebook_tensor,
        pq_encode,
        pq_topk,
        pq_train,
    )

    rng = np.random.default_rng(17)
    dim, m, kc = 16, 4, 4
    X = rng.normal(size=(120, dim))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    books_df = pq_train(df, m=m, k=kc, n_iters=2, dim=dim)
    books, m_got = _pq_codebook_tensor(books_df)
    assert m_got == m and all(1 <= len(b) <= kc for b in books)

    codes = {
        r.vec_id: list(r.codes) for r in pq_encode(df, books_df).collect()
    }
    dsub = dim // m
    recon = {}
    for i in range(120):
        parts = []
        for b in range(m):
            sub = X[i, b * dsub : (b + 1) * dsub]
            d = ((books[b] - sub) ** 2).sum(axis=1)
            assert codes[i][b] == int(d.argmin()), (i, b)  # (1)
            parts.append(books[b][codes[i][b]])
        recon[i] = np.concatenate(parts)

    # (2) ADC == explicit reconstruction distance, via pq_topk on one query
    q = df.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    top = pq_topk(pq_encode(df, books_df), q, books_df, k=5).collect()
    for r in top:
        expect = float(((X[0] - recon[r.n_id]) ** 2).sum())
        assert r.dist == pytest.approx(round(expect, 6), abs=2e-6)

    # (3) planted duplicate: identical vector -> identical codes, so its
    # ADC distance is exactly the query's own quantization error (ADC keeps
    # the query raw — the distance is asymmetric, NOT zero) and it ranks
    # first (ties with same-cell vectors broken by id; 42 is the source)
    dup = spark.createDataFrame(
        [(7777, [float(v) for v in X[42]])], "vec_id long, embedding array<double>"
    )
    got = pq_topk(
        pq_encode(df.unionByName(dup), books_df),
        dup,
        books_df,
        k=30,  # wide enough to hold the whole same-code tie group
    ).collect()
    by_rank = {r.rnk: r for r in got}
    q_err = float(((X[42] - recon[42]) ** 2).sum())
    assert by_rank[1].dist == pytest.approx(round(q_err, 6), abs=2e-6)
    assert any(
        r.n_id == 42 and r.dist == by_rank[1].dist for r in got
    )  # the source is in the minimal-distance tie group

    # (4) PQ-shortlist + exact rerank: the EXTERNAL query frame (id 7777 is
    # not in the corpus — the r6 ANN rerank-bug path) resolves its own
    # vector and the raw-vector rerank puts the identical source at sim 1.0
    from crypto_market_data_etl_spark.operators.similarity import pq_topk_rerank

    rr = pq_topk_rerank(
        pq_encode(df, books_df), dup, books_df, df, k=3, shortlist=20
    ).collect()
    top1 = next(r for r in rr if r.rnk == 1)
    assert top1.n_id == 42 and top1.sim == 1.0


def test_ivfpq_index_and_topk(spark):
    """IVF+PQ composition invariants: (1) the fused one-pass index agrees
    with its two constituent operators (assign_centroids_np coarse cell +
    pq_encode codes); (2) with every cell probed and an exhaustive
    shortlist the composition degenerates to EXACT brute-force top-k;
    (3) a planted identical duplicate is found at sim 1.0 under a narrow
    probe (its cell is by construction the query's nearest)."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        assign_centroids_np,
        cosine_topk,
        ivfpq_index,
        ivfpq_topk,
        kmeans_train,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(11)
    dim, m, kc, n = 16, 4, 8, 300
    # clustered corpus (the regime IVF exploits): 6 centers + small noise
    centers = rng.normal(size=(6, dim))
    X = centers[np.arange(n) % 6] + 0.15 * rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_train(df, centroid_filter=F.col("vec_id") % 50 == 1, n_iters=2)
    books = pq_train(df, m=m, k=kc, n_iters=2, dim=dim)
    idx = ivfpq_index(df, cents, books)
    idx_rows = {r.vec_id: (r.c_id, list(r.codes)) for r in idx.collect()}
    assert len(idx_rows) == n

    # (1) fused index == assign + encode run separately
    assigned = {
        r.vec_id: r.c_id
        for r in assign_centroids_np(
            df.select("vec_id", "embedding"), cents, "vec_id", "embedding", n=1
        ).collect()
    }
    encoded = {r.vec_id: list(r.codes) for r in pq_encode(df, books).collect()}
    for i in range(n):
        assert idx_rows[i] == (assigned[i], encoded[i]), i

    qs = spark.createDataFrame(
        [(10_000 + i, [float(v) for v in X[i * 37]]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    n_cells = cents.count()

    # (2) exhaustive probe + shortlist == exact brute force
    exact = cosine_topk(df, qs, k=4).collect()
    full = ivfpq_topk(
        idx, qs, cents, books, df, n_probe=n_cells, k=4, shortlist=n
    ).collect()
    assert sorted((r.q_id, r.rnk, r.n_id, r.sim) for r in full) == sorted(
        (r.q_id, r.rnk, r.n_id, r.sim) for r in exact
    )

    # (3) planted duplicate under a narrow probe
    narrow = ivfpq_topk(idx, qs, cents, books, df, n_probe=1, k=4, shortlist=50)
    rows = narrow.collect()
    top1 = {r.q_id: (r.n_id, r.sim) for r in rows if r.rnk == 1}
    for i in range(5):
        assert top1[10_000 + i] == (i * 37, 1.0)
    assert len(rows) <= len(full)  # narrow probe never widens the result


def test_ivfpq_residual_coding(spark):
    """True-IVFADC residual coding (Jégou 2011 §V) invariants:
    (1) coarse_residuals reconstructs — resid + assigned centroid == the
    assignment-space unit vector; (2) residual index + topk with every cell
    probed and an uncut shortlist degenerates to EXACT brute-force top-k
    (the x52 pattern: the whole residual machinery proven invisible at the
    exhaustive point); (3) same degeneracy for the centered composition
    (center_vec on residual build + query); (4) a planted identical
    duplicate is found at sim 1.0 under a narrow probe."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        assign_centroids_np,
        coarse_residuals,
        cosine_topk,
        embedding_mean,
        center_embeddings,
        ivfpq_index,
        ivfpq_topk,
        kmeans_train,
        pq_train,
    )

    rng = np.random.default_rng(23)
    dim, m, kc, n = 16, 4, 8, 300
    centers = rng.normal(size=(6, dim))
    X = centers[np.arange(n) % 6] + 0.15 * rng.normal(size=(n, dim))
    # residual-mode contract: centroids must be assignment-space means, so
    # the fixture corpus is unit-normalized (raw-scale centroid tables are
    # refused loudly — tested below)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_train(df, centroid_filter=F.col("vec_id") % 50 == 1, n_iters=2)

    # raw-scale centroid table (norms ~4 on normal(16d) vectors) refused
    import pytest as _pytest

    raw_cents = spark.createDataFrame(
        [(0, [2.5] * dim)], "c_id long, c_vec array<double>"
    )
    with _pytest.raises(ValueError, match="assignment space"):
        coarse_residuals(df, raw_cents).collect()

    # (1) resid + centroid == unit vector
    cent_vecs = {r.c_id: np.array(r.c_vec) for r in cents.collect()}
    assigned = {
        r.vec_id: r.c_id
        for r in assign_centroids_np(df, cents, "vec_id", "embedding", n=1).collect()
    }
    resid = {r.vec_id: np.array(r.resid) for r in coarse_residuals(df, cents).collect()}
    assert len(resid) == n
    for i in range(0, n, 17):
        unit = X[i] / np.linalg.norm(X[i])
        np.testing.assert_allclose(
            resid[i] + cent_vecs[assigned[i]], unit, atol=1e-9
        )

    # (2) residual-coded exhaustive == brute
    books_r = pq_train(
        coarse_residuals(df, cents), vec_col="resid", m=m, k=kc, n_iters=2, dim=dim
    )
    idx_r = ivfpq_index(df, cents, books_r, residual=True)
    qs = spark.createDataFrame(
        [(10_000 + i, [float(v) for v in X[i * 37]]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    exact = sorted(
        (r.q_id, r.rnk, r.n_id, r.sim) for r in cosine_topk(df, qs, k=4).collect()
    )
    full = ivfpq_topk(
        idx_r, qs, cents, books_r, df,
        n_probe=10**9, k=4, shortlist=10**9, residual=True,
    ).collect()
    assert sorted((r.q_id, r.rnk, r.n_id, r.sim) for r in full) == exact

    # (3) centered residual composition, exhaustive == brute
    mean = embedding_mean(df)
    cents_c = kmeans_train(
        center_embeddings(df, mean, out_col="cvec"),
        vec_col="cvec",
        centroid_filter=F.col("vec_id") % 50 == 1,
        n_iters=2,
    )
    books_cr = pq_train(
        coarse_residuals(df, cents_c, center_vec=mean),
        vec_col="resid", m=m, k=kc, n_iters=2, dim=dim,
    )
    idx_cr = ivfpq_index(df, cents_c, books_cr, center_vec=mean, residual=True)
    full_c = ivfpq_topk(
        idx_cr, qs, cents_c, books_cr, df,
        n_probe=10**9, k=4, shortlist=10**9, center_vec=mean, residual=True,
    ).collect()
    assert sorted((r.q_id, r.rnk, r.n_id, r.sim) for r in full_c) == exact

    # (4) planted duplicate under a narrow probe
    narrow = ivfpq_topk(
        idx_r, qs, cents, books_r, df, n_probe=1, k=4, shortlist=50, residual=True
    )
    top1 = {r.q_id: (r.n_id, r.sim) for r in narrow.collect() if r.rnk == 1}
    for i in range(5):
        assert top1[10_000 + i] == (i * 37, 1.0)


def test_centered_assignment_space(spark):
    """Mean-centered cell assignment (the shared-component fix):
    (1) embedding_mean / center_embeddings numerics; (2) centered IVF with
    every cell probed degenerates to EXACT brute force on raw vectors, on
    BOTH physical tiers (the output metric must be untouched by the
    assignment-space change); (3) the same degeneracy for the composed
    IVF+PQ with a centered coarse quantizer; (4) on a corpus whose vectors
    share one dominant direction, raw assignment collapses cells while
    centered assignment spreads them — the measured pathology
    (SCALE ann.sweep_bow) in miniature."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        assign_centroids_np,
        center_embeddings,
        cosine_topk,
        embedding_mean,
        ivf_ann_topk,
        ivfpq_index,
        ivfpq_topk,
        kmeans_train,
        pq_train,
    )

    # (1) numerics on a hand case
    small = spark.createDataFrame(
        [(0, [1.0, 3.0]), (1, [3.0, 5.0])], "vec_id long, embedding array<double>"
    )
    m = embedding_mean(small)
    assert m == [2.0, 4.0]
    cen = {
        r.vec_id: r.cvec
        for r in center_embeddings(small, m, out_col="cvec").collect()
    }
    assert cen == {0: [-1.0, -1.0], 1: [1.0, 1.0]}

    # shared-component corpus: big common direction + small distinct part
    rng = np.random.default_rng(5)
    dim, n = 16, 240
    common = np.ones(dim) * 4.0
    X = common[None, :] + 0.3 * rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(9000 + i, [float(v) for v in X[i * 31]]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    exact = sorted(
        (r.q_id, r.rnk, r.n_id, r.sim) for r in cosine_topk(df, qs, k=4).collect()
    )

    # (2) centered + exhaustive == brute
    got = ivf_ann_topk(
        df, qs, n_probe=10**9, k=4, center=True,
        centroid_filter=F.col("vec_id") % 40 == 1,
    ).collect()
    assert sorted((r.q_id, r.rnk, r.n_id, r.sim) for r in got) == exact

    # (3) composed IVF+PQ, centered coarse quantizer, exhaustive == brute
    mean = embedding_mean(df)
    cents_c = kmeans_train(
        center_embeddings(df, mean, out_col="cvec"),
        vec_col="cvec",
        centroid_filter=F.col("vec_id") % 40 == 1,
        n_iters=2,
    )
    books = pq_train(df, m=4, k=8, n_iters=2, dim=dim)
    idx = ivfpq_index(df, cents_c, books, center_vec=mean)
    full = ivfpq_topk(
        idx, qs, cents_c, books, df,
        n_probe=10**9, k=4, shortlist=10**9, center_vec=mean,
    ).collect()
    assert sorted((r.q_id, r.rnk, r.n_id, r.sim) for r in full) == exact

    # (4) hashed-BoW miniature (the regime the fix is FOR — deterministic:
    # xxhash64 over fixed ids): 6 universal stop words + 2-5 mid words, so
    # every vector shares the stop-word direction and content mass varies.
    # Raw cosine assignment hubs onto the most stop-word-dominated sampled
    # centroid; centered assignment spreads by content. Measured at 20k
    # docs: max occupancy 593 raw vs 172 centered (200 cells); this pins
    # the miniature (240 docs, 6 cells: 94 raw vs 51 centered).
    from crypto_market_data_etl_spark.operators.similarity import (
        hashed_bow_embeddings,
    )

    docs = spark.range(240).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the of and to in a"),
            F.concat_ws(
                " ",
                F.lit(""),
                F.transform(
                    F.sequence(F.lit(1), (F.col("id") % 4) + 2),
                    lambda i: F.concat(
                        F.lit("w"),
                        F.pmod(F.xxhash64(F.col("id") * 37 + i), F.lit(30)),
                    ),
                ),
            ),
        ).alias("text"),
    )
    embs = (
        hashed_bow_embeddings(docs, dim=16)
        .withColumnRenamed("doc_id", "vec_id")
        .filter(F.col("embedding").isNotNull())
        .localCheckpoint()
    )
    cents_raw = embs.filter(F.col("vec_id") % 40 == 1).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    bow_mean = embedding_mean(embs)

    def max_occupancy(side, cents, vcol):
        occ = assign_centroids_np(side, cents, vec_col=vcol, n=1).groupBy("c_id")
        return occ.count().agg(F.max("count")).collect()[0][0]

    raw_max = max_occupancy(embs, cents_raw, "embedding")
    cen_max = max_occupancy(
        center_embeddings(embs, bow_mean, out_col="__av"),
        center_embeddings(cents_raw, bow_mean, "c_vec"),
        "__av",
    )
    assert cen_max < raw_max  # the hub collapse the fix exists for
    assert raw_max == 94 and cen_max == 51  # deterministic fixture pin


def test_centered_adc_rerank_split(spark):
    """rerank_queries splits ADC space from scoring space: the fully-
    centered PQ composition (train/encode/shortlist on centered frames,
    rerank on raw) must (1) return raw-cosine sims — with an uncut
    shortlist it reproduces brute force exactly even though every ADC
    distance was computed in centered space; (2) surface a planted
    identical duplicate at sim 1.0 under a narrow shortlist. The measured
    payoff on the 100k Zipf-BoW fixture is in pq_topk_rerank's docstring
    (raw-ADC 0.25 recall → centered-ADC 0.72 at lower cost)."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        center_embeddings,
        cosine_topk,
        embedding_mean,
        pq_encode,
        pq_topk_rerank,
        pq_train,
    )

    rng = np.random.default_rng(17)
    dim, n = 16, 200
    common = np.full(dim, 6.0)
    X = common[None, :] + rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(9000 + i, [float(v) for v in X[i * 23]]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    mean = embedding_mean(df)
    cdf = center_embeddings(df, mean).localCheckpoint()
    cqs = center_embeddings(qs, mean)
    books = pq_train(cdf, m=4, k=8, n_iters=2, dim=dim)
    codes = pq_encode(cdf, books)

    # (1) uncut shortlist: centered-ADC order is irrelevant, raw rerank wins
    exact = sorted(
        (r.q_id, r.rnk, r.n_id, r.sim) for r in cosine_topk(df, qs, k=4).collect()
    )
    got = pq_topk_rerank(
        codes, cqs, books, df, k=4, shortlist=n, rerank_queries=qs
    ).collect()
    assert sorted((r.q_id, r.rnk, r.n_id, r.sim) for r in got) == exact

    # (2) planted dup survives a narrow centered shortlist at raw sim 1.0
    narrow = pq_topk_rerank(
        codes, cqs, books, df, k=2, shortlist=25, rerank_queries=qs
    ).collect()
    top1 = {r.q_id: (r.n_id, r.sim) for r in narrow if r.rnk == 1}
    for i in range(4):
        assert top1[9000 + i] == (i * 23, 1.0)


def test_center_auto_decision(spark):
    """center="auto" measures shared_component_ratio and centers iff it
    clears CENTER_AUTO_RATIO: the ratio separates the measured regimes
    (BoW-style shared direction ~0.46+ vs <=0.06 for spread vectors), and
    the auto path reproduces the explicit center=True/False results."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        CENTER_AUTO_RATIO,
        ivf_ann_topk,
        shared_component_ratio,
    )

    rng = np.random.default_rng(31)
    dim, n = 16, 200
    shared = np.full(dim, 6.0)[None, :] + rng.normal(size=(n, dim))
    spread = rng.normal(size=(n, dim))
    mk = lambda X: spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    df_s, df_u = mk(shared), mk(spread)
    r_s, _ = shared_component_ratio(df_s)
    r_u, _ = shared_component_ratio(df_u)
    assert r_s > CENTER_AUTO_RATIO > r_u, (r_s, r_u)

    qs = mk(spread[:3]).withColumn("vec_id", F.col("vec_id") + 9000)
    kw = dict(n_probe=2, k=3, centroid_filter=F.col("vec_id") % 40 == 1)
    rows = lambda out: sorted(map(tuple, out.collect()))
    # auto == explicit True where the ratio clears, == False where it doesn't
    assert rows(ivf_ann_topk(df_s, qs, center="auto", **kw)) == rows(
        ivf_ann_topk(df_s, qs, center=True, **kw)
    )
    assert rows(ivf_ann_topk(df_u, qs, center="auto", **kw)) == rows(
        ivf_ann_topk(df_u, qs, center=False, **kw)
    )

    # auto + explicit centroids is ambiguous (whose space?) — refused
    import pytest as _pytest

    cents = df_s.filter(F.col("vec_id") % 40 == 1).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    with _pytest.raises(ValueError, match="ambiguous"):
        ivf_ann_topk(df_s, qs, n_probe=2, k=3, center="auto", centroids=cents)

    # same contract on semantic_dedup (assignment-only centering)
    from crypto_market_data_etl_spark.operators.similarity import (
        embedding_mean,
        semantic_dedup,
    )

    sd = lambda df, **k: rows(
        semantic_dedup(
            df, threshold=0.99, centroid_filter=F.col("vec_id") % 40 == 1, **k
        )
    )
    assert sd(df_s, center="auto") == sd(
        df_s, center_vec=embedding_mean(df_s)
    )
    assert sd(df_u, center="auto") == sd(df_u)


def test_ivf_prebuilt_index(spark):
    """ivf_index + ivf_ann_topk(index=...) — the build-once split for the
    raw-vector tier: the prebuilt inverted file must reproduce the inline
    numpy-assign result exactly, raw AND centered, and the query plan over
    the prebuilt index must not rescan the corpus frame."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        embedding_mean,
        ivf_ann_topk,
        ivf_index,
        kmeans_train,
        center_embeddings,
    )

    rng = np.random.default_rng(41)
    dim, n = 16, 240
    X = np.full(dim, 4.0)[None, :] + rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(9000 + i, [float(v) for v in X[i * 31]]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    rows = lambda out: sorted(map(tuple, out.collect()))

    # raw space
    cents = kmeans_train(df, centroid_filter=F.col("vec_id") % 40 == 1, n_iters=2)
    idx = ivf_index(df, cents).localCheckpoint()
    inline = ivf_ann_topk(df, qs, n_probe=3, k=4, centroids=cents)
    prebuilt = ivf_ann_topk(df, qs, n_probe=3, k=4, centroids=cents, index=idx)
    assert rows(prebuilt) == rows(inline)

    # centered space (same center_vec threaded through build and query)
    mean = embedding_mean(df)
    cents_c = kmeans_train(
        center_embeddings(df, mean, out_col="cvec"),
        vec_col="cvec",
        centroid_filter=F.col("vec_id") % 40 == 1,
        n_iters=2,
    )
    idx_c = ivf_index(df, cents_c, center_vec=mean).localCheckpoint()
    inline_c = ivf_ann_topk(
        df, qs, n_probe=3, k=4, centroids=cents_c, center_vec=mean
    )
    prebuilt_c = ivf_ann_topk(
        df, qs, n_probe=3, k=4, centroids=cents_c, center_vec=mean, index=idx_c
    )
    assert rows(prebuilt_c) == rows(inline_c)

    # auto + prebuilt index refused (whose space?)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ambiguous"):
        ivf_ann_topk(
            df, qs, n_probe=2, k=3, center="auto", centroids=cents, index=idx
        )
    # index without the build's centroid table refused (fresh samples would
    # probe cells that don't match the prebuilt assignment)
    with _pytest.raises(ValueError, match="explicit centroids"):
        ivf_ann_topk(df, qs, n_probe=2, k=3, index=idx)
    # center=True with an index refused (full-scan mean recompute, and the
    # mean may not match the build) — pass the build's center_vec
    with _pytest.raises(ValueError, match="center_vec explicitly"):
        ivf_ann_topk(
            df, qs, n_probe=2, k=3, center=True, centroids=cents_c, index=idx_c
        )


def test_semantic_dedup_centered_assignment(spark):
    """semantic_dedup(center_vec=...): the verdict metric is untouched —
    an exact planted duplicate lands in its source's cluster (identical
    vector → identical centered vector) and is dropped at raw sim 1.0.
    (Cluster-balance lift on shared-component
    corpora is pinned in test_centered_assignment_space; the full centered
    pipeline is oracle-gated by x54.)"""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        embedding_mean,
        semantic_dedup,
    )

    rng = np.random.default_rng(23)
    dim, n = 16, 120
    common = np.full(dim, 5.0)
    X = common[None, :] + rng.normal(size=(n, dim))
    rows = [(i, [float(v) for v in X[i]]) for i in range(n)]
    rows += [(1000 + i, [float(v) for v in X[i * 17]]) for i in range(4)]  # dups
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mean = [round(v, 6) for v in embedding_mean(df)]

    out = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in semantic_dedup(
            df,
            threshold=0.99,
            centroid_filter=F.col("vec_id") % 30 == 1,
            max_reps=256,
            center_vec=mean,
        ).collect()
    }
    assert len(out) == n + 4
    for i in range(4):
        src, dup = out[i * 17], out[1000 + i]
        # identical vector -> identical centered vector -> same cluster,
        # and the higher-id copy is dropped at raw sim 1.0
        assert dup[0] == src[0] and dup[1] is False, i


def test_parse_image_header_known_bytes():
    """Byte-structure parsers against independently-constructed payloads —
    including the canonical 1x1 transparent PNG (a public constant) and
    a JPEG whose SOF0 sits after a large padded APP1 segment."""
    import base64
    import struct

    from crypto_market_data_etl_spark.operators.multimodal import (
        parse_image_header,
    )

    one_px_png = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNk"
        "YPhfDwAChwGA60e6kgAAAABJRU5ErkJggg=="
    )
    assert parse_image_header(one_px_png) == ("png", 1, 1)

    app1 = b"\xff\xe1" + struct.pack(">H", 2 + 300) + b"\x00" * 300
    sof2 = b"\xff\xc2" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x01\x01\x11\x00"
    assert parse_image_header(b"\xff\xd8" + app1 + sof2 + b"\xff\xd9") == ("jpeg", 640, 480)

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    assert parse_image_header(gif) == ("gif", 320, 200)

    assert parse_image_header(b"not an image at all") == (None, None, None)
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") == (None, None, None)


def test_decode_png_gray_all_filter_types():
    """Full PNG decode vs the source pixel array, with every scanline filter
    type (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth) hand-encoded per the PNG
    spec so each unfilter branch is exercised."""
    import struct
    import zlib

    import numpy as np

    from crypto_market_data_etl_spark.operators.multimodal import (
        _png_chunk,
        decode_png_gray,
    )

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(5, 7), dtype=np.uint8)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else b if pb <= pc else c

    raw = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        raw.append(ftype)
        for x in range(img.shape[1]):
            v = int(img[y, x])
            left = int(img[y, x - 1]) if x else 0
            up = int(img[y - 1, x]) if y else 0
            ul = int(img[y - 1, x - 1]) if x and y else 0
            pred = {0: 0, 1: left, 2: up, 3: (left + up) // 2, 4: paeth(left, up, ul)}[ftype]
            raw.append((v - pred) % 256)
    ihdr = struct.pack(">IIBBBBB", img.shape[1], img.shape[0], 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    out = decode_png_gray(png)
    assert out is not None and (out == img).all()
    # non-grayscale / truncated payloads decline instead of raising
    assert decode_png_gray(b"\xff\xd8junk") is None
    # CORRUPT payloads with a valid signature degrade to None, never raise
    # (one bad blob must not fail the whole Arrow batch / Spark task):
    # bit-flipped IDAT byte → zlib error; truncated IHDR → struct error
    flipped = bytearray(png)
    flipped[len(png) - 30] ^= 0xFF  # lands inside the IDAT payload
    assert decode_png_gray(bytes(flipped)) is None
    assert decode_png_gray(png[:20]) is None
    assert decode_png_gray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 6) is None


def test_multimodal_real_decode(spark, docs):
    """real_decode=True round-trips synthesized VALID payloads: header dims
    + pixel-stat features for PNG, header dims + NULL feature for JPEG."""
    from crypto_market_data_etl_spark.operators.multimodal import (
        synthesize_image_blobs,
    )

    ids = docs.limit(12).select("doc_id")
    blobs = synthesize_image_blobs(ids).join(
        to_blob_table(docs.limit(12)).drop("payload"), "doc_id"
    )
    rows = {r.doc_id: r for r in extract_features(blobs, real_decode=True).collect()}
    assert rows
    for did, r in rows.items():
        assert r.width == 16 + did % 48 and r.height == 16 + (did // 48) % 48
        if did % 2 == 0:  # PNG: constant image -> mean==min==max, std 0
            c = did % 251
            assert r.feature[0] == pytest.approx(c / 255.0, abs=1e-6)
            assert r.feature[1] == 0.0
        else:  # JPEG: dims parsed, pixel features genuinely unavailable
            assert r.feature is None


def test_redact_terms_global_and_counted(spark):
    from crypto_market_data_etl_spark.operators.text import redact_terms

    df = spark.createDataFrame(
        [(1, "customer value customer extra"), (2, "nothing here"), (3, "valuevalue value")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_terms(df).collect()}
    # global replace, all occurrences
    assert out[1].redacted == "<REDACTED> <REDACTED> <REDACTED> extra"
    assert out[1].n_redacted == 3
    assert out[2].redacted == "nothing here" and out[2].n_redacted == 0
    # \b word boundary: 'valuevalue' is NOT a match, bare 'value' is
    assert out[3].redacted == "valuevalue <REDACTED>" and out[3].n_redacted == 1


def test_vocabulary_topk_deterministic(spark):
    from crypto_market_data_etl_spark.operators.text import vocabulary

    df = spark.createDataFrame(
        [(1, "b a a c B"), (2, "a c  c")], "doc_id long, text string"
    )
    rows = vocabulary(df, k=2).collect()
    # counts: a=3, b=2 (lowercased), c=3; empty tokens dropped.
    # top-2 by (cnt desc, token asc): a(3,rnk1), c(3,rnk2)
    assert [(r.token, r.cnt, r.rnk) for r in rows] == [("a", 3, 1), ("c", 3, 2)]


def test_vocabulary_plans_take_ordered(spark):
    from crypto_market_data_etl_spark.operators.text import vocabulary

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = vocabulary(df, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # per-partition top-k, no global sort


def test_fingerprints_window_one_short_docs(spark):
    """window=1 must not crash on sub-gram_n docs (regression: a floored
    sequence bound let them through to a descending F.sequence(1, 0) →
    F.slice(tk, 0, n) runtime error); short docs are filtered, window=1
    keeps every gram hash as its own minimum."""
    from crypto_market_data_etl_spark.operators.text import fingerprints

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "ab"), (3, "x y")],  # docs 2,3 have < 3 tokens
        "doc_id bigint, text string",
    )
    out = fingerprints(df, gram_n=3, window=1).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["n_minima"] == 2  # two distinct 3-grams, each its own min

    with pytest.raises(ValueError):
        fingerprints(df, window=0)


def test_chunk_dedup_drops_shared_chunks_and_reassembles(spark):
    from crypto_market_data_etl_spark.operators.dedup import chunk_dedup
    import hashlib

    # "a b c" is a chunk in BOTH docs (boilerplate); the rest is unique.
    docs = spark.createDataFrame(
        [
            (1, "a b c x y z q"),      # chunks: "a b c", "x y z", "q"
            (2, "a b c m n o"),        # chunks: "a b c", "m n o"
            (3, "solo doc here"),      # chunks: "solo doc here"
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_dropped, r.clean_md5)
        for r in chunk_dedup(docs, chunk_words=3, max_doc_freq=1).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (3, 1, md5("x y z q"))
    assert got[2] == (2, 1, md5("m n o"))
    assert got[3] == (1, 0, md5("solo doc here"))


def test_chunk_dedup_fully_boilerplate_doc_empties(spark):
    from crypto_market_data_etl_spark.operators.dedup import chunk_dedup
    import hashlib

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b c")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_dropped, r.clean_md5) for r in chunk_dedup(
        docs, chunk_words=3, max_doc_freq=1
    ).collect()}
    empty = hashlib.md5(b"").hexdigest()
    assert got == {1: (1, empty), 2: (1, empty), 3: (1, empty)}


def test_chunk_dedup_within_doc_repeats(spark):
    """Focused regression for the r15 single-pass rewrite (distinct
    (chunk, doc) rows carrying occurrence count + positions): a chunk
    repeated WITHIN one doc must (1) count each occurrence in n_chunks,
    (2) count as ONE doc for the doc-frequency threshold, (3) reassemble
    at every original position when kept, and (4) count every occurrence
    in n_dropped when its chunk is boilerplate."""
    from crypto_market_data_etl_spark.operators.dedup import chunk_dedup
    import hashlib

    docs = spark.createDataFrame(
        [
            # doc 1: "p q r" twice within the SAME doc (df=1 -> kept, both
            # positions), "a b c" shared with doc 2 (df=2 -> dropped)
            (1, "p q r a b c p q r"),
            # doc 2: "a b c" twice within doc AND shared (df=2 -> both
            # occurrences dropped), "u v w" unique
            (2, "a b c u v w a b c"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_dropped, r.clean_md5)
        for r in chunk_dedup(docs, chunk_words=3, max_doc_freq=1).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (3, 1, md5("p q r p q r"))
    assert got[2] == (3, 2, md5("u v w"))


def test_repetition_metrics_hand_case(spark):
    from crypto_market_data_etl_spark.operators.text import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),  # 3 identical 2-grams, 2 identical 3-grams
            (2, "all words here differ"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in repetition_metrics(docs).collect()}
    r1 = got[1]
    assert r1["n_tokens"] == 4
    assert r1["dup_2gram_frac"] == round(1 - 1 / 3, 6)   # 3 grams, 1 distinct
    assert r1["dup_3gram_frac"] == round(1 - 1 / 2, 6)   # 2 grams, 1 distinct
    assert r1["top_token_frac"] == 1.0                   # every token is "spam"
    r2 = got[2]
    assert r2["dup_2gram_frac"] == 0.0 and r2["dup_3gram_frac"] == 0.0
    assert r2["top_token_frac"] == 0.25


def test_ngram_lm_scores_hand_case(spark):
    """Bigram-LM scoring vs a hand-computed add-k model: counts, vocab (the
    NULL doc coalesces to '' and contributes the empty token), smoothing
    denominator, and the per-doc mean in bits."""
    import math

    from crypto_market_data_etl_spark.operators.text import ngram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z"), (4, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in ngram_lm_scores(docs).collect()}
    # corpus bigrams: doc1 -> "a b","b a","a b"; doc2 -> "a b","b c";
    # c2: {"a b":3, "b a":1, "b c":1}; c1: {a:3, b:2}; V = |{a,b,c,z,""}| = 5
    k = 0.5
    nll_ab = -math.log2((3 + k) / (3 + k * 5))
    nll_ba = -math.log2((1 + k) / (2 + k * 5))
    nll_bc = -math.log2((1 + k) / (2 + k * 5))
    assert set(got) == {1, 2}  # <2-token docs have no bigram
    assert got[1]["n_bigrams"] == 3
    assert got[1]["avg_nll"] == round((2 * nll_ab + nll_ba) / 3, 6)
    assert got[2]["n_bigrams"] == 2
    assert got[2]["avg_nll"] == round((nll_ab + nll_bc) / 2, 6)


def test_token_kl_divergence_hand_case(spark):
    """Two groups vs hand-computed KL: corpus = {x:3, y:1}; group A (x y)
    diverges less than group B (x x); both non-negative."""
    import math

    from crypto_market_data_etl_spark.operators.text import token_kl_divergence

    docs = spark.createDataFrame(
        [(1, "x y", "A"), (2, "x x", "B")], "doc_id long, text string, source string"
    )
    got = {r.source: r.asDict() for r in token_kl_divergence(docs).collect()}
    kl_a = 0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25)
    kl_b = math.log(1.0 / 0.75)
    assert got["A"]["n_tokens"] == 2 and got["A"]["kl"] == round(kl_a, 6)
    assert got["B"]["n_tokens"] == 2 and got["B"]["kl"] == round(kl_b, 6)
    assert 0 <= got["A"]["kl"] < got["B"]["kl"]


def test_gopher_rules_hand_cases(spark):
    from crypto_market_data_etl_spark.operators.text import gopher_rules

    good = ("the and of " + "alpha beta gamma " * 19).strip()  # 60 words
    short = "the and tiny doc here"
    symbols = good + " #" * 20
    bullets = "- item one two\n- item three four"
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, bullets)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in gopher_rules(docs).collect()}
    assert got[1]["pass"] and got[1]["stop_hits"] == 3
    assert not got[2]["pass"] and got[2]["n_words"] == 5  # length rule
    assert not got[3]["pass"] and got[3]["symbol_ratio"] == 0.25  # 20/#80
    assert not got[4]["pass"] and got[4]["bullet_frac"] == 1.0


def test_bm25_topk_hand_case(spark):
    """BM25 vs a hand-computed score: Lucene idf, length normalization
    against avgdl, rounded-then-ranked contract."""
    import math

    from crypto_market_data_etl_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry date date")],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame([(10, "apple")], "q_id long, q_text string")
    out = bm25_topk(docs, queries, k=3).collect()
    # df(apple)=1 of N=3 docs; avgdl=(3+2+3)/3; tf=2 in doc 1 (dl=3)
    idf = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1)
    tf, dl, avgdl = 2, 3, 8 / 3
    expect = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert len(out) == 1  # only doc 1 contains the query term
    r = out[0]
    assert (r.q_id, r.doc_id, r.rnk) == (10, 1, 1)
    assert r.score == round(expect, 6)


def test_bm25_ignores_empty_tokens_and_empty_docs(spark):
    """Double/leading spaces and empty documents must not create postings:
    an empty doc never ranks, and a padded query scores like a clean one."""
    from crypto_market_data_etl_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "apple  banana"), (2, ""), (3, None), (4, "banana cherry")],
        "doc_id long, text string",
    )
    padded = spark.createDataFrame([(10, " apple")], "q_id long, q_text string")
    out = bm25_topk(docs, padded, k=5).collect()
    assert [r.doc_id for r in out] == [1]  # empty docs never surface
    clean = spark.createDataFrame([(10, "apple")], "q_id long, q_text string")
    assert out[0].score == bm25_topk(docs, clean, k=5).collect()[0].score


def test_bpe_encode_keeps_empty_docs(spark):
    """Whole-corpus coverage: empty/NULL-text docs emit (0, 0, []) instead
    of vanishing — a downstream token-count join must not lose them."""
    from crypto_market_data_etl_spark.operators.bpe import bpe_encode, bpe_learn

    train = spark.createDataFrame([(0, "low low new")], "doc_id long, text string")
    _, syms = bpe_learn(train, 2)
    corpus = spark.createDataFrame(
        [(1, "low"), (2, ""), (3, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in bpe_encode(corpus, syms).collect()}
    assert sorted(got) == [1, 2, 3]
    assert got[2].n_words == 0 and got[2].n_tokens == 0 and list(got[2].tokens) == []
    assert got[3].n_words == 0 and list(got[3].tokens) == []
    assert got[1].n_words == 1 and got[1].n_tokens >= 1


def test_bm25_max_df_pruning_drops_ubiquitous_terms(spark):
    """A term in every document is pruned under max_df_frac, bounding the
    candidate set; rare-term scoring is unchanged."""
    from crypto_market_data_etl_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "the apple"), (2, "the banana"), (3, "the cherry")],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(10, "the apple")], "q_id long, q_text string"
    )
    full = bm25_topk(docs, queries, k=3).collect()
    assert len(full) == 3  # "the" matches every doc
    pruned = bm25_topk(docs, queries, k=3, max_df_frac=0.5).collect()
    assert len(pruned) == 1 and pruned[0].doc_id == 1  # only "apple" scores
    full_apple = {r.doc_id: r.score for r in full}[1]
    # doc 1's rare-term contribution is part of its unpruned score
    assert pruned[0].score <= full_apple


def test_cross_corpus_neardup_flags_copies_keeps_unrelated(spark):
    from crypto_market_data_etl_spark.operators.contamination import (
        cross_corpus_neardup,
    )

    t = " ".join(f"tok{i}" for i in range(30))
    u = " ".join(f"zzz{i}" for i in range(30))
    bench = spark.createDataFrame([(100, t)], "doc_id long, text string")
    corpus = spark.createDataFrame([(1, t), (2, u)], "doc_id long, text string")
    out = {r.doc_id: r for r in cross_corpus_neardup(corpus, bench).collect()}
    # exact copy: identical signature in every band -> candidate, est 1.0
    assert out[1].keep is False and out[1].max_jaccard == 1.0
    # disjoint vocabulary: no shared band, full-coverage row says keep
    assert out[2].keep is True and out[2].n_candidates == 0


def test_domain_quality_gate_is_relative_per_domain(spark):
    """Each domain keeps its own top fraction: a mediocre doc in a weak
    domain survives while an absolutely-better doc in a strong domain is
    cut — the gate is relative, not a global threshold."""
    from crypto_market_data_etl_spark.operators.sampling import (
        domain_quality_gate,
    )

    # domain A: progressively more stopwords (higher quality); domain B:
    # progressively more digits (all lower quality than every A doc)
    rows = [
        (i, " ".join(["the"] * i + ["word"] * (8 - i)), "aa") for i in range(1, 5)
    ] + [
        (10 + i, " ".join(["9" * i] * 4 + ["word"] * 4), "bb") for i in range(1, 5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = domain_quality_gate(docs, keep_frac=0.5).collect()
    by_dom = {}
    for r in kept:
        by_dom.setdefault(r.lang, []).append(r)
    assert len(by_dom["aa"]) == 2 and len(by_dom["bb"]) == 2  # ceil(0.5*4)
    # relativity: the weakest KEPT bb doc scores below the strongest CUT aa
    all_q = {
        r.doc_id: r.quality
        for r in domain_quality_gate(docs, keep_frac=1.0).collect()
    }
    cut_aa_best = max(all_q[i] for i in range(1, 5) if i not in
                      {r.doc_id for r in by_dom["aa"]})
    assert min(r.quality for r in by_dom["bb"]) < cut_aa_best


def test_pack_sequences_hand_case_and_conservation(spark):
    """Docs of 3/2/5 tokens at seq_len=4: doc 1 fills [0,3), doc 2 crosses
    the first boundary (spans in seq 0 and seq 1), doc 3 crosses the second.
    Every token lands in exactly one span (conservation) and every sequence
    except the last is exactly full."""
    from crypto_market_data_etl_spark.operators.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f g h i j")],
        "doc_id long, text string",
    )
    rows = sorted(
        ((r.seq_id, r.doc_id, r.off_start, r.n_span)
         for r in pack_sequences(docs, seq_len=4).collect())
    )
    assert rows == [
        (0, 1, 0, 3),  # tokens 0-2
        (0, 2, 0, 1),  # token 3 completes sequence 0
        (1, 2, 1, 1),  # doc 2's second token opens sequence 1
        (1, 3, 0, 3),  # doc 3 fills the rest of sequence 1
        (2, 3, 3, 2),  # doc 3's tail
    ]
    # conservation: spans per doc sum to its token count, offsets contiguous
    per_doc = {}
    for seq, d, off, n in rows:
        per_doc.setdefault(d, []).append((off, n))
    assert {d: sum(n for _, n in v) for d, v in per_doc.items()} == {1: 3, 2: 2, 3: 5}
    for v in per_doc.values():
        v.sort()
        for (o1, n1), (o2, _) in zip(v, v[1:]):
            assert o1 + n1 == o2


def test_dsir_logratios_prefers_target_like_docs(spark):
    """A doc written in the target slice's vocabulary must outscore a doc in
    the raw-only vocabulary, regardless of its own domain label."""
    from pyspark.sql import functions as F

    from crypto_market_data_etl_spark.operators.sampling import dsir_logratios

    rows = [(i, "alpha beta gamma delta", "en") for i in range(5)]
    rows += [(10 + i, "omega sigma theta kappa", "xx") for i in range(5)]
    rows += [
        (100, "alpha beta gamma delta", "xx"),
        (101, "omega sigma theta kappa", "xx"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: r
        for r in dsir_logratios(docs, F.col("lang") == "en").collect()
    }
    assert len(got) == 12  # whole-corpus coverage
    # absolute sign depends on the smoothing mass (k * n_buckets dominates at
    # toy scale); the selection contract is the ORDERING of the weights
    assert got[100].log_ratio > got[101].log_ratio + 10
    assert got[100].n_feats == 7  # 4 unigrams + 3 bigrams


def _python_bpe(word_freqs, n_merges):
    """Reference BPE trainer (Sennrich-style, greedy left-to-right apply,
    ties cnt-desc-then-pair-asc)."""
    syms = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, freq in word_freqs.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p))
        merges.append(pair)
        la, rb = pair
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == la and s[i + 1] == rb:
                    out.append(la + rb)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


def test_bpe_learn_matches_python_reference(spark):
    from crypto_market_data_etl_spark.operators.bpe import bpe_learn

    texts = ["low lower lowest", "new newer newest", "low low new"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    freqs = {}
    for t in texts:
        for w in t.split(" "):
            freqs[w] = freqs.get(w, 0) + 1
    exp_merges, exp_syms = _python_bpe(freqs, 6)
    merges, syms = bpe_learn(docs, 6)
    assert merges == exp_merges
    got = {r["w"]: list(r["syms"]) for r in syms.collect()}
    assert got == exp_syms


def _python_bpe_batched(word_freqs, n_merges, merges_per_pass):
    """Batched reference mirroring ``bpe_learn``'s pass rule: each pass
    ranks pairs from the PASS-START counts, greedily takes up to m
    symbol-disjoint merges (skipping any pair touching a symbol already
    used — as left, right, or merged output — this pass), and applies them
    sequentially in rank order."""
    from crypto_market_data_etl_spark.operators.bpe import select_disjoint_merges

    syms = {w: list(w) for w in word_freqs}
    merges = []

    def apply_one(la, rb):
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == la and s[i + 1] == rb:
                    out.append(la + rb)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out

    while len(merges) < n_merges:
        m = min(merges_per_pass, n_merges - len(merges))
        counts = {}
        for w, freq in word_freqs.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        ranked = sorted(counts, key=lambda p: (-counts[p], p))[: max(4 * m, 8)]
        picked = select_disjoint_merges(ranked, m)
        if not picked:
            break
        for la, rb in picked:
            apply_one(la, rb)
        merges.extend(picked)
    return merges, syms


def test_bpe_learn_batched_matches_python_reference(spark):
    """merges_per_pass > 1 must equal the pure-Python batched rule — and at
    m=1 both collapse to classic sequential BPE (previous test)."""
    from crypto_market_data_etl_spark.operators.bpe import bpe_learn

    texts = ["low lower lowest", "new newer newest", "low low new", "west vest"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    freqs = {}
    for t in texts:
        for w in t.split(" "):
            freqs[w] = freqs.get(w, 0) + 1
    for m in (3, 8):
        exp_merges, exp_syms = _python_bpe_batched(freqs, 8, m)
        merges, syms = bpe_learn(docs, 8, merges_per_pass=m)
        assert merges == exp_merges, f"merges_per_pass={m}"
        got = {r["w"]: list(r["syms"]) for r in syms.collect()}
        assert got == exp_syms, f"merges_per_pass={m}"


def test_select_disjoint_merges_rules():
    from crypto_market_data_etl_spark.operators.bpe import select_disjoint_merges

    cands = [("a", "b"), ("b", "c"), ("c", "d"), ("ab", "x"), ("e", "f")]
    # ("b","c") shares b with pick 1; ("ab","x") touches pick 1's merged
    # output symbol; ("c","d") and ("e","f") are clean
    assert select_disjoint_merges(cands, 3) == [("a", "b"), ("c", "d"), ("e", "f")]
    assert select_disjoint_merges(cands, 1) == [("a", "b")]
    assert select_disjoint_merges([], 4) == []


def test_bpe_symbols_are_code_points_not_utf16_units(spark):
    """Round-5 advice: F.split(w, '') was suspected to split UTF-16 code
    units. On this Spark build it is code-point aware — non-BMP characters
    (emoji) stay whole symbols; this locks that behavior."""
    from crypto_market_data_etl_spark.operators.bpe import bpe_encode, with_symbols

    docs = spark.createDataFrame(
        [(0, "a\U0001f600b héllo")], "doc_id long, text string"
    )
    from crypto_market_data_etl_spark.operators.bpe import word_counts

    syms = {r["w"]: list(r["syms"]) for r in with_symbols(word_counts(docs)).collect()}
    assert syms["a\U0001f600b"] == ["a", "\U0001f600", "b"]
    assert syms["héllo"] == ["h", "é", "l", "l", "o"]
    # encode's OOV character fallback takes the same code-point path
    empty_vocab = spark.createDataFrame([], "w string, wc long, syms array<string>")
    enc = {r.doc_id: r for r in bpe_encode(docs, empty_vocab).collect()}
    assert list(enc[0].tokens) == ["a", "\U0001f600", "b", "h", "é", "l", "l", "o"]


def test_materialize_release_drops_registry_entry(spark):
    """bpe_learn's per-pass release must also evict the persist-mode
    registry entry (round-5 advice: one dead wrapper per merge round)."""
    import os

    from crypto_market_data_etl_spark import materialize as mat

    os.environ["SPARK_GRAFT_MATERIALIZE"] = "persist"
    try:
        before = len(mat._PERSISTED)
        df = mat.materialize(spark.range(5).toDF("n"))
        assert len(mat._PERSISTED) == before + 1
        assert mat.release(df) is True
        assert len(mat._PERSISTED) == before
        assert mat.release(df) is False  # idempotent: already gone
    finally:
        del os.environ["SPARK_GRAFT_MATERIALIZE"]


def test_bpe_learn_persist_mode_keeps_registry_bounded(spark):
    """Across k merge passes the persist registry must not grow by k (only
    the final table and its direct parent may remain registered)."""
    import os

    from crypto_market_data_etl_spark import materialize as mat
    from crypto_market_data_etl_spark.operators.bpe import bpe_learn

    docs = spark.createDataFrame(
        [(0, "low lower lowest new newer newest")], "doc_id long, text string"
    )
    os.environ["SPARK_GRAFT_MATERIALIZE"] = "persist"
    try:
        before = len(mat._PERSISTED)
        merges, syms = bpe_learn(docs, 6)
        assert len(merges) == 6
        assert len(mat._PERSISTED) - before <= 2
    finally:
        del os.environ["SPARK_GRAFT_MATERIALIZE"]
        mat.release_all()


def test_domain_quality_gate_keeps_null_domains(spark):
    """NULL-domain rows form their own domain and are gated at the same
    fraction (round-5 advice: the inner join silently dropped them)."""
    from crypto_market_data_etl_spark.operators.sampling import domain_quality_gate

    rows = [(i, "clean text with the stops on it", "en") for i in range(4)]
    rows += [(10 + i, "some other words entirely here now", None) for i in range(4)]
    # empty-string domain alongside NULL: the two must gate as SEPARATE
    # groups (a NULL→"" coalesce would merge them into one 8-row group and
    # keep 4, not 2+2 — VERDICT r6 "what's wrong" #4)
    rows += [(20 + i, "yet more filler prose for the gate", "") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = domain_quality_gate(df, keep_frac=0.5).collect()
    by_dom = {}
    for r in got:
        by_dom.setdefault(r.lang, []).append(r)
    assert len(by_dom.get("en", [])) == 2
    assert len(by_dom.get(None, [])) == 2  # NULL domain kept, not dropped
    assert len(by_dom.get("", [])) == 2  # "" is its own domain, not NULL's
    for r in by_dom[None] + by_dom[""]:
        assert r.rnk <= 2


def test_bpe_apply_merge_is_greedy_left_to_right(spark):
    """"aaaa" under merge (a,a) -> ["aa","aa"]; "aaa" -> ["aa","a"]."""
    from crypto_market_data_etl_spark.operators.bpe import apply_merge

    df = spark.createDataFrame(
        [("aaa", 1, ["a", "a", "a"]), ("aaaa", 1, ["a", "a", "a", "a"])],
        "w string, wc long, syms array<string>",
    )
    got = {r["w"]: r["syms"] for r in apply_merge(df, "a", "a").collect()}
    assert got["aaa"] == ["aa", "a"]
    assert got["aaaa"] == ["aa", "aa"]


def test_bpe_encode_joins_trained_vocab_with_oov_fallback(spark):
    """Encoding = broadcast join on the trained word table; OOV words fall
    back to characters; token order follows document order."""
    from crypto_market_data_etl_spark.operators.bpe import bpe_encode, bpe_learn

    train = spark.createDataFrame(
        [(0, "low low lower new newer")], "doc_id long, text string"
    )
    _, syms = bpe_learn(train, 4)
    corpus = spark.createDataFrame(
        [(1, "low newer"), (2, "low oov")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in bpe_encode(corpus, syms).collect()}
    vocab = {r["w"]: list(r["syms"]) for r in syms.collect()}
    assert got[1].n_words == 2
    assert list(got[1].tokens) == vocab["low"] + vocab["newer"]
    # "oov" never seen in training -> character fallback, in order
    assert list(got[2].tokens) == vocab["low"] + ["o", "o", "v"]
    assert got[2].n_tokens == len(vocab["low"]) + 3


def test_span_dedup_excises_shared_span_at_any_offset(spark):
    """A duplicated 8-token passage is removed from BOTH docs even though it
    sits at different offsets in each (the alignment case disjoint-chunk
    dedup misses); unique docs pass through untouched with n_removed = 0."""
    import hashlib

    from crypto_market_data_etl_spark.operators.dedup import span_dedup

    shared = "one two three four five six seven eight"
    t3 = "totally unique text right here now ok fine yes"
    docs = spark.createDataFrame(
        [(1, f"alpha {shared} beta"), (2, f"gamma delta {shared}"), (3, t3)],
        "doc_id long, text string",
    )
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    got = {r.doc_id: r.asDict() for r in span_dedup(docs, span_words=8).collect()}
    assert got[1]["n_removed"] == 8 and got[1]["clean_md5"] == md5("alpha beta")
    assert got[2]["n_removed"] == 8 and got[2]["clean_md5"] == md5("gamma delta")
    assert got[3]["n_removed"] == 0 and got[3]["clean_md5"] == md5(t3)


def test_span_dedup_conservation_on_mixed_corpus(spark):
    """On a corpus mixing unique docs, partial overlaps, and exact copies:
    0 <= n_removed <= n_tokens for every doc, exact copies are fully
    removed, and partial overlaps lose exactly the shared run."""
    from crypto_market_data_etl_spark.operators.dedup import span_dedup

    shared = " ".join(f"s{i}" for i in range(10))  # 10-token shared run
    rows = [(i, " ".join(f"u{i}_{j}" for j in range(12))) for i in range(8)]
    rows += [(100, f"{shared} tail100 x y z"), (101, f"head101 {shared}")]
    rows += [(200, "c p y one two three four five six seven"),
             (201, "c p y one two three four five six seven")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in span_dedup(docs, span_words=8).collect()}
    assert len(got) == len(rows)
    assert all(0 <= v["n_removed"] <= v["n_tokens"] for v in got.values())
    for i in range(8):  # unique docs untouched
        assert got[i]["n_removed"] == 0
    # partial overlap: exactly the 10 shared tokens go, the rest survives
    assert got[100]["n_removed"] == 10 and got[101]["n_removed"] == 10
    # exact copies: everything goes
    assert got[200]["n_removed"] == got[200]["n_tokens"] == 10
    assert got[201]["n_removed"] == 10


def test_span_dedup_sign_bit_window_key(spark):
    """The r15 packed-bigint window key wraps the md5 prefix's sign bit via
    shiftleft (bitwise, silent). A shared span whose 16-hex prefix starts
    >= '8' (here md5('alpha bravo ... hotel')[:16] = 8586de4889620f20 —
    high half 0x8586de48 sets bit 63) must still be detected: if the wrap
    ever became an ANSI overflow/NULL, the key would vanish from the
    occurrence count and the span would silently survive."""
    import hashlib

    from crypto_market_data_etl_spark.operators.dedup import span_dedup

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    assert int(hashlib.md5(shared.encode()).hexdigest()[:8], 16) >= 0x80000000
    docs = spark.createDataFrame(
        [(1, f"pre1 {shared}"), (2, f"{shared} post2"), (3, "no dup span here at all ok")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in span_dedup(docs, span_words=8).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1]["n_removed"] == 8 and got[1]["clean_md5"] == md5("pre1")
    assert got[2]["n_removed"] == 8 and got[2]["clean_md5"] == md5("post2")
    assert got[3]["n_removed"] == 0


def test_span_dedup_invariants(spark):
    """All-unique corpus -> nothing removed and clean text == original;
    fully-duplicated corpus -> everything removed; counts stay bounded."""
    import hashlib

    from pyspark.sql import functions as F

    from crypto_market_data_etl_spark.operators.dedup import span_dedup

    # synthetic corpus with globally unique tokens: no window can repeat
    # (the real testdata corpus contains naturally duplicated passages —
    # x38/x41 surface them — so it cannot serve as the "all unique" case)
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{i}_{j}" for j in range(20)))
            for i in range(40)
        ],
        "doc_id long, text string",
    ).cache()
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    clean = {r.doc_id: r.asDict() for r in span_dedup(docs).collect()}
    orig = {r.doc_id: r.text for r in docs.collect()}
    assert all(v["n_removed"] == 0 for v in clean.values())
    assert all(clean[k]["clean_md5"] == md5(orig[k]) for k in orig)

    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 10_000)
    )
    wiped = span_dedup(doubled).collect()
    # every doc >= 8 tokens is fully duplicated -> fully removed
    assert all(
        r.n_removed == r.n_tokens for r in wiped if r.n_tokens >= 8
    )
    assert all(r.clean_md5 == md5("") for r in wiped if r.n_tokens >= 8)


def test_cross_corpus_neardup_whole_corpus_coverage(spark):
    """Every corpus doc appears exactly once in the report, even docs too
    short to shingle (no signature -> no candidates -> keep)."""
    from crypto_market_data_etl_spark.operators.contamination import (
        cross_corpus_neardup,
    )

    corpus = spark.createDataFrame(
        [(1, "x"), (2, None), (3, " ".join(f"t{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, " ".join(f"b{i}" for i in range(20)))], "doc_id long, text string"
    )
    rows = cross_corpus_neardup(corpus, bench).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2, 3]
    assert all(r.keep for r in rows)
    assert all(r.n_candidates == 0 for r in rows)


def test_chunk_dedup_roundtrips_text_when_nothing_dropped(spark):
    """With a doc-frequency threshold no chunk exceeds, the chunk split +
    shuffled reassembly must reproduce every document byte-for-byte —
    ordering restored by array_sort(struct(idx, chunk)), never assumed."""
    from crypto_market_data_etl_spark.operators.dedup import chunk_dedup
    import hashlib

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    got = {
        r.doc_id: r.clean_md5
        for r in chunk_dedup(docs, chunk_words=3, max_doc_freq=10**9).collect()
    }
    want = {
        r.doc_id: hashlib.md5(r.text.encode()).hexdigest() for r in docs.collect()
    }
    assert got == want


def test_simhash_pairs_finds_planted_near_dups(spark):
    from crypto_market_data_etl_spark.operators.dedup import simhash_pairs

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 4
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                          # exact dup: hamming 0
            (3, base.replace("india", "xray")), # near dup: few bits flip
            (4, " ".join(f"w{i}" for i in range(60))),  # unrelated
        ],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, max_hamming=8).collect()}
    assert got[(1, 2)] == 0                       # exact duplicate
    assert (1, 3) in got and got[(1, 3)] <= 8     # planted near-dup found
    assert all(4 not in pair for pair in got)     # unrelated doc stays out
    assert all(a < b for a, b in got)             # canonical pair order


def test_leakage_safe_splits_never_straddle_clusters(spark):
    """Every near-dup pair lands in ONE split (the leakage guarantee), the
    split is a pure function of the data, and fractions track boundaries."""
    from crypto_market_data_etl_spark.operators.dedup import minhash_jaccard_pairs
    from crypto_market_data_etl_spark.operators.sampling import leakage_safe_splits

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    pairs = minhash_jaccard_pairs(docs).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    splits = leakage_safe_splits(docs, pairs)
    s = {r.doc_id: r.split for r in splits.collect()}
    straddlers = [
        (p.id_a, p.id_b) for p in pairs.collect() if s[p.id_a] != s[p.id_b]
    ]
    assert straddlers == []
    n = len(s)
    frac_train = sum(1 for v in s.values() if v == "train") / n
    assert 0.65 <= frac_train <= 0.95  # ~0.8 modulo hash noise + clustering
    # determinism: a repartitioned input produces the identical assignment
    s2 = {
        r.doc_id: r.split
        for r in leakage_safe_splits(docs.repartition(13), pairs).collect()
    }
    assert s2 == s


# --------------------------------------------------------------------------
# round-5 guards: numpy-tier collect cap, simhash bit width, NULL text,
# materialize strategy knob, partition-probe memoization
# --------------------------------------------------------------------------


def test_np_tier_collect_cap_raises_on_oversized_side(spark, embs):
    from crypto_market_data_etl_spark.operators import similarity as sim

    qs = embs.limit(8)
    orig = sim.NP_TIER_MAX_COLLECT
    sim.NP_TIER_MAX_COLLECT = 4  # force the miswired-caller path
    try:
        with pytest.raises(ValueError, match="driver-collect cap"):
            cosine_topk(embs, qs, k=2)
    finally:
        sim.NP_TIER_MAX_COLLECT = orig
    # under the cap the operator works unchanged
    assert cosine_topk(embs, qs.limit(2), k=2).count() > 0


def test_simhash_pairs_rejects_bits_over_63(spark):
    """conv(sig,2,10)::bigint NULLs signatures with bit 63 set, which would
    silently drop pairs — widths past the bigint range must fail loudly."""
    from crypto_market_data_etl_spark.operators.dedup import simhash_pairs

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="63"):
        simhash_pairs(docs, bits=64, n_bands=4)


def test_null_text_counts_as_empty_document(spark):
    """NULL text rows stay in the output of every corpus-hygiene operator
    (whole-corpus coverage, like contamination_report) instead of surfacing
    as legacy size(null) = -1 token counts or vanishing from the explode."""
    from crypto_market_data_etl_spark.operators.dedup import chunk_dedup
    from crypto_market_data_etl_spark.operators.text import repetition_metrics

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, None), (3, "x y z")], ["doc_id", "text"]
    )
    rep = {r.doc_id: r.asDict() for r in repetition_metrics(docs).collect()}
    assert set(rep) == {1, 2, 3}
    assert rep[2]["n_tokens"] == 1  # split('') == [''], same as the oracle
    assert rep[2]["dup_2gram_frac"] == 0.0
    assert rep[2]["top_token_frac"] == 0.0

    cd = {r.doc_id: r for r in chunk_dedup(docs, chunk_words=2).collect()}
    assert set(cd) == {1, 2, 3}
    assert cd[2].n_dropped == 0


def test_materialize_mode_knob(spark, monkeypatch):
    from pyspark import StorageLevel

    from crypto_market_data_etl_spark.materialize import materialize

    df = spark.range(10)
    # local master default: localCheckpoint (a checkpointed plan, not persist)
    out = materialize(df)
    assert out.storageLevel == StorageLevel.NONE
    # explicit persist mode: lineage kept, storage level set
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "persist")
    out = materialize(df)
    try:
        assert out.storageLevel != StorageLevel.NONE
    finally:
        out.unpersist()


def test_materialize_plan_capture_concurrent_calls_distinct_files(
    spark, monkeypatch, tmp_path
):
    """Threads materializing at once (x52's _overlap2 runs two training
    chains that both call materialize) must leave one capture file each:
    naming by directory size let concurrent calls draw the same number."""
    import sys
    import threading

    from crypto_market_data_etl_spark.materialize import materialize

    monkeypatch.setenv("SPARK_GRAFT_PLAN_CAPTURE_DIR", str(tmp_path))
    n_threads = 6  # more than the session's 4 cores
    start = threading.Barrier(n_threads, timeout=60)

    def run(n):
        start.wait()
        materialize(spark.range(n).selectExpr("id * 2 AS x"))

    threads = [threading.Thread(target=run, args=(n,)) for n in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    files = list(tmp_path.iterdir())
    assert len(files) == n_threads
    assert all(f.read_text().strip() for f in files)


def test_materialize_release_all_frees_persist_mode_tables(spark, monkeypatch):
    """Cluster-mode lifecycle hook: persisted tables are tracked and
    release_all() unpersists them; the localCheckpoint path registers
    nothing (ContextCleaner-managed)."""
    from pyspark import StorageLevel

    from crypto_market_data_etl_spark import materialize as m

    m.release_all()  # drain any leftovers from other tests
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "persist")
    a, b = m.materialize(spark.range(5)), m.materialize(spark.range(7))
    assert a.storageLevel != StorageLevel.NONE
    # the registry must hold STRONG refs: operator-internal persists lose
    # their Python wrapper the moment the operator returns, but the JVM
    # CacheManager keeps the blocks — simulate by dropping our refs first
    import gc

    probe = a  # keep one handle just to observe the level reset
    del a, b
    gc.collect()
    assert m.release_all() == 2
    assert probe.storageLevel == StorageLevel.NONE
    assert m.release_all() == 0  # registry drained
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "localCheckpoint")
    m.materialize(spark.range(3)).count()
    assert m.release_all() == 0  # localCheckpoint path never registers


def test_partition_probe_cache_clear(spark):
    from crypto_market_data_etl_spark.operators import dedup

    dedup._PARTITION_PROBE_CACHE.clear()
    dedup._input_partitions(load_table(spark, SF_SMOKE, "documents"))
    assert len(dedup._PARTITION_PROBE_CACHE) == 1
    dedup.clear_partition_probe_cache()
    assert len(dedup._PARTITION_PROBE_CACHE) == 0


def test_partition_probe_memoizes_semantically_equal_plans(spark):
    from crypto_market_data_etl_spark.operators import dedup

    dedup._PARTITION_PROBE_CACHE.clear()
    df1 = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    df2 = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    n1 = dedup._input_partitions(df1)
    assert len(dedup._PARTITION_PROBE_CACHE) == 1
    # a REBUILT but semantically identical DataFrame hits the cache
    n2 = dedup._input_partitions(df2)
    assert n2 == n1 and len(dedup._PARTITION_PROBE_CACHE) == 1


def _bm25_rows(out):
    return sorted((r.q_id, r.doc_id, r.rnk, r.score) for r in out.collect())


def test_bm25_maxscore_equals_exact_stopword_corpus(spark):
    """Max-score pruning must be invisible in the output: identical
    (q, doc, rank, score) rows on a corpus where a stop word saturates
    every document — the exact case the pruning exists for."""
    import random

    from crypto_market_data_etl_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_maxscore,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            # 'the' in every doc; sprinkle rare terms
            (i, "the " + " ".join(rng.choices(vocab, k=rng.randint(3, 12))))
            for i in range(300)
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [
            (1, "the w3 w17"),     # stop word + rare terms
            (2, "the"),            # ONLY the stop word: nothing prunable
            (3, "w5 w6 w7 w8"),    # all rare
            (4, "zzz qqq"),        # no matches at all
        ],
        "q_id long, q_text string",
    )
    for k in (3, 10):
        assert _bm25_rows(bm25_topk_maxscore(docs, queries, k=k)) == _bm25_rows(
            bm25_topk(docs, queries, k=k)
        )


def test_bm25_maxscore_equality_property(spark):
    """Randomized corpora/queries: pruned output == exact output, including
    k larger than the match count and single-doc corpora."""
    import random

    from crypto_market_data_etl_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_maxscore,
    )

    for seed in (1, 7, 23):
        rng = random.Random(seed)
        n_docs = rng.randint(1, 120)
        vocab = [f"t{i}" for i in range(rng.randint(3, 25))]
        docs = spark.createDataFrame(
            [
                (i, " ".join(rng.choices(vocab, k=rng.randint(1, 15))))
                for i in range(n_docs)
            ],
            "doc_id long, text string",
        )
        queries = spark.createDataFrame(
            [
                (q, " ".join(rng.choices(vocab + ["none"], k=rng.randint(1, 5))))
                for q in range(5)
            ],
            "q_id long, q_text string",
        )
        k = rng.choice([1, 4, 200])
        assert _bm25_rows(bm25_topk_maxscore(docs, queries, k=k)) == _bm25_rows(
            bm25_topk(docs, queries, k=k)
        ), f"seed={seed} k={k}"


def test_ann_external_query_frame_reranks(spark):
    """Queries whose ids are NOT corpus ids must still rerank: the rerank
    joins query vectors from the query frame, not the corpus (a corpus-only
    join silently returned ZERO rows for external queries — found by the
    scale_ann_run planted-query rung)."""
    from crypto_market_data_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        lsh_ann_bandor,
        lsh_ann_multiprobe,
    )

    corpus = spark.createDataFrame(
        [(i, [float((i * 97 + j * 31) % 101 - 50) for j in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    # external ids 1000+q, vectors = near-copies of corpus vecs 0/7/14
    rows = {r.vec_id: r.embedding for r in corpus.collect()}
    queries = spark.createDataFrame(
        [(1000 + q, [v + 0.001 for v in rows[q * 7]]) for q in range(3)],
        "vec_id long, embedding array<double>",
    )
    expect = {1000 + q: q * 7 for q in range(3)}
    for fn, kw in [
        (cosine_topk, {}),
        (lsh_ann_bandor, dict(planes_per_table=2, n_tables=3, dim=8)),
        (lsh_ann_multiprobe, dict(n_planes=2, dim=8)),
        (ivf_ann_topk, dict(n_probe=3, centroid_filter=F.col("vec_id") % 10 == 1)),
    ]:
        out = fn(corpus, queries, k=3, **kw).collect()
        assert out, f"{fn.__name__} returned no rows for external queries"
        top1 = {r.q_id: r.n_id for r in out if r.rnk == 1}
        for q_id, want in expect.items():
            assert top1.get(q_id) == want, (
                f"{fn.__name__}: query {q_id} top-1 {top1.get(q_id)} != planted {want}"
            )


def test_bow_embedding_expr_matches_batch(spark):
    """bow_embedding_expr (the in-row, pure-projection form a stream can
    run) is bit-identical to hashed_bow_embeddings on both tokenizers,
    including repeated tokens, punctuation, empty text, and NULL text."""
    from crypto_market_data_etl_spark.operators.similarity import (
        _bow_tokens,
        bow_embedding_expr,
        hashed_bow_embeddings,
    )

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox the quick"),
            (1, "a1 b2 c3! d4? e5"),
            (2, ""),
            (3, None),
            (4, "solo"),
            (5, "x " * 50 + "tail"),
        ],
        "doc_id long, text string",
    )
    for tok in ("space", "regex"):
        batch = {
            r.doc_id: r.embedding
            for r in hashed_bow_embeddings(
                docs.filter(F.col("text").isNotNull()), dim=32, tokenizer=tok
            ).collect()
        }
        inrow = {
            r.doc_id: r.emb
            for r in docs.select(
                "doc_id",
                bow_embedding_expr(_bow_tokens("text", tok), dim=32).alias("emb"),
            ).collect()
        }
        assert inrow[3] is None  # NULL text -> NULL embedding in-row
        for did, want in batch.items():
            assert inrow[did] == want, (tok, did)
        # unnormalized twin
        batch_u = {
            r.doc_id: r.embedding
            for r in hashed_bow_embeddings(
                docs.filter(F.col("text").isNotNull()),
                dim=32, tokenizer=tok, normalize=False,
            ).collect()
        }
        inrow_u = {
            r.doc_id: r.emb
            for r in docs.select(
                "doc_id",
                bow_embedding_expr(
                    _bow_tokens("text", tok), dim=32, normalize=False
                ).alias("emb"),
            ).collect()
        }
        for did, want in batch_u.items():
            assert inrow_u[did] == want, (tok, did)


def test_probe_cells_expr_matches_rank_rule(spark):
    """probe_cells_expr == the IVF cell rule (cosine desc,
    6dp-rounded, ties to lowest c_id), incl. an exact-tie pair, the
    centered space, n_probe past the cell count, and NULL vectors."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        probe_cells_expr,
    )

    rng = np.random.default_rng(7)
    dim, n_cells, n = 8, 6, 40
    C = rng.normal(size=(n_cells, dim))
    C[3] = C[1]  # exact tie: c_id 1 must rank before c_id 3
    cent_rows = [
        {"c_id": i, "c_vec": [float(v) for v in C[i]]} for i in range(n_cells)
    ]
    X = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)]
        + [(n, None)],
        "vec_id long, embedding array<double>",
    )
    for center in (None, [0.3] * dim):
        got = {
            r.vec_id: r.cells
            for r in df.select(
                "vec_id",
                probe_cells_expr(
                    F.col("embedding"), cent_rows, 3, center_vec=center
                ).alias("cells"),
            ).collect()
        }
        assert got[n] is None  # NULL vector -> NULL probe list
        A = X if center is None else X - np.array(center)[None, :]
        for i in range(n):
            sims = np.round(
                (A[i] @ C.T)
                / (max(np.linalg.norm(A[i]), 1e-12) * np.linalg.norm(C, axis=1)),
                6,
            )
            order = sorted(range(n_cells), key=lambda c: (-sims[c], c))
            assert got[i] == order[:3], (center, i)
        if C[1] @ A[0] != 0:  # the planted tie: 1 always precedes 3
            full = df.filter(F.col("embedding").isNotNull()).select(
                probe_cells_expr(
                    F.col("embedding"), cent_rows, n_cells + 5, center_vec=center
                ).alias("cells")
            ).collect()
            for r in full:
                assert len(r.cells) == n_cells  # n_probe past cell count: all
                assert r.cells.index(1) < r.cells.index(3)


def test_ivfpq_topk_matches_numpy_reference(spark):
    """ivfpq_topk (packed-code Arrow transfer, cell-major worker-side ADC
    tables, per-partition shortlist fold + global merge) must reproduce
    the numpy IVFADC+R reference (tests/ivfadc_reference.py) on the plain
    and residual paths, across multi-group packing (m=16 -> two packed
    longs), multi-assignment dedup, and a tiny shortlist that makes the
    per-partition prune boundary bind."""
    import numpy as np

    from tests.ivfadc_reference import assert_matches_reference, ivfadc_r_reference

    from crypto_market_data_etl_spark.operators.similarity import (
        coarse_residuals,
        ivfpq_index,
        ivfpq_topk,
        kmeans_train,
        pq_train,
    )

    rng = np.random.default_rng(53)
    dim, n = 16, 300
    centers = rng.normal(size=(5, dim))
    X = centers[np.arange(n) % 5] + 0.2 * rng.normal(size=(n, dim))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(4)
    cents = kmeans_train(df, centroid_filter=F.col("vec_id") % 40 == 1, n_iters=2)
    qs = spark.createDataFrame(
        [(10_000 + i, [float(v) for v in X[i * 31]]) for i in range(9)],
        "vec_id long, embedding array<double>",
    )

    # m=4 (one packed long, partial group) and m=16 (two full groups);
    # the last case's shortlist of 5 binds the per-partition prune
    for m, residual, assign_r, k, shortlist in (
        (4, True, 1, 4, 60),
        (16, False, 1, 4, 60),
        (4, True, 2, 4, 60),
        (4, True, 1, 3, 5),
    ):
        if residual:
            books = pq_train(
                coarse_residuals(df, cents), vec_col="resid",
                m=m, k=8, n_iters=2, dim=dim,
            )
        else:
            books = pq_train(df, m=m, k=8, n_iters=2, dim=dim)
        idx = ivfpq_index(
            df, cents, books, residual=residual, assign_r=assign_r
        ).localCheckpoint()
        kw = dict(n_probe=3, k=k, shortlist=shortlist, residual=residual)
        ref = ivfadc_r_reference(idx, qs, cents, books, df, **kw)
        assert ref
        assert_matches_reference(
            ivfpq_topk(idx, qs, cents, books, df, **kw).collect(), ref
        )


def test_ivfpq_topk_refuses_wide_codebook(spark):
    """PQ codes travel one byte per code, so a codebook with more than
    256 centroids is refused loudly instead of being scored some other
    way."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    rng = np.random.default_rng(7)
    dim, m, kb, n = 8, 2, 257, 40
    X = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [float(v) for v in X[0] / np.linalg.norm(X[0])])],
        "c_id long, c_vec array<double>",
    )
    books = spark.createDataFrame(
        [
            (b, c, [float(x) for x in v])
            for b in range(m)
            for c, v in enumerate(rng.normal(size=(kb, dim // m)))
        ],
        "block int, c_id int, c_vec array<double>",
    )
    idx = ivfpq_index(df, cents, books)
    with pytest.raises(ValueError, match="256"):
        ivfpq_topk(idx, df.limit(2), cents, books, df, n_probe=1, k=2)


def test_fused_pack_sign_bit_roundtrip(spark):
    """Packing codes whose leading byte has the top bit set (codebooks
    with 129–256 centroids) must round-trip: the old ``acc * 256 + x``
    fold threw ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode
    when a full 8-code group packed into the long's sign bit. The bit-op
    form (shiftleft | code) treats the sign bit as data; the numpy
    unpack (arithmetic >> then & 255) is sign-agnostic."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        _pack_code_cols,
    )

    cases = [
        [255] * 8,                                # all sign bits, max value
        [128, 0, 0, 0, 0, 0, 0, 0],               # minimal negative long
        [200, 255, 0, 7, 128, 1, 199, 250],       # mixed full group
        [127, 255, 255, 255, 255, 255, 255, 255], # max positive long
        [0] * 8,
    ]
    m = 8
    group_lens = [8]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "vec_id long, codes array<int>"
    )
    packed = df.select("vec_id", *_pack_code_cols(group_lens)).orderBy("vec_id")
    rows = packed.collect()
    v = np.array([r["p0"] for r in rows], dtype=np.int64)
    out = np.empty((len(cases), m), dtype=np.int64)
    for j in range(m):
        out[:, j] = (v >> (8 * (m - 1 - j))) & 255
    assert out.tolist() == cases

    # partial trailing group (m=12 -> lens [8, 4]) keeps byte order
    df12 = spark.createDataFrame(
        [(0, [200, 1, 255, 3, 129, 5, 6, 7, 255, 9, 10, 128])],
        "vec_id long, codes array<int>",
    )
    r = df12.select(*_pack_code_cols([8, 4])).collect()[0]
    v0, v1 = np.int64(r["p0"]), np.int64(r["p1"])
    got = [(v0 >> (8 * (7 - j))) & 255 for j in range(8)] + [
        (v1 >> (8 * (3 - j))) & 255 for j in range(4)
    ]
    assert [int(x) for x in got] == [200, 1, 255, 3, 129, 5, 6, 7, 255, 9, 10, 128]


def test_fused_wide_codebooks_and_self_match_parity(spark):
    """Two regressions from the r13 audit, now pinned against the numpy
    IVFADC+R reference:

    (1) codebooks with >128 centroids — real PQ codes land in 128–255,
    so a full 8-code group packs into the long's sign bit; before the
    bit-op packing the scorer threw ARITHMETIC_OVERFLOW under default
    ANSI before any row was scored.

    (2) queries that ARE index vectors (self-join ANN) at tight
    shortlists over a multi-partition index — self pairs are masked
    before the cut, so a self row never burns a shortlist slot."""
    import numpy as np

    from tests.ivfadc_reference import assert_matches_reference, ivfadc_r_reference

    from crypto_market_data_etl_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
        kmeans_train,
    )

    rng = np.random.default_rng(77)
    dim, m, kb, n = 16, 8, 200, 360
    centers = rng.normal(size=(6, dim))
    X = centers[np.arange(n) % 6] + 0.25 * rng.normal(size=(n, dim))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(4)
    cents = kmeans_train(df, centroid_filter=F.col("vec_id") % 60 == 1, n_iters=2)
    # hand-built wide codebooks (pq_train can't fill 200 clusters from a
    # 360-row fixture): block b's centroids are drawn around the data's
    # subspace range so argmin spreads codes across the full 0..199 band
    dsub = dim // m
    books_rows = []
    for b in range(m):
        B = 0.5 * rng.normal(size=(kb, dsub))
        for c in range(kb):
            books_rows.append((b, c, [float(x) for x in B[c]]))
    books = spark.createDataFrame(
        books_rows, "block int, c_id int, c_vec array<double>"
    )
    idx = ivfpq_index(df, cents, books).localCheckpoint()
    # the fixture genuinely exercises the sign bit: some row's leading
    # code in a full 8-group is >= 128
    lead = idx.select(F.expr("codes[0]").alias("c0")).agg(
        F.max("c0").alias("mx")).collect()[0]["mx"]
    assert lead >= 128

    # (1) external queries, wide books
    qs = spark.createDataFrame(
        [(10_000 + i, [float(v) for v in X[i * 37]]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    kw = dict(n_probe=3, k=4, shortlist=40)
    ref = ivfadc_r_reference(idx, qs, cents, books, df, **kw)
    assert ref
    assert_matches_reference(
        ivfpq_topk(idx, qs, cents, books, df, **kw).collect(), ref
    )

    # (2) self-join queries at tight shortlists (boundary-sensitive)
    self_qs = df.filter(F.col("vec_id") % 45 == 2)
    assert self_qs.count() == 8
    for shortlist in (3, 5, 11):
        kw = dict(n_probe=3, k=3, shortlist=shortlist)
        ref = ivfadc_r_reference(idx, self_qs, cents, books, df, **kw)
        assert ref
        assert_matches_reference(
            ivfpq_topk(idx, self_qs, cents, books, df, **kw).collect(), ref
        )


def test_fused_self_join_divergence_regime(spark):
    """Pin the self-masked-before-cut semantics where they matter:
    self-join queries against one coarse cell far larger than the
    shortlist, so the cut BINDS and a self row would land inside it.

    Asserted: (1) ivfpq_topk equals the numpy reference that masks self
    rows BEFORE the cut, at every tight shortlist; (2) it returns no self
    pairs and exactly k real neighbors per query; (3) the fixture is
    sensitive — masking AFTER the cut (a self row burns a slot) yields a
    different top-k at some shortlist, so (1) tells the two semantics
    apart."""
    import numpy as np

    from tests.ivfadc_reference import assert_matches_reference, ivfadc_r_reference

    from crypto_market_data_etl_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    rng = np.random.default_rng(41)
    dim, m, kb, n = 16, 8, 16, 180
    X = rng.normal(size=(n, dim))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    # ONE coarse cell -> every vector lands in it
    cents = spark.createDataFrame(
        [(0, [float(v) for v in X.mean(axis=0)])], "c_id long, c_vec array<double>"
    )
    dsub = dim // m
    books = spark.createDataFrame(
        [
            (b, c, [float(x) for x in v])
            for b in range(m)
            for c, v in enumerate(0.6 * rng.normal(size=(kb, dsub)))
        ],
        "block int, c_id int, c_vec array<double>",
    )
    idx = ivfpq_index(df, cents, books).localCheckpoint()
    self_qs = df.filter(F.col("vec_id") % 36 == 5)  # 5 index vectors
    diverged = False
    for shortlist in (3, 5, 8, 12):
        kw = dict(n_probe=1, k=3, shortlist=shortlist)
        got = ivfpq_topk(idx, self_qs, cents, books, df, **kw).collect()
        ref = ivfadc_r_reference(idx, self_qs, cents, books, df, **kw)
        assert_matches_reference(got, ref)
        assert all(r.q_id != r.n_id for r in got)
        per_q = {}
        for r in got:
            per_q.setdefault(r.q_id, []).append(r)
        assert len(per_q) == 5
        assert all(len(v) == 3 for v in per_q.values()), shortlist
        late = ivfadc_r_reference(
            idx, self_qs, cents, books, df, mask_self_before_cut=False, **kw
        )
        diverged |= late != ref
    assert diverged, (
        "no tight shortlist puts a self row inside the cut — the fixture "
        "no longer exercises the self-masked-before-cut semantics"
    )


def test_ivfpq_multi_assignment(spark):
    """Multi-assignment (assign_r=2) invariants: (1) the index lists every
    vector in exactly r distinct cells, cell #1 identical to the
    single-assignment cell; (2) exhaustive probe + uncut shortlist still
    degenerates to EXACT brute-force top-k — the candidate dedup proven
    (without it, a neighbor reached via both its cells would occupy two
    top-k slots); (3) at a narrow probe the r=2 candidate set is a
    SUPERSET of r=1's, so planted-duplicate coverage never drops; holds on
    the residual path too (each copy coded against its own cell)."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        coarse_residuals,
        cosine_topk,
        ivfpq_index,
        ivfpq_topk,
        kmeans_train,
        pq_train,
    )

    rng = np.random.default_rng(41)
    dim, m, kc, n = 16, 4, 8, 240
    centers = rng.normal(size=(6, dim))
    X = centers[np.arange(n) % 6] + 0.25 * rng.normal(size=(n, dim))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_train(df, centroid_filter=F.col("vec_id") % 40 == 1, n_iters=2)
    qs = spark.createDataFrame(
        [(10_000 + i, [float(v) for v in X[i * 29]]) for i in range(7)],
        "vec_id long, embedding array<double>",
    )
    exact = cosine_topk(df, qs, k=4).collect()
    n_cells = cents.count()

    for residual in (False, True):
        if residual:
            books = pq_train(
                coarse_residuals(df, cents), vec_col="resid",
                m=m, k=kc, n_iters=2, dim=dim,
            )
        else:
            books = pq_train(df, m=m, k=kc, n_iters=2, dim=dim)
        idx1 = ivfpq_index(df, cents, books, residual=residual).localCheckpoint()
        idx2 = ivfpq_index(
            df, cents, books, residual=residual, assign_r=2
        ).localCheckpoint()

        # (1) exactly 2 distinct cells per vector; first cell == r=1 cell
        per_vec = idx2.groupBy("vec_id").agg(
            F.count("*").alias("n"), F.countDistinct("c_id").alias("nc")
        )
        assert per_vec.filter("n != 2 OR nc != 2").count() == 0
        cell1 = {r.vec_id: r.c_id for r in idx1.collect()}
        cells2 = {}
        for r in idx2.collect():
            cells2.setdefault(r.vec_id, set()).add(r.c_id)
        assert all(cell1[v] in cells2[v] for v in cell1)
        if not residual:
            # plain mode: both copies carry the SAME code (cell-independent)
            codes = idx2.groupBy("vec_id").agg(
                F.countDistinct(F.col("codes").cast("string")).alias("u")
            )
            assert codes.filter("u != 1").count() == 0

        # (2) exhaustive degeneracy on the multi-assigned index
        full = ivfpq_topk(
            idx2, qs, cents, books, df,
            n_probe=n_cells, k=4, shortlist=n, residual=residual,
        ).collect()
        assert sorted((r.q_id, r.rnk, r.n_id, r.sim) for r in full) == sorted(
            (r.q_id, r.rnk, r.n_id, r.sim) for r in exact
        )

        # (3) narrow probe: no duplicate neighbors, coverage never drops
        r1 = ivfpq_topk(
            idx1, qs, cents, books, df,
            n_probe=1, k=4, shortlist=n, residual=residual,
        ).collect()
        r2 = ivfpq_topk(
            idx2, qs, cents, books, df,
            n_probe=1, k=4, shortlist=n, residual=residual,
        ).collect()
        per_q = {}
        for r in r2:
            per_q.setdefault(r.q_id, []).append(r.n_id)
        assert all(len(v) == len(set(v)) for v in per_q.values())
        exact_pairs = {(r.q_id, r.n_id) for r in exact}
        hits1 = len({(r.q_id, r.n_id) for r in r1} & exact_pairs)
        hits2 = len({(r.q_id, r.n_id) for r in r2} & exact_pairs)
        assert hits2 >= hits1, (residual, hits1, hits2)


def test_ivf_index_multi_assignment_dedup(spark):
    """ivf_index(assign_r=2) + ivf_ann_topk(dedup_candidates=True): no
    neighbor appears twice in a query's top-k even when both its cells are
    probed, and the exhaustive-probe result equals exact brute force."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        ivf_index,
        kmeans_train,
    )

    rng = np.random.default_rng(43)
    dim, n = 12, 150
    X = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_train(df, centroid_filter=F.col("vec_id") % 30 == 1, n_iters=2)
    idx = ivf_index(df, cents, assign_r=2).localCheckpoint()
    assert idx.count() == 2 * n
    qs = spark.createDataFrame(
        [(10_000 + i, [float(v) for v in X[i * 17]]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    n_cells = cents.count()
    out = ivf_ann_topk(
        df, qs, n_probe=n_cells, k=4, centroids=cents,
        index=idx, dedup_candidates=True,
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.q_id, []).append(r.n_id)
    assert all(len(v) == len(set(v)) for v in per_q.values())
    exact = cosine_topk(df, qs, k=4).collect()
    assert sorted((r.q_id, r.rnk, r.n_id, r.sim) for r in out) == sorted(
        (r.q_id, r.rnk, r.n_id, r.sim) for r in exact
    )


def test_zero_norm_centroid_is_floored(spark):
    """A zero-norm centroid row must rank at sim 0 deterministically in
    every centroid assignment — probe_cells_expr (stream gate),
    _assign_cells (ivf_ann_topk's query probes), assign_centroids_np, and
    the coarse quantizers of coarse_residuals, ivfpq_index and ivfpq_topk
    — not poison the ordering with Inf/NaN. All of them must agree."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        _collect_small_side,
        assign_centroids_np,
        coarse_residuals,
        ivf_ann_topk,
        ivfpq_index,
        ivfpq_topk,
        probe_cells_expr,
    )

    dim = 8
    rng = np.random.default_rng(47)
    X = rng.normal(size=(6, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    # centroid 2 is the all-zero vector; 0/1 are real corpus directions
    cvecs = {0: list(X[0]), 1: list(X[3]), 2: [0.0] * dim}
    cents = spark.createDataFrame(
        [(c, [float(v) for v in vec]) for c, vec in cvecs.items()],
        "c_id long, c_vec array<double>",
    )
    cent_rows = _collect_small_side(cents.orderBy("c_id"), "centroid")

    # expected rank per vector (floored-norm cosine, 6dp, ties → low c_id)
    def expected(v):
        sims = {}
        for c, cv in cvecs.items():
            cn = max(np.linalg.norm(cv), 1e-12)
            vn = max(np.linalg.norm(v), 1e-12)
            sims[c] = round(float(np.dot(v, cv)) / (vn * cn), 6)
        return sorted(cvecs, key=lambda c: (-sims[c], c))

    probe = {
        r.vec_id: list(r.cells)
        for r in df.select(
            "vec_id",
            probe_cells_expr(F.col("embedding"), cent_rows, 3).alias("cells"),
        ).collect()
    }
    top1_np = {
        r.vec_id: r.c_id
        for r in assign_centroids_np(df, cents, "vec_id", "embedding", n=1).collect()
    }
    for i in range(6):
        exp = expected(X[i])
        assert probe[i] == exp, (i, probe[i], exp)
        assert top1_np[i] == exp[0]
        assert not any(np.isnan(c) or c < 0 for c in probe[i])

    # end-to-end: the query probes must not NaN-corrupt ranks
    qs = df.filter("vec_id = 0").select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    out = ivf_ann_topk(df, qs, n_probe=3, k=2, centroids=cents).collect()
    assert len(out) == 2 and out[0].sim is not None

    # the IVF-PQ coarse quantizers, on unit-scale centroids (the residual
    # scale contract; same directions, so the same expected ranks)
    unit = {c: np.asarray(v) / max(np.linalg.norm(v), 1e-12) for c, v in cvecs.items()}
    cents_u = spark.createDataFrame(
        [(c, [float(x) for x in v]) for c, v in unit.items()],
        "c_id long, c_vec array<double>",
    )
    books = spark.createDataFrame(
        [(b, c, [float(c)]) for b in range(dim) for c in range(2)],
        "block int, c_id int, c_vec array<double>",
    )
    top1 = {i: expected(X[i])[0] for i in range(6)}
    got = {r.vec_id: r.c_id for r in ivfpq_index(df, cents_u, books).collect()}
    assert got == top1
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    for r in coarse_residuals(df, cents_u).collect():
        assert np.allclose(r.resid, Xn[r.vec_id] - unit[top1[r.vec_id]]), r.vec_id
    # ivfpq_topk's probe: one marker row per cell, so the only candidate a
    # 1-probe query returns names the cell it probed. Query 6 points away
    # from both real centroids, so its best cell is the zero one (sim 0).
    away = -(unit[0] + unit[1])
    q6 = spark.createDataFrame(
        [(6, [float(v) for v in away])], "vec_id long, embedding array<double>"
    )
    top1[6] = expected(away)[0]
    assert top1[6] == 2
    marker = spark.createDataFrame(
        [(1000 + c, c, [0] * dim) for c in cvecs],
        "vec_id long, c_id long, codes array<int>",
    )
    marker_vecs = spark.createDataFrame(
        [(1000 + c, [1.0] * dim) for c in cvecs], "vec_id long, embedding array<double>"
    )
    probed = {
        r.q_id: r.n_id - 1000
        for r in ivfpq_topk(
            marker, df.unionByName(q6), cents_u, books, marker_vecs,
            n_probe=1, k=1, shortlist=10,
        ).collect()
    }
    assert probed == top1
