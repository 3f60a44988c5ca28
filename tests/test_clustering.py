"""Connected components, deterministic sampling, contamination report."""

import pytest
from pyspark.sql import functions as F

from crypto_market_data_etl_spark.operators.clustering import (
    connected_components,
    dup_groups,
)
from crypto_market_data_etl_spark.operators.contamination import contamination_report
from crypto_market_data_etl_spark.operators.sampling import (
    hash_sample,
    rate_threshold,
    stratified_sample,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_cc_merges_transitively(spark):
    # triangle {1,2,3} + chain {10-11-12} + pair {20,21}; (1,3) never paired
    cc = connected_components(
        _pairs(spark, [(1, 2), (2, 3), (10, 11), (11, 12), (20, 21)])
    )
    got = {r.node: r.comp for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cc_long_chain_pointer_jumping(spark):
    # a 64-node path: plain propagation needs 63 rounds, pointer jumping
    # must converge well inside the default max_rounds=25 (O(log d))
    edges = [(i, i + 1) for i in range(63)]
    cc = connected_components(_pairs(spark, edges))
    rows = cc.collect()
    assert len(rows) == 64 and all(r.comp == 0 for r in rows)


def test_cc_distributed_tier_matches_driver_tier(spark):
    # driver_threshold=0 forces the iterative Spark loop; both tiers run the
    # same algorithm and must land on the identical unique fixpoint
    edges = [(i, i + 1) for i in range(40)] + [(100, 200), (200, 150), (7, 300)]
    fast = connected_components(_pairs(spark, edges))
    dist = connected_components(_pairs(spark, edges), driver_threshold=0)
    assert {(r.node, r.comp) for r in fast.collect()} == {
        (r.node, r.comp) for r in dist.collect()
    }


def test_cc_string_ids_driver_tier(spark):
    cc = connected_components(
        spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
        )
    )
    got = {r.node: r.comp for r in cc.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_dup_groups_sizes_and_survivor(spark):
    out = {
        r.node: (r.comp, r.group_size)
        for r in dup_groups(_pairs(spark, [(5, 9), (9, 7), (30, 31)])).collect()
    }
    assert out == {5: (5, 3), 7: (5, 3), 9: (5, 3), 30: (30, 2), 31: (30, 2)}


def test_hash_sample_partitioning_invariant(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in hash_sample(df, "doc_id", 0.3).collect()}
    b = {
        r.doc_id
        for r in hash_sample(df.repartition(17), "doc_id", 0.3).collect()
    }
    assert a == b  # df.sample() fails this — hash sampling is content-pure
    assert 0.2 < len(a) / 2000 < 0.4


def test_stratified_sample_rates_and_allowlist(spark):
    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    out = stratified_sample(df, "source", {"s0": 1.0, "s1": 0.0}, "doc_id")
    rows = out.groupBy("source").count().collect()
    got = {r.source: r["count"] for r in rows}
    assert got == {"s0": 1000}  # s1 sampled to zero, s2 not in map -> dropped


def test_rate_threshold_bounds():
    assert rate_threshold(0.0) == "00000000"
    assert rate_threshold(0.5) == "80000000"
    assert rate_threshold(1.0) == "g"  # sorts above every hex digest: keep all
    with pytest.raises(ValueError):
        rate_threshold(1.5)


def test_contamination_fractions(spark):
    corpus = spark.createDataFrame(
        [
            (1, "a b c d"),        # grams: "a b c","b c d"; both in bench
            (2, "a b c x"),        # grams: "a b c","b c x"; one hit
            (3, "z z z z"),        # gram: "z z z" (distinct); no hits
            (4, "too short"),      # 0 grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, "a b c d e")], "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.n_hit, r.frac_hit)
        for r in contamination_report(corpus, bench).collect()
    }
    assert got == {
        1: (2, 2, 1.0),
        2: (2, 1, 0.5),
        3: (1, 0, 0.0),
        4: (0, 0, 0.0),
    }


def test_contamination_broadcasts_bench(spark):
    corpus = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    plan = (
        contamination_report(corpus, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # gram probe is map-side, no shuffle


def test_pack_shards_blocked_equals_plain(spark):
    from crypto_market_data_etl_spark.operators.sampling import pack_shards

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(200)],
        "doc_id long, text string",
    )
    plain = pack_shards(df, shard_tokens=50).collect()
    blocked = pack_shards(df, shard_tokens=50, block_span=23).collect()
    key = lambda rows: sorted((r.doc_id, r.n_tok, r.cum_tok, r.shard) for r in rows)
    assert key(plain) == key(blocked)
    # boundary rule: the doc crossing the budget closes its shard
    by_id = {r.doc_id: r for r in plain}
    assert by_id[0].cum_tok == 1 and by_id[0].shard == 0
    total = sum(i % 7 + 1 for i in range(200))
    assert by_id[199].cum_tok == total and by_id[199].shard == (total - 1) // 50


def test_kmeans_step_two_clear_clusters(spark):
    from crypto_market_data_etl_spark.operators.similarity import kmeans_step

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]), (3, [0.9, 0.1]),   # cluster 1 (centroid = id 1)
            (2, [0.0, 1.0]), (4, [0.1, 0.9]),   # cluster 2 (centroid = id 2)
        ],
        "vec_id long, embedding array<double>",
    )
    out = kmeans_step(df, centroid_filter=F.col("vec_id").isin(1, 2))
    got = {(r.cluster_id, r.pos): (r.mean_val, r.n_members) for r in out.collect()}
    assert got == {
        (1, 1): (0.95, 2), (1, 2): (0.05, 2),
        (2, 1): (0.05, 2), (2, 2): (0.95, 2),
    }


def test_bloom_contamination_one_sided_and_converges_to_exact(spark):
    """Bloom probe is one-sided (n_maybe_hit >= exact n_hit per doc) and at
    generous filter size the report equals the exact one bit-for-bit."""
    from crypto_market_data_etl_spark.operators.contamination import (
        bloom_contamination_report,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x"), (3, "z z z z"), (4, "too short")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, "a b c d e")], "doc_id long, text string")
    exact = {
        r.doc_id: r.n_hit
        for r in contamination_report(corpus, bench).collect()
    }
    got = {
        r.doc_id: (r.n_grams, r.n_maybe_hit, r.frac_maybe)
        for r in bloom_contamination_report(
            corpus, bench, n_bits=1 << 20, n_hashes=2
        ).collect()
    }
    assert all(got[d][1] >= exact[d] for d in exact)
    assert got == {  # at 2^20 bits / 4 bench grams, fp probability ~ 0
        1: (2, 2, 1.0),
        2: (2, 1, 0.5),
        3: (1, 0, 0.0),
        4: (0, 0, 0.0),
    }


def test_bloom_contamination_tiny_filter_saturates(spark):
    """A saturated 63-bit filter flags everything — the fp direction, never
    a false negative."""
    from crypto_market_data_etl_spark.operators.contamination import (
        bloom_contamination_report,
    )

    corpus = spark.createDataFrame([(1, "p q r s")], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, " ".join(f"w{i}" for i in range(200)))], "doc_id long, text string"
    )
    got = bloom_contamination_report(corpus, bench, n_bits=63, n_hashes=1).collect()
    assert got[0].n_maybe_hit == got[0].n_grams == 2


def test_bloom_contamination_broadcasts_bitmap(spark):
    from crypto_market_data_etl_spark.operators.contamination import (
        bloom_contamination_report,
    )

    corpus = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    plan = (
        bloom_contamination_report(corpus, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # bitmap probes are map-side


# ---- round-5 additions: semantic dedup, canonical selection, mixtures ----


def test_semantic_dedup_drops_exact_copies(spark):
    from crypto_market_data_etl_spark.operators.similarity import semantic_dedup

    base = [
        (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)]) for i in range(40)
    ]
    copies = [(i + 1000, v) for i, v in base if i % 4 == 0]  # exact dups, higher id
    df = spark.createDataFrame(base + copies, "vec_id long, embedding array<float>")
    got = semantic_dedup(
        df,
        threshold=0.999,
        centroid_filter=(F.col("vec_id") % 10 == 1) & (F.col("vec_id") < 1000),
    )
    rows = {r.vec_id: r for r in got.collect()}
    assert len(rows) == len(base) + len(copies)  # every input row has a verdict
    for i, _ in copies:
        assert not rows[i].keep  # a copy always sees its lower-id original
        assert rows[i].cluster_id == rows[i - 1000].cluster_id


def test_semantic_dedup_max_reps_bounds_comparisons(spark):
    from crypto_market_data_etl_spark.operators.similarity import semantic_dedup

    # one cluster of identical vectors; with max_reps=1 every member is
    # still dropped (all compare against the single rep = min id)
    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(1, 9)],
        "vec_id long, embedding array<float>",
    )
    got = semantic_dedup(
        df, threshold=0.99, centroid_filter=F.col("vec_id") == 1, max_reps=1
    ).collect()
    kept = sorted(r.vec_id for r in got if r.keep)
    assert kept == [1]


def test_canonical_docs_picks_highest_quality(spark):
    from crypto_market_data_etl_spark.operators.clustering import canonical_docs

    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.1), (11, 0.1), (42, 0.0)],
        "doc_id long, quality double",
    )
    pairs = _pairs(spark, [(1, 2), (2, 3), (10, 11)])
    rows = {r.doc_id: r for r in canonical_docs(scored, pairs).collect()}
    assert len(rows) == 6
    # cluster {1,2,3}: doc 2 has the best quality
    for d in (1, 2, 3):
        assert rows[d].keep_id == 2 and rows[d].n_members == 3
    assert [rows[d].is_canonical for d in (1, 2, 3)] == [False, True, False]
    # quality tie in {10,11} -> lowest id wins
    assert rows[10].keep_id == 10 and rows[11].keep_id == 10
    # unpaired doc is its own canonical singleton
    assert rows[42].is_canonical and rows[42].n_members == 1


def test_domain_mixture_rates_closed_form(spark):
    from crypto_market_data_etl_spark.operators.sampling import domain_mixture_rates

    df = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)],
        "doc_id long, lang string",
    )
    rates = {r.lang: r for r in domain_mixture_rates(df, alpha=0.5).collect()}
    assert rates["small"].rate == 1.0  # smallest domain kept whole
    assert rates["big"].rate == round((100 / 900) ** 0.5, 6)
    with pytest.raises(ValueError):
        domain_mixture_rates(df, alpha=1.5).collect()


def test_domain_mixture_sample_deterministic_and_flattening(spark):
    from crypto_market_data_etl_spark.operators.sampling import domain_mixture_sample

    df = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)],
        "doc_id long, lang string",
    )
    kept = domain_mixture_sample(df, alpha=0.5).groupBy("lang").count()
    got = {r.lang: r["count"] for r in kept.collect()}
    assert got["small"] == 100  # rate 1.0
    # big is downsampled toward sqrt-flattened share (300 expected, hash noise)
    assert 200 < got["big"] < 400
    # membership is a pure function of the data: partitioning-invariant
    a = {r.doc_id for r in domain_mixture_sample(df, alpha=0.5).collect()}
    b = {
        r.doc_id
        for r in domain_mixture_sample(df.repartition(7), alpha=0.5).collect()
    }
    assert a == b


def test_semantic_dedup_matches_fold_reference(spark):
    """The Arrow assignment and verdict must be IDENTICAL to the ``_dot``
    fold form — not tolerance-equal: both recompute their cosines with
    ``_sweep_rows``, which replicates the fold's exact FP sequence; the
    assignment kernel computes its floored norms the same way in numpy,
    the verdict's norms ride the rows from Spark expressions, and
    rounding/argmax/threshold stay in Spark. Full output equality on every
    column, plain and centered."""
    from crypto_market_data_etl_spark.operators.similarity import (
        embedding_mean,
        semantic_dedup,
    )
    from crypto_market_data_etl_spark.schemas import load_table
    from tests.conftest import SF_SMOKE
    from tests.fold_reference import semantic_dedup_fold

    embs = load_table(spark, SF_SMOKE, "embeddings")
    mean = [round(v, 6) for v in embedding_mean(embs)]
    for kwargs in (
        {},
        {"center_vec": mean},
        {"threshold": 0.8, "max_reps": 3},
    ):
        sweep = semantic_dedup(embs, **kwargs).collect()
        expr = semantic_dedup_fold(embs, **kwargs).collect()
        assert sorted(map(tuple, sweep)) == sorted(map(tuple, expr)), kwargs


def test_semantic_dedup_sweep_edge_regimes(spark):
    """Inputs beside the dense long-id case, each against the fold form: a
    whole-NULL embedding row must flow through (NULL ev/rv pairs
    pre-filtered exactly like the fold's NULL pair_sim), an IntegerType id
    column must keep its type on cluster_id, string ids cluster and
    tie-break by their own ordering, and NULL-vector centroids score NULL
    instead of failing the centroid collect."""
    from pyspark.sql import functions as F

    from crypto_market_data_etl_spark.operators.similarity import semantic_dedup
    from tests.fold_reference import semantic_dedup_fold

    rows = [(i, [float(i % 7) + 0.1 * d for d in range(8)]) for i in range(60)]
    rows.append((60, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cf = F.col("vec_id") % 10 == 1
    sweep = semantic_dedup(df, centroid_filter=cf).collect()
    expr = semantic_dedup_fold(df, centroid_filter=cf).collect()
    assert sorted(map(tuple, sweep)) == sorted(map(tuple, expr))
    assert len(sweep) == 61  # the NULL-vector row is present, keep=true
    i32 = spark.createDataFrame(rows[:60], "vec_id long, embedding array<double>")
    i32 = i32.withColumn("vec_id", F.col("vec_id").cast("int"))
    t_sweep = semantic_dedup(i32, centroid_filter=cf)
    t_expr = semantic_dedup_fold(i32, centroid_filter=cf)
    assert t_sweep.schema == t_expr.schema
    assert sorted(map(tuple, t_sweep.collect())) == sorted(
        map(tuple, t_expr.collect())
    )
    # string ids: "s7" sorts after "s60", so id order is not numeric order
    strs = df.withColumn("vec_id", F.concat(F.lit("s"), F.col("vec_id").cast("string")))
    scf = F.col("vec_id").endswith("1")
    s_sweep = semantic_dedup(strs, centroid_filter=scf)
    s_expr = semantic_dedup_fold(strs, centroid_filter=scf)
    assert s_sweep.schema == s_expr.schema
    s_rows = s_sweep.collect()
    assert sorted(map(tuple, s_rows), key=repr) == sorted(
        map(tuple, s_expr.collect()), key=repr
    )
    assert len(s_rows) == 61 and not all(r.keep for r in s_rows)
    # NULL-vector centroids: c_id 1 (the smallest) scores NULL, so it takes
    # only the NULL-vector rows; with every centroid NULL, every row does
    nul = spark.createDataFrame(
        [(1, None)] + rows[2:], "vec_id long, embedding array<double>"
    )
    for ncf in (cf, F.col("vec_id").isin(1, 60)):
        n_sweep = semantic_dedup(nul, centroid_filter=ncf).collect()
        n_expr = semantic_dedup_fold(nul, centroid_filter=ncf).collect()
        assert sorted(map(tuple, n_sweep)) == sorted(map(tuple, n_expr))
        assert {r.cluster_id for r in n_sweep if r.vec_id in (1, 60)} == {1}


def test_sweep_dots_bit_identical_to_expression_fold(spark):
    """_sweep_cross/_sweep_rows vs the JVM ``_dot`` fold: EXACT (==) float64
    equality on random vectors — the core invariant the sweep tier rests on
    (numpy ufunc per-op rounding in element order == the fold's sequence;
    BLAS np.dot would fail this test)."""
    import numpy as np

    from crypto_market_data_etl_spark.operators.similarity import (
        _dot,
        _sweep_cross,
        _sweep_rows,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    A = rng.standard_normal((40, 64)) * rng.uniform(0.1, 100, (40, 1))
    B = rng.standard_normal((40, 64)) * rng.uniform(0.1, 100, (40, 1))
    rows = [(a.tolist(), b.tolist()) for a, b in zip(A, B)]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    jvm = np.array(
        [r[0] for r in df.select(_dot(F.col("a"), F.col("b"))).collect()]
    )
    assert (_sweep_rows(A, B) == jvm).all()  # exact, not allclose
    # cross form: pair i scored against every row of B; diagonal == rows form
    assert (np.diagonal(_sweep_cross(A, B)) == jvm).all()


def test_semantic_dedup_rejects_empty_centroid_set(spark):
    import pytest
    from pyspark.sql import functions as F

    from crypto_market_data_etl_spark.operators.similarity import semantic_dedup
    from crypto_market_data_etl_spark.schemas import load_table
    from tests.conftest import SF_SMOKE

    embs = load_table(spark, SF_SMOKE, "embeddings")
    with pytest.raises(ValueError, match="no rows"):
        semantic_dedup(embs, centroid_filter=F.lit(False))


def test_curate_corpus_stage_contracts(spark):
    """Every output row survives each gate; dropped docs are explainable."""
    from crypto_market_data_etl_spark.operators.curation import curate_corpus
    from crypto_market_data_etl_spark.operators.text import quality_scores
    from crypto_market_data_etl_spark.schemas import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    out = curate_corpus(corpus, bench, quality_min=0.64).toPandas()
    assert len(out) > 0
    assert (out["quality"] >= 0.64).all()
    assert set(out["split"]) <= {"train", "val", "test"}
    # canonical uniqueness: one survivor per dup-cluster anchor
    assert out["anchor"].is_unique
    # split is a pure function of the anchor
    assert out.groupby("anchor")["split"].nunique().max() == 1
    # mixture rates are per-domain constants in (0, 1]
    rates = out.groupby("lang")["rate"].nunique()
    assert (rates == 1).all()
    assert ((out["rate"] > 0) & (out["rate"] <= 1.0)).all()


def _stats_bits(df):
    """Bit length of Catalyst's sizeInBytes estimate for df's optimized plan."""
    s = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # py4j maps scala BigInt to python int for small values; huge estimates
    # come through as java objects exposing bitLength()
    return s.bit_length() if isinstance(s, int) else int(s.bitLength())


def test_checkpoint_nostats_resets_size_estimate(spark):
    """checkpoint_nostats must NOT carry the pre-checkpoint plan's
    size-in-bytes estimate: captured estimates MULTIPLY per plan reference,
    and iterative loops that checkpoint each round grow the cached BigInt's
    bit length geometrically (minutes of driver-side BigInteger arithmetic
    by round ~14 — the 952 s curate_corpus scale cliff)."""
    from crypto_market_data_etl_spark.materialize import checkpoint_nostats

    base = spark.range(1000).select(
        F.col("id").alias("node"), F.col("id").alias("comp")
    )
    ck = checkpoint_nostats(base)
    assert ck.count() == 1000
    # defaultSizeInBytes is Long.MaxValue -> 63 bits; anything inherited
    # from a deeper plan would exceed it after a couple of self-joins
    assert _stats_bits(ck) <= 64


def test_iterative_checkpoint_stats_stay_bounded(spark):
    """A 6-round loop whose round plan references the previous table 3x —
    the connected-components shape. With stats-carrying checkpoints the
    estimate's bit length TRIPLES per round (small at 6 rounds, minutes at
    14); with checkpoint_nostats it must stay constant."""
    from crypto_market_data_etl_spark.materialize import checkpoint_nostats

    edges = checkpoint_nostats(
        spark.range(300).select(
            (F.col("id") % 100).alias("src"), ((F.col("id") * 7) % 100).alias("dst")
        )
    )
    labels = checkpoint_nostats(
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("comp", F.col("node"))
    )
    for _ in range(6):
        nbr = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("comp").alias("nc"))
        )
        spread = labels.join(nbr, "node", "left").select(
            "node", F.least("comp", F.coalesce("nc", F.col("comp"))).alias("comp")
        )
        jumped = spread.join(
            labels.select(F.col("node").alias("comp"), F.col("comp").alias("c2")),
            "comp",
        ).select("node", F.least("comp", "c2").alias("comp"))
        labels = checkpoint_nostats(jumped, eager=True)
        assert _stats_bits(labels) <= 64, "stats estimate grew across rounds"


def test_connected_components_distributed_rounds_bounded_stats(spark):
    """The real distributed loop (driver tier disabled) must keep per-round
    plans cheap to stat — and stay correct."""
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (12, 12)])
    out = connected_components(pairs, driver_threshold=0)
    got = {r["node"]: r["comp"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 12}
    assert _stats_bits(out) <= 64


def test_checkpoint_nostats_reliable_path(spark, tmp_path):
    """With a checkpoint dir configured, checkpoint_nostats auto-selects
    RELIABLE checkpoint (fault-tolerant blocks for cluster loops) and still
    strips inherited stats."""
    from crypto_market_data_etl_spark.materialize import checkpoint_nostats

    sc = spark.sparkContext
    old = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        base = spark.range(500).select(F.col("id").alias("k"))
        ck = checkpoint_nostats(base, eager=True)
        assert ck.count() == 500
        assert _stats_bits(ck) <= 64
        # reliable checkpoint writes RDD data under the configured dir
        import os

        wrote = any(files for _, _, files in os.walk(tmp_path / "ckpt"))
        assert wrote, "no reliable checkpoint data written"
        # explicit opt-out still works with a dir configured
        ck2 = checkpoint_nostats(base, reliable=False)
        assert ck2.count() == 500
    finally:
        if old:
            sc.setCheckpointDir(old)
        else:
            sc._jsc.sc().setCheckpointDir(None)
