"""Expression-form references for the Arrow vector operators.

Each function states an operator's semantics with Spark expressions only —
the module's ``_dot`` fold, ``with_norm``, cross joins and windows — so a
test can hold the operator's Arrow sweep to it bit for bit: the sweeps
replay the fold's FP sequence, and rounding and ranking run in the same
Spark expressions on both sides.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from crypto_market_data_etl_spark.operators.similarity import _dot, with_norm


def _floored_norm(v):
    return F.greatest(F.sqrt(_dot(v, v)), F.lit(1e-12))


def _centered(v, mean):
    if mean is None:
        return v
    m = F.array(*[F.lit(float(x)) for x in mean])
    return F.zip_with(v, m, lambda x, y: x - y)


def cosine_topk_fold(corpus, queries, id_col="vec_id", vec_col="embedding", k=5):
    """``cosine_topk``: every (query, corpus) pair except the self pair,
    6dp-rounded cosine, ranked by (sim desc, n_id). NULL ids fail the
    ``q_id != n_id`` filter; NULL vectors give NULL sims, ranked last."""
    q = with_norm(queries, vec_col, "q_norm").select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        "q_norm",
    )
    c = with_norm(corpus, vec_col, "c_norm").select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"), "c_norm"
    )
    sim = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        c.crossJoin(q)
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("sim", F.round(sim, 6))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "rnk", "sim")
    )


def nearest_cells_fold(side, sid, svec, centroids, n, mean=None):
    """The IVF cell rule: each row of ``side`` with its ``n`` nearest
    ``(c_id, c_vec)`` centroids by 6dp cosine in assignment space (centered
    by ``mean`` when given; both norms floored at 1e-12), ties to the lowest
    ``c_id``; one ``c_id`` column appended."""
    av = _centered(F.col(svec), mean)
    sim = _dot(av, F.col("c_vec")) / (
        _floored_norm(av) * _floored_norm(F.col("c_vec"))
    )
    w = Window.partitionBy(sid).orderBy(F.col("c_sim").desc(), F.col("c_id"))
    return (
        side.crossJoin(F.broadcast(centroids.select("c_id", "c_vec")))
        .withColumn("c_sim", F.round(sim, 6))
        .withColumn("c_rnk", F.row_number().over(w))
        .filter(F.col("c_rnk") <= n)
        .drop("c_vec", "c_sim", "c_rnk")
    )


def ivf_ann_topk_fold(
    df, queries, centroids, id_col="vec_id", vec_col="embedding",
    n_probe=2, k=3, mean=None,
):
    """``ivf_ann_topk`` with the cell rule on both sides: the corpus files
    into its nearest cell, each query probes its ``n_probe`` nearest, and
    the probed cells' members rank by raw 6dp cosine (sim desc, n_id)."""
    inv = nearest_cells_fold(
        df.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")),
        "n_id", "n_vec", centroids, 1, mean,
    )
    probes = nearest_cells_fold(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        "q_id", "q_vec", centroids, n_probe, mean,
    )
    sim = _dot(F.col("q_vec"), F.col("n_vec")) / (
        F.sqrt(_dot(F.col("q_vec"), F.col("q_vec")))
        * F.sqrt(_dot(F.col("n_vec"), F.col("n_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        probes.join(inv, "c_id")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("sim", F.round(sim, 6))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "rnk", "sim")
    )


def semantic_dedup_fold(
    df, id_col="vec_id", vec_col="embedding", threshold=0.9,
    centroid_filter=None, max_reps=256, round_dp=6, center_vec=None,
):
    """``semantic_dedup``: assignment = argmax ``round_dp`` cosine in
    assignment space (centered by ``center_vec``; floored norms), ties to
    the lowest ``c_id``; reps = each cluster's ``max_reps`` smallest ids;
    verdict = drop iff a lower-id rep's raw rounded cosine reaches
    ``threshold``. Output ``(id, cluster_id, keep)``."""
    if centroid_filter is None:
        centroid_filter = F.col(id_col) % 50 == 1
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("ev")
    ).withColumn("__va", _centered(F.col("ev"), center_vec))
    cents = df.filter(centroid_filter).select(
        F.col(id_col).alias("c_id"),
        _centered(F.col(vec_col).cast("array<double>"), center_vec).alias("__ca"),
    )
    c_sim = F.round(
        _dot(F.col("__va"), F.col("__ca"))
        / (_floored_norm(F.col("__va")) * _floored_norm(F.col("__ca"))),
        round_dp,
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__c_sim").desc(), F.col("c_id"))
    assign = (
        vecs.crossJoin(cents)
        .withColumn("__c_sim", c_sim)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(F.col(id_col), "ev", F.col("c_id").alias("cluster_id"))
        .withColumn("__n", F.sqrt(_dot(F.col("ev"), F.col("ev"))))
    )
    reps = (
        assign.withColumn(
            "__rep_rn",
            F.row_number().over(Window.partitionBy("cluster_id").orderBy(id_col)),
        )
        .filter(F.col("__rep_rn") <= max_reps)
        .select(
            F.col(id_col).alias("__rep_id"), F.col("ev").alias("rv"),
            F.col("__n").alias("__rn"), "cluster_id",
        )
    )
    pair_sim = F.round(
        _dot(F.col("ev"), F.col("rv")) / (F.col("__n") * F.col("__rn")), round_dp
    )
    dropped = (
        assign.join(reps, "cluster_id")
        .filter(F.col("__rep_id") < F.col(id_col))
        .filter(pair_sim >= threshold)
        .select(id_col)
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assign.join(dropped, id_col, "left").select(
        F.col(id_col), "cluster_id", F.col("__dropped").isNull().alias("keep")
    )
