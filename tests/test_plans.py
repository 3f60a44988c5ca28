"""Physical-plan regression tests: the optimizations we rely on at scale must
be visible in the executed plan, not assumed (SURVEY §4)."""


from crypto_market_data_etl_spark.plans import core, extensions
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_scan_prunes_columns_and_pushes_filter(spark):
    plan = _plan(core.q01_pricing_summary(spark, SF_SMOKE))
    # column pruning: the untouched columns must not be read
    assert "l_comment" not in plan and "l_orderkey" not in plan
    # the shipdate predicate reaches the scan (data filter on the file source)
    assert "l_shipdate" in plan.split("FileScan")[1]


def test_q02_dimension_joins_broadcast(spark):
    plan = _plan(core.q02_revenue_by_nation(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q09_asof_is_equi_join_not_nested_loop(spark):
    plan = _plan(core.q09_flagship(spark, SF_SMOKE))
    # the band condition must NOT degrade to a nested-loop/cartesian join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # rank-1 dedupe is planned as a group-limit, not a full sort-rank-filter
    assert "WindowGroupLimit" in plan


def test_q29_adaptive_asof_is_equi_join_not_nested_loop(spark):
    plan = _plan(core.q29_asof_adaptive(spark, SF_SMOKE))
    # the interval formulation must also stay an equi-join on (key, bucket);
    # its per-key stats/lead sides broadcast (tiny dims), never nested-loop
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q09_single_shuffle_for_bars(spark):
    plan = _plan(core.q08_dollar_bars(spark, SF_SMOKE))
    # cumsum + bar agg reuse the same user_id hash partitioning: exactly one
    # exchange on the events scan side (plus AQE reads)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan


def test_x02_candidates_via_equi_join(spark):
    plan = _plan(extensions.x02_minhash_pairs(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_x05_broadcasts_query_side_only(spark):
    # brute-force top-k: the corpus side must never shuffle before scoring.
    # r15 sweep: the query side is driver-collected into the
    # MapInArrow closure, the corpus streams straight into it — no join
    # node at all, and the only Exchange is the per-query rank window over
    # the bounded candidate set
    plan = _plan(extensions.x05_embedding_topk(spark, SF_SMOKE))
    assert "MapInArrow" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    scoring = plan.split("MapInArrow")[-1]  # below = corpus side
    assert "Exchange" not in scoring.split("Scan parquet")[0]


def test_partition_filters_reach_scan(spark, tmp_path):
    from crypto_market_data_etl_spark.sources.files import (
        read_partitioned,
        write_partitioned,
    )

    path = str(tmp_path / "p")
    df = spark.createDataFrame(
        [("2024-01-0%d" % (i % 3 + 1), "K", float(i)) for i in range(30)],
        "processing_date string, code string, v double",
    )
    write_partitioned(df, path, ["processing_date"])
    got = read_partitioned(spark, path, processing_date="2024-01-02")
    plan = _plan(got)
    assert "PartitionFilters" in plan and "2024-01-02" in plan
    assert got.count() == 10


def test_ts_bounds_fallback_key_is_invalidatable(spark):
    """The non-local stat-fallback memo key (sf_dir, 0, 0) is served under an
    immutable-dir contract; clear_ts_bounds_cache must evict it (round-5
    verdict: object-store path overwrites would otherwise read stale
    bounds forever)."""
    from crypto_market_data_etl_spark.plans.core import (
        _TS_BOUNDS,
        clear_ts_bounds_cache,
    )

    # simulate the object-store fallback entries directly (os.stat succeeds
    # on every local path, so the fallback key cannot arise from a real dir)
    _TS_BOUNDS[("s3://bucket/sfX", 0, 0)] = (1, 2)
    _TS_BOUNDS[("s3://bucket/sfY", 0, 0)] = (3, 4)
    assert clear_ts_bounds_cache("s3://bucket/sfX") == 1
    assert ("s3://bucket/sfX", 0, 0) not in _TS_BOUNDS
    assert ("s3://bucket/sfY", 0, 0) in _TS_BOUNDS  # scoped clear
    assert clear_ts_bounds_cache() >= 1  # full clear drains the memo
    assert not _TS_BOUNDS
