"""cluster_labels' per-round localCheckpoint keeps the logical plan
O(1) deep however many label-propagation rounds run — the lazy unroll
referenced `labels` twice per round, so its plan tree doubled every
round and a 9-round chain OOM'ed the JVM at plan-string generation —
and the labels it returns are exact."""

from mapreduce_go_spark.operators import dedup


def _njoins(df) -> int:
    # analyzed (pre-cache-substitution) plan: counts true lineage
    # depth; a localCheckpoint shows up as LogicalRDD (no upstream)
    return df._jdf.queryExecution().analyzed().toString().count("Join")


def test_cluster_labels_persisted_plan_depth(spark, sf_dir):
    """A 4-round chain and a 9-round chain both end in a plan holding
    only the final singleton stitch, and every chain node gets the
    chain's minimum as its label."""
    for n_edges in (4, 9):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n_edges)], "d1 long, d2 long")
        labels_df = dedup.cluster_labels(spark, sf_dir, pairs=pairs)
        assert _njoins(labels_df) <= 2, n_edges
        labels = dict(map(tuple, labels_df.collect()))
        assert all(labels[i] == 0 for i in range(n_edges + 1)), n_edges
        # documents off the chain are singletons labelled by their id
        assert all(v == k for k, v in labels.items() if k > n_edges)


def test_cluster_labels_leaves_no_cache_behind(spark, sf_dir):
    """r14 review: unpersist() was called on a plan derived from the
    cached round relation (a silent no-op from round 2 on), leaking
    one MEMORY_AND_DISK label relation per round until session end.
    After a full run on the default (checkpointing) path, the cache
    manager must hold nothing from this call."""
    from mapreduce_go_spark.operators import dedup

    spark.catalog.clearCache()
    dedup.cluster_labels(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
