"""Connected-components / dedup-cluster resolution tests
(operators/graph.py) on crafted graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adsmasterpipeline_spark.operators.graph import (
    connected_components, dedup_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_chain_converges_to_min_label(spark):
    # path 1-2-3-4-5 plus separate triangle 10-11-12
    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5),
                           (10, 11), (11, 12), (10, 12)])
    comp = {r["id"]: r["component"]
            for r in connected_components(edges).collect()}
    assert all(comp[i] == 1 for i in (1, 2, 3, 4, 5))
    assert all(comp[i] == 10 for i in (10, 11, 12))


def test_direction_and_self_loops_ignored(spark):
    edges = _edges(spark, [(7, 3), (3, 3), (9, 7)])
    comp = {r["id"]: r["component"]
            for r in connected_components(edges).collect()}
    assert comp == {3: 3, 7: 3, 9: 3}


def test_dedup_clusters_keeper_and_isolated(spark):
    all_ids = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 4), (4, 6)], "id_a long, id_b long")
    out = {r["doc_id"]: r for r in
           dedup_clusters(pairs, all_ids).collect()}
    assert len(out) == 8
    for i in (1, 4, 6):
        assert out[i]["cluster_id"] == 1
        assert out[i]["cluster_size"] == 3
    assert out[1]["is_keeper"] and not out[4]["is_keeper"]
    for i in (0, 2, 3, 5, 7):  # isolated docs form singleton clusters
        assert out[i]["cluster_id"] == i
        assert out[i]["cluster_size"] == 1
        assert out[i]["is_keeper"]


def test_cluster_keeper_quality_prefers_longest(spark):
    """Keeper = longest doc in the cluster, not min id (sf0.001)."""
    from adsmasterpipeline_spark.queries import REGISTRY, _load
    _load()
    clusters = REGISTRY["dedup_clusters"].spark_fn(
        spark, "/root/testdata/sf0.001")
    keepers = REGISTRY["cluster_keeper_quality"].spark_fn(
        spark, "/root/testdata/sf0.001")
    from adsmasterpipeline_spark.sources import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    joined = (clusters.join(docs, "doc_id")
              .groupBy("cluster_id")
              .agg(F.max("n_chars").alias("max_chars"),
                   F.count(F.lit(1)).alias("n")))
    merged = {r["cluster_id"]: r for r in
              keepers.join(joined, "cluster_id").collect()}
    assert merged, "no clusters resolved"
    for r in merged.values():
        assert r["keeper_n_chars"] == r["max_chars"]
        assert r["cluster_size"] == r["n"]


def test_long_chain_converges_logarithmically(spark):
    """Pointer jumping: a 64-node path (diameter 63) must converge in
    O(log d) rounds, not 63 (driver_cap=0 forces the distributed
    loop, which the union-find cutover would otherwise shortcut)."""
    edges = _edges(spark, [(i, i + 1) for i in range(63)])
    rounds = []
    comp = {r["id"]: r["component"] for r in
            connected_components(edges, rounds_out=rounds,
                                 driver_cap=0).collect()}
    assert all(v == 0 for v in comp.values())
    assert rounds[0] <= 9, f"took {rounds[0]} rounds for diameter 63"


def test_driver_unionfind_matches_distributed(spark):
    """The size-adaptive driver union-find path and the distributed
    label-propagation loop compute the identical (id, component) set
    on a graph mixing chains, a clique, self-loops and singletons."""
    pairs = ([(i, i + 1) for i in range(20)]            # path
             + [(100, 101), (101, 102), (100, 102)]     # triangle
             + [(200, 200)]                             # self-loop only
             + [(301, 300), (302, 300), (303, 302)])    # reversed star
    edges = _edges(spark, pairs)
    drv = {(r["id"], r["component"])
           for r in connected_components(edges).collect()}
    dist = {(r["id"], r["component"])
            for r in connected_components(edges, driver_cap=0).collect()}
    assert drv == dist
    assert drv, "empty component set"


def test_triangle_copurchase_hand_computed(spark, tmp_path):
    """Planted baskets: parts 1-2-3 pairwise co-occur in >= 2 orders
    (one triangle); part 4's single co-occurrence with 1 is below the
    support-2 threshold; part 5 has a supported edge to 2 but no
    closing wedge. Only the triangle's members appear, each with
    count 1."""
    from adsmasterpipeline_spark.queries.graph import triangle_copurchase

    orders = [
        (10, [1, 2]), (11, [1, 2]),
        (12, [1, 3]), (13, [1, 3]),
        (14, [2, 3]), (15, [2, 3]),
        (16, [1, 4]),               # w=1: pruned
        (17, [2, 5]), (18, [2, 5]),  # supported edge, no triangle
    ]
    rows = [(ok, pk) for ok, parts in orders for pk in parts]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    sf = str(tmp_path / "tri")
    df.coalesce(1).write.parquet(sf + "/lineitem.parquet")
    out = {r["part_key"]: r["tri_count"]
           for r in triangle_copurchase(spark, sf).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_pagerank_refuses_zero_iterations(spark):
    """The first PageRank iteration is unrolled and always runs, so
    iters=0 would silently compute one round, and the unrolled oracle
    would reference an undefined CTE. Both refuse it up front."""
    from adsmasterpipeline_spark.queries.graph import (
        _pagerank_sql, pagerank_supplier_customer,
    )

    for iters in (0, -1):
        with pytest.raises(ValueError, match="iters >= 1"):
            pagerank_supplier_customer(spark, "/nonexistent", iters=iters)
        with pytest.raises(ValueError, match="iters >= 1"):
            _pagerank_sql(iters)
