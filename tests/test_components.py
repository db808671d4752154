"""Connected components / dedup clustering (operators/components.py)."""

import random

from pyspark.sql import functions as F

from sf_datalake_spark.operators.components import (
    connected_components,
    dedup_clusters,
)


def _components_dict(spark, edges):
    df = spark.createDataFrame(edges, "id_1 bigint, id_2 bigint")
    small = {r["id"]: r["component"] for r in connected_components(df).collect()}
    # driver_threshold=0 forces the distributed hash-min loop; the
    # adaptive small-graph union-find must agree exactly on every case
    dist = {
        r["id"]: r["component"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert dist == small
    return small


def _union_find(edges):
    """Reference implementation: plain union-find, min-id labels."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_chain_and_islands(spark):
    # A 5-chain (diameter > 1 forces multiple propagation rounds), a
    # separate pair, and a triangle sharing no nodes.
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)]
    got = _components_dict(spark, edges)
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_long_chain_converges(spark):
    # 40-node chain with ids DESCENDING so the min label must travel the
    # whole chain length against the edge direction.
    edges = [(i + 1, i) for i in range(1, 40)]
    got = _components_dict(spark, edges)
    assert set(got.values()) == {1}
    assert len(got) == 40


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(100))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _components_dict(spark, edges) == _union_find(edges)


def test_dedup_clusters_singletons_and_canonicals(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id bigint")
    pairs = spark.createDataFrame([(1, 3), (3, 5), (6, 7)], "id_1 bigint, id_2 bigint")
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    # clustered: {1,3,5}→1, {6,7}→6; the rest are their own singleton cluster
    assert out == {
        0: (0, 1), 1: (1, 1), 2: (2, 1), 3: (1, 0), 4: (4, 1),
        5: (1, 0), 6: (6, 1), 7: (6, 0),
    }


def test_cluster_label_is_component_min(spark):
    # Every cluster id must be a member of its own cluster and its min.
    edges = [(3, 9), (9, 27), (5, 25), (25, 125), (2, 4)]
    df = spark.createDataFrame(edges, "id_1 bigint, id_2 bigint")
    comp = connected_components(df)
    mins = comp.groupBy("component").agg(F.min("id").alias("mn")).collect()
    assert all(r["component"] == r["mn"] for r in mins)


def _pagerank_dict(spark, edges, **kw):
    from sf_datalake_spark.operators.components import pagerank

    df = spark.createDataFrame(edges, "id_1 bigint, id_2 bigint")
    small = {r["id"]: r["rank"] for r in pagerank(df, **kw).collect()}
    dist = {r["id"]: r["rank"]
            for r in pagerank(df, driver_threshold=0, **kw).collect()}
    assert small.keys() == dist.keys()
    for k in small:
        assert abs(small[k] - dist[k]) < 1e-12, k
    return small


def test_pagerank_ppm_paths_agree_and_fixpoints(spark):
    """Integer fixed-point PageRank (round 6, the oracle-exact variant):
    the driver and distributed paths must produce IDENTICAL int64
    ranks (no float tolerance — that is the whole point); a directed
    ring is a stable fixpoint at exactly 1_000_000 ppm; a symmetrized
    star ranks the hub above the leaves with leaves tied exactly."""
    from sf_datalake_spark.operators.components import pagerank_ppm

    def both(edges, **kw):
        df = spark.createDataFrame(edges, "id_1 bigint, id_2 bigint")
        small = {r["id"]: r["rank_ppm"]
                 for r in pagerank_ppm(df, **kw).collect()}
        dist = {r["id"]: r["rank_ppm"]
                for r in pagerank_ppm(df, driver_threshold=0, **kw).collect()}
        assert small == dist  # exact integer equality across paths
        return small

    ring = both([(i, (i + 1) % 5) for i in range(5)])
    assert ring == {i: 1_000_000 for i in range(5)}

    star = [(i, 0) for i in range(1, 6)] + [(0, i) for i in range(1, 6)]
    got = both(star)
    assert all(got[0] > got[i] for i in range(1, 6))
    assert len({got[i] for i in range(1, 6)}) == 1  # exact leaf tie


def test_pagerank_ring_is_uniform(spark):
    # A directed ring: perfect symmetry → uniform ranks, sum 1.
    edges = [(i, (i + 1) % 5) for i in range(5)]
    got = _pagerank_dict(spark, edges)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in got.values():
        assert abs(v - 0.2) < 1e-12


def test_pagerank_hub_attracts_mass(spark):
    # Star pointing at node 0: 0 outranks every leaf; mass conserved
    # (0 is dangling → its mass redistributes uniformly).
    edges = [(i, 0) for i in range(1, 6)]
    got = _pagerank_dict(spark, edges)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert all(got[0] > got[i] for i in range(1, 6))
    leaf = [got[i] for i in range(1, 6)]
    assert max(leaf) - min(leaf) < 1e-12  # symmetric leaves tie


def test_resolve_duplicates_quality_policy(spark):
    from sf_datalake_spark.operators.components import resolve_duplicates

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5)], "doc_id long, n_chars long"
    )
    # clusters: {1,2,3} labeled 1; singleton 4
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, cluster_id long"
    )
    out = {r["doc_id"]: r for r in resolve_duplicates(
        docs, clusters, "doc_id", "n_chars"
    ).collect()}
    # longest wins; 30-char tie between 2 and 3 breaks to min id 2
    assert out[2]["keep"] == 1 and out[1]["keep"] == 0 and out[3]["keep"] == 0
    assert {out[i]["kept_id"] for i in (1, 2, 3)} == {2}
    assert out[4]["keep"] == 1 and out[4]["kept_id"] == 4


def test_triangle_stats_known_graph(spark):
    from sf_datalake_spark.operators.components import triangle_stats

    # K4 on {1,2,3,4} (4 triangles, clustering 1.0 everywhere) plus a
    # pendant 5-6 edge and a path node 7 hanging off 1.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 6), (1, 7)]
    # duplicates / reversed duplicates must not double-count
    edges += [(2, 1), (3, 1)]
    df = spark.createDataFrame(edges, "id_1 long, id_2 long")
    out = {r["id"]: r for r in triangle_stats(df).collect()}
    assert out[2]["degree"] == 3 and out[2]["triangles"] == 3
    assert out[2]["clustering"] == 1.0
    assert out[1]["degree"] == 4 and out[1]["triangles"] == 3
    # 1 has degree 4 incl. pendant 7: clustering 2*3/(4*3) = 0.5
    assert out[1]["clustering"] == 0.5
    assert out[5]["triangles"] == 0 and out[5]["clustering"] == 0.0
    assert out[7]["degree"] == 1 and out[7]["clustering"] == 0.0
    # total triangle mass: each triangle counted once per member
    assert sum(r["triangles"] for r in out.values()) == 3 * 4


def test_driver_path_results_are_jvm_frames(spark):
    """Driver-built results keep their DDL schema, stay typed when
    empty, and are backed by an Arrow relation: no PythonRDD in their
    lineage, so actions over them start no Python worker."""
    from pyspark.sql.types import StructType

    from sf_datalake_spark.operators.components import (
        core_numbers,
        k_core,
        pagerank,
        pagerank_ppm,
    )

    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "id_1 bigint, id_2 bigint")
    none = spark.createDataFrame([], "id_1 string, id_2 string")
    cases = [
        (connected_components(tri), "id bigint, component bigint", 3),
        (k_core(tri, 2), "id bigint, core_degree int", 3),
        (core_numbers(tri), "id bigint, core int", 3),
        (pagerank(tri), "id bigint, rank double", 3),
        (pagerank_ppm(tri, "id_1", "id_2"), "id bigint, rank_ppm bigint", 3),
        (pagerank(none), "id string, rank double", 0),
        (k_core(none, 2), "id string, core_degree int", 0),
    ]
    for df, ddl, n in cases:
        assert df.schema == StructType.fromDDL(ddl)
        assert df.count() == n
        lineage = df._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, ddl
