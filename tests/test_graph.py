from __future__ import annotations

import numpy as np
from conftest import SF_ORACLE

from etl_addresses_spark.operators import graph


def _numpy_pagerank(edges, iters, damping):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for a, _ in edges:
        out[idx[a]] += 1
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        recv = np.zeros(n)
        for a, b in edges:
            recv[idx[b]] += rank[idx[a]] / out[idx[a]]
        dangling = rank[out == 0].sum()
        rank = (1 - damping) / n + damping * dangling / n + damping * recv
    return {n_: rank[idx[n_]] for n_ in nodes}


def test_pagerank_matches_dense_power_iteration(spark):
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    edges = spark.createDataFrame(rows, "from_id string, to_id string")
    got = {r.node: r.rank for r in graph.pagerank(edges, iters=8).collect()}
    want = _numpy_pagerank(rows, iters=8, damping=graph.DAMPING)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-12, (n, got[n], want[n])


def test_pagerank_empty_edges_is_empty(spark):
    # no edges -> no nodes -> no ranks (pagerank_oracle_sql's answer);
    # the frames cached for the loop must not outlive the call
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    edges = spark.createDataFrame([], "from_id string, to_id string")
    out = graph.pagerank(edges)
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("node", "string"),
        ("rank", "double"),
    ]
    assert set(jsc.getPersistentRDDs().keySet()) == before


def test_pagerank_mass_conserved_and_deterministic(spark):
    from etl_addresses_spark.operators.graph import pagerank_relations

    pr = pagerank_relations(spark, SF_ORACLE)
    rows = pr.collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-9, f"rank mass must be conserved, got {total}"
    # sinks (streets) must outrank pure sources (object ids)
    ranks = dict((r.node, r.rank) for r in rows)
    street_avg = np.mean([v for k, v in ranks.items() if k.startswith("nyc-streets/")])
    source_avg = np.mean(
        [v for k, v in ranks.items() if not k.startswith(("nyc-streets/", "building-"))]
    )
    assert street_avg > source_avg
    rerun = {r.node: r.rank for r in pagerank_relations(spark, SF_ORACLE).collect()}
    assert rerun == ranks, "decimal-summed contributions must make reruns identical"


def test_labelprop_partitions_all_nodes(spark, ddb):
    """LPA output is a partition of the node set: sizes sum to the
    node count, every community label is a live node id, and the
    whole histogram matches the unrolled-CTE oracle exactly."""
    from conftest import SF_ORACLE, assert_frames_match

    from etl_addresses_spark.operators.graph import (
        graph_communities_labelprop,
        labelprop_oracle_sql,
    )

    out = graph_communities_labelprop(spark, SF_ORACLE).cache()
    assert_frames_match(out, ddb.sql(labelprop_oracle_sql()))
    n_nodes = ddb.sql(
        """SELECT count(DISTINCT p) FROM (
             SELECT l_partkey AS p FROM lineitem
             WHERE l_orderkey IN (SELECT l_orderkey FROM lineitem
                                  GROUP BY l_orderkey
                                  HAVING count(DISTINCT l_partkey) > 1))"""
    ).fetchone()[0]
    rows = out.collect()
    assert sum(r["size"] for r in rows) == n_nodes
    out.unpersist()
