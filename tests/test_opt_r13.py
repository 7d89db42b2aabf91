"""Round-13 optimization contracts.

1. `graph.connected_components` now has two paths — the size-gated
   driver fast path (vectorized numpy min-label) and the reworked
   distributed frontier loop (co-partitioned checkpoints, fused
   changed-flag). Both must produce the identical min-id labeling, on
   cluster-ish graphs AND on long chains (the pointer-jumping
   convergence bound the loop's max_iter relies on).
2. `sessionize_scalable` guards its boundary-stitch collect with the
   documented cap (the collect is <= 2 rows/partition by construction;
   the cap makes the bound loud instead of assumed).
"""

import pytest
from pyspark.sql import functions as F

from pipelinedp_spark.operators import graph


def _cc(spark, edges, **conf):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        out = {(r["node"], r["component"])
               for r in graph.connected_components(df).collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


GRAPHS = [
    # two triangles + a bridge + an isolated edge
    [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10),
     (100, 101)],
    # star
    [(5, 1), (5, 2), (5, 3), (5, 4)],
    # duplicate + reversed edges
    [(1, 2), (2, 1), (1, 2), (7, 8)],
    # self-loop only
    [(4, 4)],
]


@pytest.mark.parametrize("edges", GRAPHS)
def test_cc_driver_and_distributed_paths_agree(spark, edges):
    fast = _cc(spark, edges)
    dist = _cc(spark, edges,
               **{"spark.pipelinedp.graph.maxDriverEdges": "0"})
    assert fast == dist
    # labels are component minima
    comp_members: dict = {}
    for n, c in fast:
        comp_members.setdefault(c, []).append(n)
    for c, members in comp_members.items():
        assert c == min(members)


def test_cc_distributed_long_chain_converges(spark):
    """A 300-node path graph has diameter 299: plain propagation would
    blow max_iter=25, so this pins that the reworked loop kept pointer
    jumping's logarithmic collapse."""
    edges = [(i, i + 1) for i in range(300)]
    dist = _cc(spark, edges,
               **{"spark.pipelinedp.graph.maxDriverEdges": "0"})
    assert dist == {(i, 0) for i in range(301)}


def test_cc_empty_edges_both_paths(spark):
    assert _cc(spark, [],) == set()
    assert _cc(spark, [],
               **{"spark.pipelinedp.graph.maxDriverEdges": "0"}) == set()


def test_sessionize_scalable_boundary_cap_guard(spark):
    from pipelinedp_spark.operators.sessions import sessionize_scalable
    df = spark.range(100).select(
        (F.col("id") % 5).alias("uid"), F.col("id").alias("ts"))
    spark.conf.set("spark.pipelinedp.sessions.maxBoundaryRows", "7")
    try:
        with pytest.raises(ValueError, match="maxBoundaryRows"):
            sessionize_scalable(df, "ts", "uid", gap=10, num_partitions=4)
        # within the cap still works
        out = sessionize_scalable(df, "ts", "uid", gap=10,
                                  num_partitions=3)
        assert out.count() == 100
    finally:
        spark.conf.unset("spark.pipelinedp.sessions.maxBoundaryRows")
