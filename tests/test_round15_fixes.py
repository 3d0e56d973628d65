"""Round-15 optimization pins.

The ``small_graph_edges`` fast path of ``connected_components`` (a
driver-side union-find for symmetric edge tables under an explicit
bound — the graph analogue of a broadcast join) must be EXACTLY the
distributed loop's fixed point on every graph shape and id type, and
the bound must actually gate it.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from genetics_spark_coloc_spark.operators.graph import connected_components


def _labels(df) -> dict:
    return {r["id"]: r["component"] for r in df.collect()}


def test_fast_path_equals_loop_on_random_graphs(spark):
    for seed in (1, 9, 33):
        rng = random.Random(seed)
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(5, 80))
        ]
        verts = spark.range(n).select(F.col("id").cast("long").alias("id"))
        edf = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges] or [(0, 0)],
            "leftId long, rightId long",
        )
        stats: dict = {}
        fast = _labels(
            connected_components(
                verts, edf, until_converged=True, stats_out=stats
            )
        )
        assert "small_graph_fast_path_edges" in stats, stats
        assert stats["converged"] and stats["propagations"] == 0
        slow = _labels(
            connected_components(
                verts, edf, until_converged=True, small_graph_edges=0
            )
        )
        assert fast == slow, f"seed {seed}"


def test_fast_path_string_ids_and_isolated_vertices(spark):
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",)], "id string"
    )
    edf = spark.createDataFrame(
        [("b", "c"), ("c", "a")], "leftId string, rightId string"
    )
    got = _labels(connected_components(verts, edf, until_converged=True))
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "e"}


def test_fast_path_bound_gates_to_the_loop(spark):
    """A symmetric table larger than the bound must take the
    distributed loop (stats carries no fast-path marker) and still
    produce the identical labeling."""
    verts = spark.range(10).select(F.col("id").cast("long").alias("id"))
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "leftId long, rightId long"
    )
    stats: dict = {}
    # 9 edges symmetrize to 18 rows > bound 4 -> loop
    out = _labels(
        connected_components(
            verts,
            edf,
            until_converged=True,
            small_graph_edges=4,
            stats_out=stats,
        )
    )
    assert "small_graph_fast_path_edges" not in stats
    assert stats["propagations"] > 0
    assert out == {i: 0 for i in range(10)}


def test_closure_fast_path_equals_loop_on_random_dags(spark):
    """transitive_closure's bounded-local fast path must return the
    exact distributed closure on random DAGs (edges always point to a
    smaller id, so acyclic), including group_cols grouping."""
    from genetics_spark_coloc_spark.operators.ontology import (
        transitive_closure,
    )

    for seed in (2, 11):
        rng = random.Random(seed)
        n = 30
        edges = [
            (b, rng.randrange(b))  # child -> strictly smaller parent
            for b in range(1, n)
            for _ in range(rng.randrange(0, 3))
        ]
        edf = spark.createDataFrame(
            [(str(a), str(b)) for a, b in edges] or [("1", "0")],
            "subject string, object string",
        )
        fast = sorted(
            map(tuple, transitive_closure(edf).collect())
        )
        slow = sorted(
            map(tuple, transitive_closure(edf, small_graph_edges=0).collect())
        )
        assert fast == slow, f"seed {seed}"
    # group_cols: two disjoint tagged forests close independently
    tagged = spark.createDataFrame(
        [("g1", "b", "a"), ("g1", "c", "b"), ("g2", "c", "b")],
        "_g string, subject string, object string",
    )
    fast = sorted(map(tuple, transitive_closure(
        tagged, group_cols=("_g",)).collect()))
    slow = sorted(map(tuple, transitive_closure(
        tagged, group_cols=("_g",), small_graph_edges=0).collect()))
    assert fast == slow
    assert ("g1", "c", "a") in fast and ("g2", "c", "a") not in fast


def test_closure_fast_path_cycle_falls_back_and_max_pairs_raises(spark):
    from genetics_spark_coloc_spark.operators.ontology import (
        transitive_closure,
    )

    # a 2-cycle: the local DFS declines; the distributed
    # distinct-fixpoint loop converges to the 4-pair closure
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "subject string, object string"
    )
    got = sorted(map(tuple, transitive_closure(cyc).collect()))
    assert got == [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]
    # max_pairs is enforced INSIDE the local path too (same message)
    import pytest as _pytest
    from pyspark.sql import functions as _F

    chain = spark.range(39).select(
        _F.col("id").cast("string").alias("subject"),
        (_F.col("id") + 1).cast("string").alias("object"),
    )
    with _pytest.raises(RuntimeError, match="max_pairs"):
        transitive_closure(chain, max_pairs=100)
    # over driver_pair_bound but under max_pairs: silently falls back
    # to the distributed loop with the full closure intact
    assert (
        transitive_closure(chain, driver_pair_bound=10).count()
        == 40 * 39 // 2
    )


def test_fast_path_duplicate_and_self_edges(spark):
    verts = spark.range(4).select(F.col("id").cast("long").alias("id"))
    edf = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 2), (1, 2)],
        "leftId long, rightId long",
    )
    got = _labels(
        connected_components(verts, edf, until_converged=True,
                             dedup_edges=False)
    )
    assert got == {0: 0, 1: 1, 2: 1, 3: 3}


def test_fast_path_equals_loop_with_null_endpoints(spark):
    """Edges with a NULL endpoint connect nothing: the driver-side
    union-find must not crash on them and must label exactly as the
    distributed loop does."""
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "id string"
    )
    edf = spark.createDataFrame(
        [("b", "a"), ("c", None), (None, "d"), (None, None)],
        "leftId string, rightId string",
    )
    stats: dict = {}
    fast = _labels(
        connected_components(verts, edf, until_converged=True, stats_out=stats)
    )
    assert "small_graph_fast_path_edges" in stats, stats
    slow = _labels(
        connected_components(
            verts, edf, until_converged=True, small_graph_edges=0
        )
    )
    assert fast == slow == {"a": "a", "b": "a", "c": "c", "d": "d"}
