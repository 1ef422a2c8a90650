"""Fixed-point integer PageRank (operators/pagerank.py)."""
from __future__ import annotations

from bodhium_webscrapper_spark.operators.pagerank import pagerank_fixed_point


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_hand_computed_two_iterations(spark):
    # A=0 -> B=1, B -> A, C=2 -> A; scale=1e6, d=85/100, base=150000.
    # iter1: rA = 150000 + 85*(1e6 + 1e6)//100 = 1850000
    #        rB = 150000 + 85*1e6//100       = 1000000
    #        rC = 150000
    # iter2: rA = 150000 + 85*(1000000 + 150000)//100 = 1127500
    #        rB = 150000 + 85*1850000//100            = 1722500
    e = _edges(spark, [(0, 1), (1, 0), (2, 0)])
    got = {r["id"]: r["rank"] for r in
           pagerank_fixed_point(e, iterations=2).collect()}
    assert got == {0: 1127500, 1: 1722500, 2: 150000}


def test_pagerank_multigraph_and_determinism(spark):
    # Parallel edges each contribute; rerun under different shuffle
    # partitioning must be bit-identical (the whole point of fixed-point).
    pairs = [(i, (i * 7 + 3) % 50) for i in range(50)] * 2 + [(i, 0) for i in range(0, 50, 5)]
    e = _edges(spark, pairs)
    a = {r["id"]: r["rank"] for r in pagerank_fixed_point(e, iterations=4).collect()}
    b = {r["id"]: r["rank"] for r in
         pagerank_fixed_point(e.repartition(7, "dst"), iterations=4).collect()}
    assert a == b
    assert a[0] == max(a.values())  # the planted hub dominates


def test_pagerank_checkpoint_every_same_result(spark):
    e = _edges(spark, [(i, (i * 3 + 1) % 20) for i in range(20)])
    a = {r["id"]: r["rank"] for r in pagerank_fixed_point(e, iterations=6).collect()}
    b = {r["id"]: r["rank"] for r in
         pagerank_fixed_point(e, iterations=6, checkpoint_every=2).collect()}
    assert a == b


def test_hits_hand_computed_two_iterations(spark):
    # 1->3, 2->3, 3->4; scale=1e6, max-normalized each half-step.
    # iter1: auth_raw = {3: 2e6, 4: 1e6}, mx=2e6 -> div 2: {3: 1e6, 4: 5e5}
    #        hub_raw  = {1: 1e6, 2: 1e6, 3: 5e5}, mx=1e6 -> div 1 (unchanged)
    # iter2: auth_raw = {3: 2e6, 4: 5e5}, mx=2e6 -> {3: 1e6, 4: 25e4}
    #        hub_raw  = {1: 1e6, 2: 1e6, 3: 25e4}, mx=1e6 -> unchanged
    from bodhium_webscrapper_spark.operators.pagerank import hits_fixed_point

    e = _edges(spark, [(1, 3), (2, 3), (3, 4)])
    got = {r["id"]: (r["hub"], r["auth"]) for r in
           hits_fixed_point(e, iterations=2).collect()}
    assert got == {
        1: (1_000_000, 0),
        2: (1_000_000, 0),
        3: (250_000, 1_000_000),
        4: (0, 250_000),
    }


def test_hits_ceiling_divisor_keeps_scores_in_scale(spark):
    # 1->3, 2->3, 1->4; scale=1e6. auth_raw = {3: 2e6, 4: 1e6} -> div 2;
    # hub_raw = {1: 1.5e6, 2: 1e6}: scale < mx < 2*scale, so the ceiling
    # divisor is 2 (a floor divisor of 1 would leave hub 1 at 1.5e6)
    from bodhium_webscrapper_spark.operators.pagerank import hits_fixed_point

    e = _edges(spark, [(1, 3), (2, 3), (1, 4)])
    got = {r["id"]: (r["hub"], r["auth"]) for r in
           hits_fixed_point(e, iterations=1).collect()}
    assert got == {
        1: (750_000, 0),
        2: (500_000, 0),
        3: (0, 1_000_000),
        4: (0, 500_000),
    }
    for scale in (7, 1_000_000):
        rows = hits_fixed_point(e, iterations=3, scale=scale).collect()
        assert all(0 <= r["hub"] <= scale and 0 <= r["auth"] <= scale for r in rows)


def test_hits_determinism_and_checkpoint(spark):
    from bodhium_webscrapper_spark.operators.pagerank import hits_fixed_point

    pairs = [(i, (i * 7 + 3) % 50) for i in range(50)] * 2 + [
        (i, 0) for i in range(0, 50, 5)
    ]
    e = _edges(spark, pairs)
    a = sorted(map(tuple, hits_fixed_point(e, iterations=3).collect()))
    b = sorted(map(tuple, hits_fixed_point(
        e.repartition(7), iterations=3, checkpoint_every=1).collect()))
    assert a == b
    # the planted in-degree hub target (node 0) is the top authority
    top_auth = max(a, key=lambda r: r[2])[0]
    assert top_auth == 0
