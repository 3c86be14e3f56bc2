"""salted_join must equal the plain join, and widen the join key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazonredshift_blueprints_spark.operators.skew import salted_join
from amazonredshift_blueprints_spark.session import load_table


def _agg(df):
    return {
        r["o_orderstatus"]: r["n"]
        for r in df.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    plain = li.join(o, li.l_orderkey == o.o_orderkey)
    salted = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=4)
    assert _agg(salted) == _agg(plain)
    assert salted.count() == plain.count()
    assert set(salted.columns) == set(plain.columns)


def test_salted_join_left_keeps_unmatched(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .filter(F.col("o_orderkey") % 2 == 0)
    )
    plain = li.join(o, li.l_orderkey == o.o_orderkey, "left")
    salted = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=4, how="left")
    assert salted.count() == plain.count()
    assert (
        salted.filter(F.col("o_orderstatus").isNull()).count()
        == plain.filter(F.col("o_orderstatus").isNull()).count()
    )


def test_salted_join_salts_the_key(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    salted = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=4)
    plan = salted._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan  # the widened key is real, not optimized away


def test_salted_join_rejects_unsupported_how(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError):
        salted_join(li, li, "l_orderkey", "l_orderkey", how="full")


def test_pagerank_star_graph(spark):
    """Integer PageRank: on a symmetric star the hub outranks every
    leaf, leaves tie exactly (determinism), and total mass equals
    teleport*N + floor-summed flow (no nondeterministic drift)."""
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.graph import pagerank

    pairs = [(0, i) for i in range(1, 4)]
    edges = spark.createDataFrame(
        pairs + [(d, s) for s, d in pairs], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    assert set(ranks) == {0, 1, 2, 3}
    assert ranks[1] == ranks[2] == ranks[3]
    assert ranks[0] > ranks[1]
    # hub absorbs the three leaves' full damped mass each round; each
    # leaf gets a third of the hub's — ranks are exactly reproducible
    again = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    assert again == ranks


def test_pagerank_dangling_policies(spark):
    """Dangling-node policies (r10 verdict item 9) on a 3-node chain
    0->1->2 where node 2 dangles: 'error' raises naming the count,
    'self' conserves node 2's mass via a self-loop, 'redistribute'
    spreads floor(mass*d/(100*N)) to every node each round — each
    deterministic (exact re-run equality)."""
    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    from amazonredshift_blueprints_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="1 dangling node"):
        pagerank(edges, iterations=2)
    with pytest.raises(ValueError, match="unknown dangling policy"):
        pagerank(edges, iterations=1, dangling="nope")

    # 'self': replay the integer recurrence by hand. r0 = 1e6 each.
    # outdeg: 0->1, 1->1, 2->1 (self-loop). teleport = 150000.
    def step_self(r):
        c = {1: r[0] * 85 // 100, 2: r[1] * 85 // 100}
        c[2] = c[2] + 0  # node 2 also receives its own damped mass
        return {
            0: 150000,
            1: 150000 + r[0] * 85 // 100,
            2: 150000 + r[1] * 85 // 100 + r[2] * 85 // 100,
        }

    r = {0: 1000000, 1: 1000000, 2: 1000000}
    for _ in range(3):
        r = step_self(r)
    got = {
        x["node"]: x["rank"]
        for x in pagerank(edges, iterations=3, dangling="self").collect()
    }
    assert got == r

    # 'redistribute': share = floor(rank2 * 85 / (100*3)) added to all.
    r = {0: 1000000, 1: 1000000, 2: 1000000}
    for _ in range(3):
        share = r[2] * 85 // 300
        r = {
            0: 150000 + share,
            1: 150000 + share + r[0] * 85 // 100,
            2: 150000 + share + r[1] * 85 // 100,
        }
    got = {
        x["node"]: x["rank"]
        for x in pagerank(edges, iterations=3, dangling="redistribute").collect()
    }
    assert got == r
    again = {
        x["node"]: x["rank"]
        for x in pagerank(edges, iterations=3, dangling="redistribute").collect()
    }
    assert again == got


def test_pagerank_dangling_share_near_bigint_limit(spark, monkeypatch):
    """'redistribute' with a dangling mass past 2^63 / damping: the
    share's mass * damping product overflows BIGINT, so it is taken in
    DECIMAL(38,0) before the DIV. Replayed with Python integers (the
    per-edge contribution keeps the engine's double floor)."""
    import math

    from amazonredshift_blueprints_spark.operators import graph

    scale = 2**63 // 85 // 4  # 8 dangling leaves: mass * 85 ~ 2^64
    monkeypatch.setattr(graph, "RANK_SCALE", scale)
    leaves = range(1, 9)
    edges = spark.createDataFrame([(0, n) for n in leaves], "src long, dst long")
    got = {
        x["node"]: x["rank"]
        for x in graph.pagerank(edges, iterations=2, dangling="redistribute").collect()
    }

    teleport = scale * 15 // 100
    r = {n: scale for n in range(9)}
    for _ in range(2):
        mass = sum(r[n] for n in leaves)
        assert mass * 85 >= 2**63  # the product a BIGINT cannot hold
        share = mass * 85 // (100 * 9)
        recv = math.floor(float(r[0] * 85) / float(len(leaves) * 100))
        r = {0: teleport + share, **{n: teleport + share + recv for n in leaves}}
    assert got == r


def test_bfs_hops_min_distance_and_bound(spark):
    """Diamond + tail: 1->2, 1->3, 2->4, 3->4 (4 at MIN hop 2), 4->5,
    5->6 (6 at hop 3... wait: 1,2/3,4,5 -> 5 is hop 3; 6 is hop 4 and
    must be EXCLUDED by max_hops=3). Node 7 disconnected."""
    from amazonredshift_blueprints_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6), (7, 7)],
        ["src", "dst"],
    )
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, 1, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_hits_hand_scores(spark):
    """1->10, 2->10, 2->11: a1=(2,1); h1(1)=2, h1(2)=3; a2(10)=5,
    a2(11)=3; h2(1)=5, h2(2)=8. Items hub 0, users auth 0."""
    from amazonredshift_blueprints_spark.operators.graph import hits

    e = spark.createDataFrame([(1, 10), (2, 10), (2, 11)], ["src", "dst"])
    got = {r["node"]: (r["hub_q"], r["auth_q"]) for r in hits(e, iterations=2).collect()}
    assert got == {1: (5, 0), 2: (8, 0), 10: (0, 5), 11: (0, 3)}


def test_kcore_peels_tail_and_keeps_clique(spark):
    """Triangle {1,2,3} with a pendant chain 3-4-5: the 2-core is the
    triangle alone, and the chain must peel CASCADINGLY (5 falls in
    round 1, which drops 4's degree to 1 so 4 falls in round 2) —
    a single-pass degree filter would wrongly keep 4."""
    from amazonredshift_blueprints_spark.operators.graph import kcore

    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r["node"]: r["deg"] for r in kcore(edges, 2, rounds=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # k=1 with one round: only 5's... nothing peels (all degrees >= 1)
    all_alive = kcore(edges, 1, rounds=1).collect()
    assert {r["node"] for r in all_alive} == {1, 2, 3, 4, 5}


def test_kcore_fixed_rounds_partial_peel(spark):
    """rounds=1 stops mid-cascade: 5 is gone but 4 (degree 2 BEFORE the
    peel) survives with its post-peel degree 1 — the fixed-unroll
    contract the chained-CTE oracle replays."""
    from amazonredshift_blueprints_spark.operators.graph import kcore

    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r["node"]: r["deg"] for r in kcore(edges, 2, rounds=1).collect()}
    assert got == {1: 2, 2: 2, 3: 3, 4: 1}


def test_link_prediction_scores_replay(spark):
    """Link prediction replayed in pure Python on a hand graph:
    non-edges only, per-pair cn/Jaccard/Adamic-Adar with the same
    integer quantization, deterministic ranking, deg-1 centers form
    no wedges (and never divide by zero), hub cap drops centers."""
    import math

    from amazonredshift_blueprints_spark.operators.graph import link_prediction

    # square 1-2-3-4-1 plus a pendant 5-1: predicts the diagonals
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (5, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [
        (r.a, r.b, r.cn, r.jaccard_micro, r.aa_micro)
        for r in link_prediction(df, k=10).collect()
    ]

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    eset = {tuple(sorted(e)) for e in edges}
    expect = []
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            common = [
                z for z in adj[a] & adj[b] if len(adj[z]) >= 2
            ]
            if not common or (a, b) in eset:
                continue
            cn = len(common)
            jac = cn * 1_000_000 // (len(adj[a]) + len(adj[b]) - cn)
            aa = sum(
                10**12 // round(math.log(len(adj[z])) * 1_000_000)
                for z in common
            )
            expect.append((a, b, cn, jac, aa))
    expect.sort(key=lambda r: (-r[3], -r[4], r[0], r[1]))
    assert got == expect
    # sanity: the square's diagonals (1,3) and (2,4) are both predicted
    assert {(r[0], r[1]) for r in got} >= {(1, 3), (2, 4)}
    # hub cap: capping out every center kills all predictions
    assert link_prediction(df, k=10, max_center_degree=1).count() == 0


def test_label_propagation_majority_and_clamp(spark):
    """Clamped sync LPA: seeds never change, non-seeds take the
    majority neighbor label (tie -> smallest), round 2 reaches
    two-hop nodes through round-1 labels."""
    from amazonredshift_blueprints_spark.operators.graph import (
        label_propagation,
    )

    # seeds: 1->label 0 (two edges to node 4), 2,3->label 1 (one each);
    # node 5 only reachable from 4 (two-hop from seeds)
    edges = spark.createDataFrame(
        [
            (4, 1), (4, 1), (4, 2), (4, 3),   # duplicate edge = 2 votes
            (5, 4),
            (6, 2),
        ],
        "src long, dst long",
    )
    seeds = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 1)], "node long, label long"
    )
    got = {
        r.node: r.label
        for r in label_propagation(edges, seeds, iterations=2).collect()
    }
    # node 4 votes: label 0 x2 (dup edge), label 1 x2 -> tie -> label 0
    # node 6: only neighbor 2 -> label 1
    # node 5: neighbor 4 labeled 0 after round 1 -> label 0 in round 2
    assert got == {1: 0, 2: 1, 3: 1, 4: 0, 5: 0, 6: 1}
    # seeds clamp even against contrary votes
    edges2 = spark.createDataFrame(
        [(1, 2), (1, 3)], "src long, dst long"
    )
    got2 = {
        r.node: r.label
        for r in label_propagation(edges2, seeds, iterations=2).collect()
    }
    assert got2[1] == 0  # both neighbors say 1; seed stays 0
