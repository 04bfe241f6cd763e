"""Fixed-point PageRank (linkgraph.pagerank_fixedpoint): hand-computed
one-iteration ranks on a 3-node graph with a dangling node, exact
determinism across reruns and partitionings, and cache hygiene."""

from __future__ import annotations

import pytest

from crawler_spark import linkgraph


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_pagerank_one_iteration_hand_values(spark):
    """A->B, A->C, B->A; C dangles.  N=3, r0 = 333_333_333 each.

    D = 333_333_333 (C), D div N = 111_111_111; contribs: A sends
    166_666_666 to each of B,C; B sends 333_333_333 to A.
    r1(A) = 50e6 + (85e7 * 444_444_444) div 1e9 = 427_777_777
    r1(B) = r1(C) = 50e6 + (85e7 * 277_777_777) div 1e9 = 286_111_110
    """
    e = _edges(spark, [("A", "B"), ("A", "C"), ("B", "A")])
    out = linkgraph.pagerank_fixedpoint(e, iters=1)
    got = {r["node"]: (r["out_deg"], r["rank_ppb"]) for r in out.collect()}
    out.unpersist()
    assert got == {
        "A": (2, 427_777_777),
        "B": (1, 286_111_110),
        "C": (0, 286_111_110),
    }


def test_pagerank_deterministic_across_partitionings(spark):
    """Integer arithmetic makes ranks EXACTLY partitioning-invariant —
    the property that lets the same job produce the same bytes at N and
    4N executors (floats would differ in summation order)."""
    rows = [
        (f"h{i % 7}", f"h{(i * 3 + 1) % 7}") for i in range(40)
    ] + [("h0", "leaf"), ("h3", "leaf")]
    rows = [r for r in rows if r[0] != r[1]]
    a = linkgraph.pagerank_fixedpoint(
        _edges(spark, rows).repartition(1), iters=4
    )
    b = linkgraph.pagerank_fixedpoint(
        _edges(spark, rows).repartition(8), iters=4
    )
    ra = sorted((r["node"], r["rank_ppb"]) for r in a.collect())
    rb = sorted((r["node"], r["rank_ppb"]) for r in b.collect())
    a.unpersist()
    b.unpersist()
    assert ra == rb
    # total mass stays ~PPB (truncation loses < 1 ppb per node per iter)
    total = sum(v for _, v in ra)
    assert abs(total - linkgraph.PPB) < 10 * len(ra)


def test_pagerank_releases_intermediate_caches(spark):
    """Only the returned frame stays pinned (documented caller-owned
    lifetime); the per-iteration intermediates are unpersisted."""
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    out = linkgraph.pagerank_fixedpoint(
        _edges(spark, [("A", "B"), ("B", "A")]), iters=2
    )
    out.collect()
    during = len(spark.sparkContext._jsc.getPersistentRDDs())
    out.unpersist()
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert during <= before + 1
    assert after <= before


def test_rank_priority_feeds_scheduler_order(spark):
    """rank_priority maps ranks to frontier priority tiers (top-ranked
    host -> tier 0) and the politeness ranker consumes them: the
    high-rank host's URL schedules ahead of the low-rank host's within
    a budget of 1 per host... and unranked hosts keep their prior."""
    from crawler_spark import linkgraph

    # star graph: everyone links to 'big'; 'small' links out only
    edges = _edges(
        spark, [("small", "big"), ("h2", "big"), ("h3", "big"), ("big", "h2")]
    )
    ranks = linkgraph.pagerank_fixedpoint(edges, iters=3)
    fr = spark.createDataFrame(
        [("big", "u1", 5), ("small", "u2", 5), ("unranked", "u3", 2)],
        "host string, url string, priority int",
    )
    out = {
        r["host"]: r["priority"]
        for r in linkgraph.rank_priority(fr, ranks, n_tiers=4).collect()
    }
    ranks.unpersist()
    assert out["big"] == 0                      # highest rank -> tier 0
    assert out["big"] < out["small"]
    assert out["unranked"] == 2                 # untouched


def _ledges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def test_components_two_clusters_min_label(spark):
    """Two disjoint clusters each converge to the MINIMUM node id:
    {1,5,9} via 1-5, 5-9 and {2,7} via 7-2 (direction irrelevant)."""
    e = _ledges(spark, [(5, 1), (5, 9), (7, 2)])
    got = {
        r["node"]: r["component"]
        for r in linkgraph.connected_components(e).collect()
    }
    assert got == {1: 1, 5: 1, 9: 1, 2: 2, 7: 2}


def test_components_transitive_chain_pointer_doubling(spark):
    """A 40-node path converges inside max_rounds=8: pure min
    propagation needs 39 rounds, the hop (pointer-doubling) shortcut
    needs ~log2(40) ≈ 6 — this test fails if the shortcut is dropped."""
    e = _ledges(spark, [(i, i + 1) for i in range(100, 139)])
    out = linkgraph.connected_components(e, max_rounds=8).collect()
    assert {r["component"] for r in out} == {100}
    assert len(out) == 40


def test_components_raise_when_max_rounds_runs_out(spark):
    """The same 40-node path cannot converge in 3 rounds (labels reach
    at most ~2^3 hops): the operator raises instead of returning
    unconverged labels, and releases its checkpoint blocks."""
    e = _ledges(spark, [(i, i + 1) for i in range(100, 139)])
    before = linkgraph._pinned_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="max_rounds=3"):
        linkgraph.connected_components(e, max_rounds=3)
    assert linkgraph._pinned_rdd_ids(spark) == before


def test_components_deterministic_across_partitionings(spark):
    """min is exactly associative: the labeling is identical at any
    shuffle width (the property the dedup resolver relies on)."""
    rows = [(i, (i * 7) % 23) for i in range(23)]
    a = sorted(
        map(tuple, linkgraph.connected_components(
            _ledges(spark, rows).repartition(1)).collect())
    )
    b = sorted(
        map(tuple, linkgraph.connected_components(
            _ledges(spark, rows).repartition(13)).collect())
    )
    assert a == b


def test_components_releases_intermediate_caches(spark):
    """Checkpoint blocks live outside the CacheManager (unpersist() is
    a no-op for them), so each round's frames are dropped explicitly
    by RDD id — after the call EXACTLY the returned labels frame is
    newly pinned, deterministically, not eventually-by-GC."""
    before = linkgraph._pinned_rdd_ids(spark)
    out = linkgraph.connected_components(
        _ledges(spark, [(1, 2), (3, 4), (4, 5)])
    )
    out.collect()
    new_ids = linkgraph._pinned_rdd_ids(spark) - before
    assert len(new_ids) == 1


def test_anchor_texts_normalize_rank_and_drop(spark):
    """Whitespace/case variants merge into one normalized anchor,
    counts rank the top-k with (n desc, anchor asc) tie-break, and
    empty anchors / self-links are dropped."""
    rows = [
        ("s1", "t", "  Read   More "),
        ("s2", "t", "read more"),
        ("s3", "t", "READ MORE"),
        ("s1", "t", "home"),
        ("s2", "t", "apple"),       # ties 'home' at n=1 -> apple first
        ("s4", "t", "zebra"),
        ("s5", "t", ""),            # dropped
        ("t", "t", "self"),         # self-link dropped
    ]
    df = spark.createDataFrame(rows, "src string, dst string, anchor string")
    out = [
        (r["anchor"], r["n_links"], r["n_srcs"], r["rank"])
        for r in linkgraph.anchor_texts(df, topk=3)
        .orderBy("rank").collect()
    ]
    assert out == [
        ("read more", 3, 3, 1),
        ("apple", 1, 1, 2),
        ("home", 1, 1, 3),          # 'zebra' pruned at topk=3
    ]
