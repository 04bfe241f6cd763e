"""Host-level link-graph analytics for frontier prioritization.

The reference crawler's notion of source priority is the human operator
choosing which DPA to crawl (``gdprCrawler.py:123-145`` — one
country/DPA per invocation, hard-coded dispatch); a web-scale frontier
has ~10^8 hosts and must derive per-source priority from the link graph
itself.  This module provides the canonical primitive — PageRank over
the host graph — in a deliberately *deterministic fixed-point integer*
formulation:

- every rank is a 64-bit integer in parts-per-billion (ppb);
- per-edge contributions use integer division ``rank div out_degree``;
- integer addition is associative/commutative *exactly*, so the same
  ranks come out at 1 executor or 1000, at any shuffle partitioning,
  and on any engine — which is what makes the DuckDB oracle value-hash
  byte-exact, and at fleet scale makes reruns/audits reproducible
  (IEEE-double PageRank wobbles in the last ulp with summation order).

Scale shape (100 TB / 10^8 hosts): the edges table is the big side and
is NEVER shuffled — each iteration joins edges to the (hosts-sized)
rank table and aggregates contributions by dst with map-side partial
aggregation, so the only full shuffle per iteration carries one partial
row per (partition, dst-host).  The rank table is broadcast when it
fits (the default here; 10^6 hosts * 24 B is trivially broadcastable);
above ``spark.sql.autoBroadcastJoinThreshold`` Spark falls back to a
shuffled hash join on src — still edges-shuffle-free if edges are
bucketed by src (see BENCH/bucketed_join_demo.py for the pattern).
Dangling mass is a 1-row aggregate collected per iteration (a bounded
driver probe, same convention as the engine's round metrics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PPB = 1_000_000_000


def pagerank_fixedpoint(
    edges: DataFrame,
    iters: int = 5,
    damping_ppb: int = 850_000_000,
) -> DataFrame:
    """Fixed-point integer PageRank over ``edges(src, dst)``.

    Per iteration (all 64-bit integer arithmetic, ppb scale)::

        contrib(e)  = rank(src) div out_deg(src)          # per edge
        S(v)        = sum of contrib over in-edges of v
        D           = sum of rank over dangling nodes (out_deg = 0)
        rank'(v)    = (PPB - d) div N  +  (d * (S(v) + D div N)) div PPB

    which is the standard damped PageRank with redistributed dangling
    mass, truncated (floor) at each division.  Overflow-safe: total
    rank mass <= PPB + N (one ulp of truncation per node), so
    ``d * (S + D div N) < 8.5e8 * ~1e9 << 2^63``.

    Returns (node: string, out_deg: bigint, rank_ppb: bigint).  The
    returned frame is persisted (it pins the last iteration); callers
    own the cache lifetime.
    """
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    nd = (
        nodes.join(deg, "node", "left")
        .select("node", F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"))
        .persist()
    )
    n_nodes = nd.count()  # bounded driver probe; also materializes the persist
    base = (PPB - damping_ppb) // n_nodes

    ranks = nd.withColumn("rank_ppb", F.lit(PPB // n_nodes).cast("long"))
    prev = None
    for _ in range(iters):
        ranks = ranks.persist()
        dangling = ranks.filter(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank_ppb"), F.lit(0)).alias("d")
        )
        d_mass = dangling.collect()[0]["d"] or 0
        contribs = (
            e.join(
                F.broadcast(
                    ranks.filter(F.col("out_deg") > 0).select(
                        F.col("node").alias("src"),
                        F.expr("rank_ppb div out_deg").alias("contrib"),
                    )
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("s"))
        )
        new_ranks = (
            nd.join(contribs, "node", "left")
            .select(
                "node",
                "out_deg",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_ppb} * (coalesce(s, 0) + {d_mass // n_nodes}))"
                        f" div {PPB}"
                    )
                ).cast("long").alias("rank_ppb"),
            )
        )
        if prev is not None:
            prev.unpersist()
        prev = ranks
        ranks = new_ranks
    # pin the result before releasing the lineage inputs it references
    out = ranks.persist()
    out.count()
    if prev is not None:
        prev.unpersist()
    nd.unpersist()
    return out


def rank_priority(frontier: DataFrame, ranks: DataFrame, n_tiers: int = 8) -> DataFrame:
    """Map host PageRank into the frontier's ``priority`` column (lower
    = sooner, matching the scheduler's ``ORDER BY priority, seq`` in
    ``frontier.rank_budget``): hosts are bucketed into ``n_tiers``
    priority tiers by rank, highest-ranked hosts -> tier 0.

    Tiering (ntile over rank_ppb desc, host tie-break) rather than raw
    rank keeps the frontier's priority small-cardinality — the
    politeness window sorts (priority, seq) inside salted host
    partitions, and a per-host-unique priority would defeat the
    pre-prune's margin arithmetic.  ``ranks`` is hosts-sized ->
    broadcast; unranked hosts (not yet in the graph) keep their
    existing priority.  The ntile window is global over the RANKS dim
    (not the frontier); at 10^8 hosts swap it for fixed rank_ppb
    thresholds (approx quantiles computed once) to avoid the
    single-partition sort — the frontier-side plan is unchanged.

    Output: frontier with ``priority`` replaced where a rank exists.
    """
    w = Window.orderBy(F.desc("rank_ppb"), "node")
    tiers = ranks.select(
        F.col("node").alias("host"),
        (F.ntile(n_tiers).over(w) - 1).alias("__rank_tier"),
    )
    return (
        frontier.join(F.broadcast(tiers), "host", "left")
        .withColumn(
            "priority",
            F.coalesce("__rank_tier", F.col("priority")).cast(
                frontier.schema["priority"].dataType.simpleString()
            ),
        )
        .drop("__rank_tier")
    )


def _pinned_rdd_ids(spark) -> set[int]:
    """Ids of currently persisted RDDs (cache + checkpoint blocks)."""
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


class _Ckpt:
    """``localCheckpoint`` with a RELEASABLE handle.

    Checkpoint blocks are persisted OUTSIDE the CacheManager, so
    ``DataFrame.unpersist()`` is a **no-op** for them (empirically: the
    id stays in ``getPersistentRDDs`` through blocking unpersist and a
    JVM GC) — in a long-lived session an iterative operator would pin
    every round's frame until the ContextCleaner eventually notices the
    dropped reference.  This wrapper diffs the pinned-id set around the
    checkpoint and releases those exact blocks via
    ``SparkContext.unpersistRDD`` — deterministic, blocking, and safe
    once every DERIVED checkpoint has been materialized (a
    localCheckpoint cuts lineage, so blocks must never be dropped while
    a live frame still scans them).
    """

    def __init__(self, df: DataFrame):
        self.spark = df.sparkSession
        before = _pinned_rdd_ids(self.spark)
        self.df = df.localCheckpoint(eager=True)
        self.ids = _pinned_rdd_ids(self.spark) - before

    def release(self) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        for i in self.ids:
            jsc.unpersistRDD(i, True)
        self.ids = set()


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components by min-label propagation with
    pointer-doubling shortcuts: every node's label converges to the
    MINIMUM node id in its component — a deterministic canonical
    cluster id at any parallelism and on any engine (min is
    associative/commutative exactly, like the integer PageRank above).

    The cluster-resolution step the dedup family needs: MinHash /
    SimHash / embedding near-dup emit PAIRS; picking one canonical doc
    per near-dup *cluster* is exactly components over the pair graph
    (transitively: A~B, B~C => one cluster even when A,C never pair).

    Per round (all joins on slim (node:long, label:long) frames)::

        nbr(v)   = min label over v's neighbors          # edges join
        hop(v)   = label(label(v))                       # labels self-join
        label'(v)= min(label(v), nbr(v), hop(v))

    The ``hop`` term is the pointer-doubling shortcut: label chains
    halve every round, so convergence is O(log diameter) rounds, not
    O(diameter) — the difference between ~40 and ~12 rounds on a
    10^10-node web graph.  Each round materializes the labels frame
    with ``localCheckpoint`` (slim: 16 B/node) to truncate lineage —
    without it the plan tree doubles per round and analysis time
    dominates (the kmeans lesson); on a real cluster prefer a reliable
    ``checkpoint`` dir so executor loss cannot drop blocks.  The
    changed-row count per round is a bounded driver probe (one long),
    the same convention as PageRank's dangling-mass probe.

    ``edges`` is often an EXPENSIVE lazy plan (here: the MinHash +
    SimHash banded near-dup pipelines) — it is materialized ONCE up
    front, so each round's neighbor join reads checkpointed (u,v)
    longs instead of re-running the producer; likewise each round
    checkpoints (node, new_label, label) in one pass so the
    convergence probe is a scan of materialized rows, not a second
    execution of the round's joins.  With edges bucketed by src the
    label shuffle is the only exchange per round.

    Output: (node, component) for every distinct endpoint.  Raises
    ``RuntimeError`` when a round still changes labels after
    ``max_rounds`` — unconverged labels are never returned.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("u"),
        F.col(dst_col).cast("long").alias("v"),
    )
    symc = _Ckpt(e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    sym = symc.df
    labc = _Ckpt(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_rounds):
        labels = labc.df
        nbr = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy(sym["u"].alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        l2 = labels.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        hop = labels.join(
            l2, labels["label"] == l2["l_node"], "left"
        ).select("node", "label", F.col("l_label").alias("hlabel"))
        newc = _Ckpt(
            hop.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("hlabel"), F.col("label")),
                    F.coalesce(F.col("nlabel"), F.col("label")),
                ).alias("new_label"),
                "label",
            )
        )
        changed = (
            newc.df.filter(F.col("new_label") != F.col("label"))
            .limit(1)
            .count()
        )
        nxtc = _Ckpt(newc.df.select("node", F.col("new_label").alias("label")))
        # nxt is materialized and self-contained -> the previous round's
        # blocks (and this round's 3-column frame) can be dropped NOW
        newc.release()
        labc.release()
        labc = nxtc
        if changed == 0:
            break
    else:
        symc.release()
        labc.release()
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_rounds={max_rounds}"
        )
    symc.release()
    # the final labels frame stays pinned (callers own its lifetime,
    # same convention as pagerank_fixedpoint's returned frame)
    return labc.df.select("node", F.col("label").alias("component"))


def anchor_texts(
    edges: DataFrame,
    topk: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-target anchor-text aggregation: the top-k most frequent
    normalized link texts pointing AT each URL, plus its in-link
    counts — the web-graph rollup corpora ship beside the page text
    (anchor text describes the TARGET better than the target's own
    boilerplate; retrieval/QA training sets are built from it).

    Normalization: lowercase, trim, collapse internal whitespace;
    empty anchors and self-links dropped.  Ranking inside a target is
    (count desc, anchor asc) — fully deterministic.

    Scale shape: one partial-agg groupBy on (dst, anchor) — the only
    full-width shuffle — then a row_number window on dst whose
    ``rank <= k`` predicate triggers WindowGroupLimit, so map tasks
    pre-prune each target's tail before the second (dst-keyed,
    count-sized) exchange.  A mega-inlink target (every page links
    "home") is bounded by its DISTINCT anchor count after the first
    agg, not its in-link count.

    Output: (dst, anchor, n_links, n_srcs, rank) — topk rows per dst.
    """
    norm = F.regexp_replace(
        F.lower(F.trim(F.col(anchor_col))), r"\s+", " "
    )
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            norm.alias("anchor"),
        )
        .filter((F.col("anchor") != "") & (F.col("src") != F.col("dst")))
    )
    agg = e.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct("src").alias("n_srcs"),
    )
    w = Window.partitionBy("dst").orderBy(
        F.col("n_links").desc(), F.col("anchor")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )
