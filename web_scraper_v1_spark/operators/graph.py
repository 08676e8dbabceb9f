"""Distributed connected components over near-dup pair graphs.

The dedup strategies (operators/dedup.py) emit PAIRS (id_a, id_b); a
curation pipeline needs CLUSTERS — one canonical document kept per
transitively-connected group. (The reference has no
dedup at all, SURVEY.md O17; this is part of the training-data layer the
engine adds on top.)

Algorithm: iterative min-label propagation. Every node starts labeled
with its own id; each round every node takes the min of its own label and
its neighbors' labels; at the fixed point every node in a component
carries the component's minimum id. Each round is one equi-join (edges x
labels, shuffle keyed by node id) plus one map-side-combinable groupBy —
both scale-safe shapes at 10^10 nodes.

Rounds needed = the graph's diameter. Near-dup clusters are dense and
tiny in diameter (a duplicate "family" — usually a clique or a star), so
propagation converges in 2-4 rounds; for general graphs with long chains
the alternating large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) halves path
lengths per round instead — noted as the swap-in if cluster shapes ever
degenerate; the interface here is shape-agnostic.

Driver-side iteration with per-round ``localCheckpoint`` keeps the
logical plan flat (no per-iteration lineage growth — the same discipline
as the crawl round loop, plans/crawl.py); on a real cluster with
executor-loss concerns this becomes ``checkpoint`` into the job's
snapshot directory. Convergence is detected from the label-sum
aggregate: labels only ever decrease, so an unchanged sum IS the fixed
point — one tiny action per round, no row-wise diff join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, label) for every node appearing in ``edges``: ``label`` is the
    minimum node id of the node's connected component. Undirected — edges
    are symmetrized. Raises if ``max_iter`` rounds don't converge (a
    diameter that large means the wrong algorithm is in play, see module
    docstring)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        # partitioned by the join key once; every round's join reuses it
        .repartition(F.col("src"))
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    # Convergence sums are taken over decimal(38,0), not int64: labels are
    # node ids, and with 64-bit hash ids at 10^10 nodes an int64 label-sum
    # wraps (Spark non-ANSI sum overflows silently), which could in
    # principle mask a round's progress as "unchanged". decimal(38,0)
    # holds the exact sum of 10^10 63-bit values with ~9 digits to spare.
    _exact_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(_exact_sum).collect()[0][0]
    try:
        for _ in range(max_iter):
            prop = sym.join(
                labels, sym["src"] == labels["id"], "inner"
            ).select(F.col("dst").alias("id"), F.col("label"))
            labels = (
                labels.unionByName(prop)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)
            )
            new_sum = labels.agg(_exact_sum).collect()[0][0]
            if new_sum == prev_sum:
                return labels
            prev_sum = new_sum
    finally:
        sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a (src, dst) edge list: (id, rank).

    ``teleport`` personalizes the random jump: a (id, t) frame whose t
    sums to 1 (nodes absent from it jump with probability 0). With it
    this is TrustRank (Gyongyi et al. 2004, the public link-spam
    demotion algorithm): mass teleports only to the trusted seed set,
    so spam farms far from any seed drain toward zero no matter how
    densely they interlink. None keeps the uniform 1/n jump — classic
    PageRank, bit-identical to before the parameter existed.

    The per-edge contribution ``rank/out_deg`` is rounded to an int64 at
    1e-9 resolution BEFORE the per-destination sum. That makes the only
    order-sensitive step (summing many contributions) an exact integer
    aggregation: the result is bit-identical regardless of partitioning /
    combine order — which is both what lets the DuckDB oracle replay it
    exactly and what a 100 TB run wants anyway (re-runs reproduce the
    same ranks to the bit; naive double sums drift with shuffle order).
    The 1e-9 quantization error per incoming edge is orders of magnitude
    below any ranking use of PageRank.

    Plan shape per iteration: one equi-join (edges x ranks, keyed by src)
    and one map-side-combinable integer groupBy on dst — the same shapes
    as ``connected_components``; driver-side loop with localCheckpoint
    keeps lineage flat. Dangling mass is not redistributed (the standard
    simplified formulation; replayed identically by the oracle)."""
    e = edges.select("src", "dst").persist()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        spark = edges.sparkSession
        return spark.createDataFrame([], "id long, rank double")
    outd = e.groupBy("src").agg(
        F.count("*").cast("double").alias("out_deg")
    )
    if teleport is None:
        # uniform jump: the per-node teleport column is the constant 1/n
        nodes_t = nodes.withColumn("t", F.lit(1.0 / n)).persist()
    else:
        nodes_t = (
            nodes.join(teleport.select("id", "t"), "id", "left")
            .select("id", F.coalesce(F.col("t"), F.lit(0.0)).alias("t"))
            .persist()
        )
    ranks = nodes_t.select("id", F.col("t").alias("rank"))
    # uniform branch keeps the EXACT pre-teleport expression
    # ((1-d)/n as ONE python double) so existing oracles stay
    # bit-identical; the personalized branch scales the per-node t
    if teleport is None:
        base = F.lit((1 - damping) / n)
    else:
        base = F.lit(1 - damping) * F.col("t")
    try:
        for _ in range(n_iter):
            contrib = (
                e.join(ranks, e["src"] == ranks["id"])
                .join(outd, "src")
                .select(
                    F.col("dst").alias("id"),
                    F.round(
                        F.col("rank") / F.col("out_deg") * F.lit(1e9)
                    )
                    .cast("long")
                    .alias("c"),
                )
            )
            incoming = contrib.groupBy("id").agg(F.sum("c").alias("s"))
            ranks = (
                nodes_t.join(incoming, "id", "left")
                .select(
                    "id",
                    (
                        base
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("s"), F.lit(0)).cast("double")
                            / F.lit(1e9)
                        )
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        e.unpersist()
        nodes.unpersist()
        nodes_t.unpersist()
    return ranks


def hits(
    edges: DataFrame,
    n_iter: int = 4,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999, public) over a (src, dst)
    edge list: (id, auth, hub) with L1 normalization per half-step.

    The frontier needs TWO link-graph prioritization signals: PageRank
    (``pagerank`` above) ranks by incoming endorsement; HITS separates
    hub quality (pages whose outlinks find good content — crawl these
    FIRST to grow the frontier fast) from authority quality (pages worth
    fetching for their own content). A production scheduler crawls
    high-hub hosts early in a discovery phase and high-authority hosts
    early in a harvest phase.

    Exactness discipline is the same as ``pagerank``: every
    order-sensitive sum is an int64 aggregation of per-row
    ``round(x * 1e9)`` quantizations, and every normalization is a
    per-row double division of two exact integers — so the result is
    bit-identical under any partitioning/combine order and the DuckDB
    oracle replays all iterations exactly. L1 (sum) normalization keeps
    the scalar an exact integer; the classical L2 norm would need a
    square root of a sum of doubles, which no exact-integer trick
    covers.

    Plan shape per iteration: two equi-joins (edges x scores, keyed by
    src then by dst) each followed by a map-side-combinable integer
    groupBy, plus a single-row total that broadcasts back (Spark plans a
    1-row crossJoin as BroadcastNestedLoopJoin — nothing wide moves).
    Driver-side loop with localCheckpoint keeps lineage flat, as in
    ``connected_components``."""
    e = edges.select("src", "dst").persist()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        spark = edges.sparkSession
        return spark.createDataFrame([], "id long, auth double, hub double")
    scores = nodes.select(
        "id", F.lit(0.0).alias("auth"), F.lit(1.0 / n).alias("hub")
    )

    def _half_step(
        scores_df: DataFrame, in_col: str, out_col: str, key: str, agg: str
    ) -> DataFrame:
        """One HITS half-step: int-quantized sum of ``in_col`` over the
        edges grouped by ``key`` (dst for authority, src for hub), then
        L1-normalize into ``out_col``; the other column rides along."""
        q = (
            e.join(scores_df, e[agg] == scores_df["id"])
            .select(
                F.col(key).alias("id"),
                F.round(F.col(in_col) * F.lit(1e9)).cast("long").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        total = q.agg(F.sum("s").alias("t"))
        keep = "hub" if out_col == "auth" else "auth"
        return (
            scores_df.join(q, "id", "left")
            .crossJoin(total)
            .select(
                "id",
                (
                    F.coalesce(F.col("s"), F.lit(0)).cast("double")
                    / F.col("t").cast("double")
                ).alias(out_col),
                F.col(keep),
            )
        )

    try:
        for _ in range(n_iter):
            # authority from hubs (sum over in-edges), then hub from the
            # fresh authorities (sum over out-edges)
            scores = _half_step(scores, "hub", "auth", "dst", "src")
            scores = _half_step(
                scores, "auth", "hub", "src", "dst"
            ).localCheckpoint(eager=True)
    finally:
        e.unpersist()
        nodes.unpersist()
    return scores.select("id", "auth", "hub")


def resolve_chains(
    mapping: DataFrame,
    max_rounds: int = 40,
) -> DataFrame:
    """Follow every redirect chain to its terminal URL by POINTER
    DOUBLING: (url_id, final_id, hops) for every row of ``mapping``
    (url_id, next_id) where ``next_id`` is NULL at chain ends.

    The naive chase joins once per HOP — a 30-hop chain costs 30
    shuffles of the full 10^10-row frontier. Pointer doubling composes
    the successor map with ITSELF each round (succ <- succ∘succ), so
    resolved depth doubles per round and a depth-d chain costs
    ceil(log2(d)) + 1 joins — 5-6 rounds covers any real redirect chain
    (crawlers cap follow-depth around 20-30 anyway). Each round is one
    equi-join of the table with itself keyed by the current successor —
    the same scale-safe shape as ``connected_components``, and rows
    whose chain is already resolved compose with a zero-hop identity row
    (their terminal maps to itself), so there is no branching, no
    per-row state, and the fixed point is detected from one scalar
    count. Cycles (a redirect loop) would never drain ``pending``;
    ``max_rounds`` bounds that, and 2^40 exceeds any finite chain, so
    hitting the bound IS a loop diagnosis."""
    cur = mapping.select(
        F.col("url_id"),
        F.coalesce(F.col("next_id"), F.col("url_id")).alias("cur"),
        F.when(F.col("next_id").isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("hops"),
        F.col("next_id").isNull().alias("done"),
    ).localCheckpoint(eager=True)
    for _ in range(max_rounds + 1):
        if cur.filter(~F.col("done")).limit(1).count() == 0:
            return cur.select(
                "url_id", F.col("cur").alias("final_id"), "hops"
            )
        nxt = cur.select(
            F.col("url_id").alias("m_id"),
            F.col("cur").alias("m_cur"),
            F.col("hops").alias("m_hops"),
            F.col("done").alias("m_done"),
        )
        cur = (
            cur.join(nxt, cur["cur"] == nxt["m_id"])
            .select(
                "url_id",
                F.col("m_cur").alias("cur"),
                (F.col("hops") + F.col("m_hops")).alias("hops"),
                F.col("m_done").alias("done"),
            )
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"resolve_chains: not resolved after {max_rounds} doubling rounds "
        "— the mapping contains a redirect cycle"
    )


def cluster_assignments(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, keep) per document that appears
    in at least one near-dup pair: ``cluster_id`` is the component's min
    doc id, ``keep`` marks the canonical representative (the min-id doc —
    the same keep-lowest rule as exact_dedup). The size window shuffles
    on cluster_id — cluster counts are the skew bound, and near-dup
    components are small by construction (bounded by how many true copies
    of one document exist)."""
    labels = connected_components(pairs, src, dst)
    from pyspark.sql import Window

    w = Window.partitionBy("label")
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("id") == F.col("label")).alias("keep"),
    )


def opic(edges: DataFrame, n_iter: int = 5) -> DataFrame:
    """Fixed-iteration synchronous OPIC — On-line Page Importance
    Computation (Abiteboul, Preda & Cobena, WWW 2003, public): every
    node starts with one unit of "cash"; each round a node banks its
    cash into its history and distributes it equally over its outlinks;
    importance = history + cash. Unlike PageRank (a stationary
    eigenvector), OPIC's importance estimate is cumulative and cheap to
    maintain ONLINE while crawling — the canonical frontier-priority
    signal when the graph is still being discovered. This is the
    deterministic batch replay of the synchronous policy.

    Exactness: cash is an int64 quantum (10^9 units per node); the
    per-edge share is ``cash div out_deg`` (floor division), so the
    only order-sensitive step — summing incoming shares per node — is
    an exact integer aggregation, bit-identical under any partitioning
    and replayable by the DuckDB oracle. The sub-out_deg remainder of
    each division vanishes (documented policy, identical in both
    engines); dangling nodes bank their cash into history but
    distribute nothing.

    Plan shape per round: one equi-join (edges x state, keyed by src)
    and one map-side-combinable integer groupBy on dst — the
    ``pagerank`` shapes; driver-side loop with localCheckpoint keeps
    lineage flat. Returns (id, cash, hist, importance)."""
    quantum = 1_000_000_000
    e = edges.select("src", "dst").persist()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    outd = e.groupBy("src").agg(F.count("*").cast("long").alias("out_deg"))
    state = nodes.select(
        "id",
        F.lit(quantum).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("hist"),
    )
    try:
        if nodes.isEmpty():
            return state.select(
                "id", "cash", "hist",
                (F.col("cash") + F.col("hist")).alias("importance"),
            )
        for _ in range(n_iter):
            contrib = (
                e.join(state, e["src"] == state["id"])
                .join(outd, "src")
                .select(
                    F.col("dst").alias("id"),
                    F.expr("cash div out_deg").alias("c"),
                )
            )
            incoming = contrib.groupBy("id").agg(
                F.sum("c").cast("long").alias("s")
            )
            state = (
                state.select(
                    "id", (F.col("hist") + F.col("cash")).alias("hist")
                )
                .join(incoming, "id", "left")
                .select(
                    "id",
                    F.coalesce(F.col("s"), F.lit(0))
                    .cast("long")
                    .alias("cash"),
                    "hist",
                )
                .localCheckpoint(eager=True)
            )
    finally:
        e.unpersist()
        nodes.unpersist()
    return state.select(
        "id",
        "cash",
        "hist",
        (F.col("cash") + F.col("hist")).alias("importance"),
    )


def harmonic_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """In-harmonic centrality per node: H(v) = sum over u != v that can
    reach v of 1/d(u, v) (Boldi & Vigna, "Axioms for Centrality", 2014 —
    public; the centrality they recommend over closeness because
    unreachable pairs contribute 0 instead of poisoning the mean).
    Directed, unweighted; distances by multi-source Pregel-style BFS:

    * the frontier starts as every edge ((origin, node, 1));
    * each round joins the frontier to the edge list (one shuffle keyed
      by the expanding node), anti-joins against the already-settled
      distance set (BFS settles a (origin, node) pair at its first —
      hence minimal — depth), and checkpoints;
    * rounds needed = graph diameter; an empty frontier is the fixed
      point (one tiny count action per round, the connected_components
      discipline).

    Output is exact-integer: ``harmonic_x1e6`` sums round(1e6 / d) per
    reaching source (no float-sum drift; for d <= 37 the scaled terms
    are exact or round identically in Spark and DuckDB — .5 ties would
    need a factor-128 denominator). At web scale (10^9+ nodes) exact
    all-pairs BFS is O(V*E); production estimates harmonic centrality
    with HyperBall (Boldi & Vigna 2013) — HLL registers per node, the
    sketch machinery operators/sketches.py already carries; exact BFS is
    the right shape for the eTLD+1 host graph (10^6-10^7 nodes) and for
    oracle parity."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(F.col("src"))
        .persist()
    )
    dists = (
        e.select(
            F.col("src").alias("origin"),
            F.col("dst").alias("node"),
            F.lit(1).alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = dists
    try:
        for _ in range(max_iter):
            nxt = (
                frontier.join(e, frontier["node"] == e["src"])
                .select(
                    "origin",
                    e["dst"].alias("node"),
                    (F.col("dist") + 1).alias("dist"),
                )
                .distinct()
            )
            new = nxt.join(
                dists, ["origin", "node"], "left_anti"
            ).localCheckpoint(eager=True)
            if new.isEmpty():
                break
            dists = dists.unionByName(new).localCheckpoint(eager=True)
            frontier = new
        else:
            raise RuntimeError(
                f"harmonic_centrality did not settle in {max_iter} rounds"
            )
    finally:
        e.unpersist()
    return (
        dists.filter(F.col("origin") != F.col("node"))
        .groupBy("node")
        .agg(
            F.count("*").cast("long").alias("n_reached_by"),
            F.sum(
                F.round(F.lit(1000000.0) / F.col("dist")).cast("long")
            ).cast("long").alias("harmonic_x1e6"),
        )
        .select(F.col("node").alias("id"), "n_reached_by", "harmonic_x1e6")
    )


def hyperball_harmonic(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """HyperBall (Boldi & Vigna, "In-core computation of geometric
    centralities with HyperBall", 2013 — public): approximate in-harmonic
    centrality with an HLL counter per node instead of exact BFS state —
    the 10^9-node scale path whose exact twin is
    ``harmonic_centrality`` (the oracle-gated registry row).

    State per node is the (node, reg, max-rho) row set of
    ``operators/sketches.hll_registers`` — O(m) rows per node however
    many nodes reach it. Each round propagates every node's registers
    across its out-edges and folds by register-wise max (one equi-join +
    one map-side-combinable groupBy — the connected_components shapes);
    the fixed point is detected from the exact integer register sum
    (registers only grow). The harmonic sum accumulates
    round((est_t - est_{t-1}) * 1e6 / t) per round from the
    deterministic HLL estimates, so repeated runs are bit-identical;
    accuracy vs the exact twin is pytest-gated (at sandbox graph sizes
    the sketch sits in its linear-counting regime and is near-exact).

    Returns (id, n_reached_by_est, harmonic_x1e6_est)."""
    from web_scraper_v1_spark.operators import sketches as SK

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(F.col("src"))
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    regs = SK.hll_registers(
        nodes.select(F.col("id").alias("node"), F.col("id")),
        F.col("id").cast("string"),
        ["node"],
    ).localCheckpoint(eager=True)
    est = SK.hll_estimate(regs, ["node"]).select(
        "node", F.col("hll_corrected").alias("e0")
    ).localCheckpoint(eager=True)
    acc = est.select("node", F.lit(0).cast("long").alias("h"))
    _reg_sum = F.sum(F.col("mr").cast("decimal(38,0)"))
    prev_sum = regs.agg(_reg_sum).collect()[0][0]
    prev_cnt = regs.count()
    try:
        for t in range(1, max_iter + 1):
            prop = regs.join(e, regs["node"] == e["src"]).select(
                e["dst"].alias("node"), F.col("reg"), F.col("mr")
            )
            regs = (
                regs.unionByName(prop)
                .groupBy("node", "reg")
                .agg(F.max("mr").alias("mr"))
                .localCheckpoint(eager=True)
            )
            new_sum = regs.agg(_reg_sum).collect()[0][0]
            new_cnt = regs.count()
            if new_sum == prev_sum and new_cnt == prev_cnt:
                break
            prev_sum, prev_cnt = new_sum, new_cnt
            est_t = SK.hll_estimate(regs, ["node"]).select(
                "node", F.col("hll_corrected").alias("e1")
            )
            acc = (
                acc.join(est_t, "node", "left")
                .join(est.withColumnRenamed("e0", "ep"), "node", "left")
                .select(
                    "node",
                    (
                        F.col("h")
                        + F.round(
                            (F.col("e1") - F.col("ep")).cast("double")
                            * F.lit(1000000.0)
                            / F.lit(float(t))
                        ).cast("long")
                    ).alias("h"),
                )
                .localCheckpoint(eager=True)
            )
            est = est_t.withColumnRenamed("e1", "e0").localCheckpoint(
                eager=True
            )
        else:
            raise RuntimeError(
                f"hyperball did not settle in {max_iter} rounds"
            )
    finally:
        e.unpersist()
    return (
        acc.join(est, "node")
        .select(
            F.col("node").alias("id"),
            (F.col("e0") - F.lit(1)).cast("long").alias(
                "n_reached_by_est"
            ),
            F.col("h").alias("harmonic_x1e6_est"),
        )
    )
