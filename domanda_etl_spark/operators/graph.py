"""Distributed graph algorithms beyond connected components.

PageRank here is EXACT-ARITHMETIC: ranks live in integer micro-units and
every step (out-degree division, damping) is bigint floor arithmetic, so
two engines iterating the same graph agree bit-for-bit — the same
determinism move as tfidf's rational idf and gini's integer sums. At
production scale you would switch the contribution math to doubles and
accept approximate ranks; the distributed shape (edge join + partial-agg
groupBy per iteration, checkpointed lineage) is identical either way.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .checkpoint import keyed_checkpoint, loop_partitions


def _probe(plan_probe: list | None, tag: str, df: DataFrame) -> None:
    """Append (tag, physical-plan string) of a loop-body DataFrame to
    `plan_probe` BEFORE it is checkpointed away. The iterative graph ops
    return checkpoint-truncated DataFrames, so the registry-wide plan
    gates in tests/test_plans_quality.py never see the loop body. This
    hook is how tests/test_graph_plan_gates.py inspects the real
    per-iteration plans."""
    if plan_probe is not None:
        plan_probe.append(
            (tag, df._jdf.queryExecution().executedPlan().toString())
        )


def kcore(
    edges: DataFrame,
    k: int,
    a: str = "a",
    b: str = "b",
    max_rounds: int = 25,
    stats: dict | None = None,
    plan_probe: list | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling over an undirected edge
    list (each edge given once, either orientation): repeatedly drop
    every vertex whose degree among SURVIVING vertices is < k, until a
    fixpoint. The result is the maximal subgraph with min-degree >= k —
    the standard graph-cleaning primitive (spam/bot subgraph trimming,
    community-core extraction) the rest of the graph family
    (pagerank / triangles / k-hop) doesn't cover.

    Distributed shape: per round ONE partial-agg degree groupBy plus two
    semi-joins of the edge list against the survivor set — all keyed
    shuffles, no broadcast of anything vertex-scale. The edge list is
    localCheckpoint-ed each round so the plan stays O(1) deep (the
    connected-components lineage-control move), and convergence is
    detected by survivor COUNT (one scalar per round, never a collect of
    vertices). Rounds are bounded by the peeling depth of the graph —
    O(log n) on heavy-tailed graphs in practice — with a hard
    `max_rounds` guard that raises instead of silently returning a
    non-core.

    If `stats` is given, writes {"rounds": <peel rounds executed>} into
    it — tests use this to prove the unrolled-CTE oracle's depth covers
    the real peeling depth.

    Returns (v, core_degree) for every vertex of the k-core.
    """
    # partition-preserving checkpoints (r16 opt, guide §2.4): the edge
    # table lives hash(v)-partitioned for the whole peel, so the
    # per-round degree groupBy(v) and the v-side semi-join are
    # exchange-free; only the u-side semi-join pays a shuffle (the u
    # and v orientations cannot share one partitioning).  The u-semi
    # runs FIRST so the v-semi's output partitioning — hash(v), what
    # the next round needs — is what the checkpoint preserves
    # (semi-joins commute; results identical).  shuffle_hash pins on
    # the node-scale keep sides: the round subplans materialize under
    # keyed_checkpoint's AQE-off scope, where LogicalRDD size
    # under-estimates would statically broadcast them (r15 bug class).
    # two-step materialization: the plain checkpoint's AQE-coalesced RDD
    # partition count is the SIZE-ADAPTIVE loop width (loop_partitions —
    # few tasks at fixture scale, conf-capped full width at 100 TB); the
    # keyed re-checkpoint then pins hash(v) at exactly that count so
    # every round's exchanges and the preserved partitioning agree.
    from pyspark.sql import Observation

    und0 = (
        edges.selectExpr(f"{a} AS v", f"{b} AS u")
        .union(edges.selectExpr(f"{b} AS v", f"{a} AS u"))
        .localCheckpoint(eager=True)
    )
    parts = loop_partitions(und0)
    ck = partial(keyed_checkpoint, partitions=parts)
    alive = ck(und0.repartition(parts, "v"))
    n_prev = alive.select("v").distinct().count()
    rounds = 0
    while True:
        keep = (
            alive.groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("v")
        )
        _probe(plan_probe, "kcore_peel", keep)
        # survivor count rides the SAME job that materializes keep
        # (Observation — the connected_components move, r17 opt): the
        # separate keep.count() action cost one full job per peel round,
        # and at low SF the per-round job floor IS the query's time
        # (8-vs-32-core scaling ratio 1.03, PERF r16).
        obs = Observation()
        keep = ck(keep.observe(obs, F.count(F.lit(1)).alias("n_keep")))
        n_keep = obs.get["n_keep"]
        if n_keep == n_prev:
            break
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"kcore: no fixpoint after {max_rounds} peel rounds "
                f"({n_prev} -> {n_keep} survivors); raise max_rounds"
            )
        alive = alive.join(
            keep.withColumnRenamed("v", "u").hint("shuffle_hash"),
            "u",
            "leftsemi",
        ).join(keep.hint("shuffle_hash"), "v", "leftsemi")
        _probe(plan_probe, "kcore_prune", alive)
        alive = ck(alive)
        n_prev = n_keep
    if stats is not None:
        stats["rounds"] = rounds
    return alive.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    damping_milli: int = 850,
    init_micro: int = 1_000_000,
    plan_probe: list | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, in exact
    integer arithmetic: every node starts at `init_micro`; each round
    r'(v) = (1000 - damping_milli) * init_micro // 1000
          + damping_milli * SUM_{u->v}(r(u) // outdeg(u)) // 1000.

    Per iteration: one edge⋈rank join (shuffle on src — or co-located if
    the edge list is bucketed by src), one partial-agg groupBy(dst), one
    map. The rank table is localCheckpoint-ed each round so the plan stays
    O(1) deep (same lineage-control as connected_components); the edge
    set is checkpointed once up front so upstream edge derivation never
    re-executes. Dangling nodes (no out-edges) still RECEIVE rank; their
    outbound mass is dropped, which matches the unrolled-CTE oracle.

    Returns (node, rank_micro).
    """
    e = edges.selectExpr(f"{src} AS src", f"{dst} AS dst").localCheckpoint(
        eager=True
    )
    # nodes and the outdeg-folded edge table are PARTITION-PRESERVING
    # checkpoints (r16 opt, guide §2.4): nodes hash(node) from its
    # distinct, the edge table hash(src) from the outdeg window — so
    # every loop-body join below reuses the partitioning instead of
    # re-exchanging both sides each round.  outdeg itself is loop-
    # INVARIANT and folds in as a count-over-src window: one src-keyed
    # exchange + window replaces the old self-join (same integer per
    # row), and that exchange IS the loop's co-location.  All loop
    # exchanges run at the size-adaptive width read off the edge
    # checkpoint (loop_partitions — see checkpoint.py).
    parts = loop_partitions(e)
    ck = partial(keyed_checkpoint, partitions=parts)
    nodes = ck(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = ck(
        e.withColumn(
            "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
    )
    base = (1000 - damping_milli) * init_micro // 1000
    return _rank_loop(
        e, nodes, F.lit(init_micro), F.lit(base), iterations, damping_milli,
        ck, "pagerank_step", plan_probe,
    )


def _rank_loop(
    e: DataFrame,
    nodes: DataFrame,
    r0: Column,
    teleport: Column,
    iterations: int,
    damping_milli: int,
    ck,
    tag: str,
    plan_probe: list | None,
) -> DataFrame:
    """The integer rank iteration shared by pagerank_integer and
    ppr_integer: r'(v) = teleport(v) + damping_milli * SUM_{u->v}(r(u) //
    outdeg(u)) // 1000, starting from r0.  `e` is the hash(src) edge
    checkpoint with `outdeg` folded in, `nodes` the hash(node) node
    checkpoint; `r0` / `teleport` are Columns over `nodes`.  Returns
    (node, rank_micro)."""
    ranks = nodes.select("node", r0.cast("long").alias("r"))
    for it in range(iterations):
        # shuffle_hash pins on the node-scale sides: the loop subplans
        # materialize under keyed_checkpoint's AQE-off scope, where the
        # static planner's LogicalRDD under-estimates would otherwise
        # BROADCAST a node-scale table (the r15 bug class).  Both joins
        # run exchange-FREE over the preserved partitioning: e is
        # hash(src), ranks/nodes are hash(node), incoming is hash(dst)
        # from its own partial agg — 1 exchange per round total.
        contrib = e.join(
            ranks.hint("shuffle_hash"), e.src == ranks.node
        ).select(F.col("dst"), F.expr("r div outdeg").alias("c"))
        incoming = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = nodes.join(
            incoming.hint("shuffle_hash"), nodes.node == incoming.dst, "left"
        ).select(
            "node",
            (
                teleport
                + F.expr(f"{damping_milli} * coalesce(s, 0L) div 1000")
            ).cast("long").alias("r"),
        )
        _probe(plan_probe, tag, ranks)
        # checkpoint every OTHER round: lineage stays O(1) deep (2 rounds
        # of join+agg unroll fine through codegen) while the number of
        # eager materialization jobs — the fixed per-round cost — halves.
        # (A single 8-round plan was A/B-tested and is SLOWER warm:
        # plan/codegen depth beats the saved checkpoint jobs.)
        if it % 2 == 1 or it == iterations - 1:
            ranks = ck(ranks)
    return ranks.select("node", F.col("r").alias("rank_micro"))


def hits_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    scale_ppm: int = 1_000_000,
    window_norm_max_nodes: int = 65_536,
    plan_probe: list | None = None,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs-and-authorities) over a
    DIRECTED edge list in exact integer arithmetic — the second classic
    eigenvector ranking after PageRank, and the natural one for
    bipartite interaction graphs (customers hub, suppliers authority).

    Per round: auth(d) = SUM_{s->d} hub(s), then L-INFINITY normalize
    (a' = a * scale_ppm // max(a)) so the iterate stays a bounded
    integer; hub(s) = SUM_{s->d} auth(d), same normalization.  The max
    norm replaces the usual L2: power iteration converges to the same
    principal-eigenvector RANKING under any norm, and max + floor
    division is exact cross-engine where sqrt-of-sum-of-squares is not.
    Sums are staged through decimal(38,0) before the division so a
    high-degree hub at cluster scale cannot wrap a BIGINT.

    Scale shape identical to pagerank_integer: the edge list is
    localCheckpoint-ed once (loop-invariant, 2*iterations consumers);
    each half-round is one edge-side shuffle join + one partial-agg
    groupBy; score tables are node-scale, not edge-scale.

    The max-normalization is SIZE-GATED (VERDICT r11 §wrong#1): both
    forms compute the same integers, but their physical shapes trade
    differently with node count.
    - node count <= `window_norm_max_nodes`: a whole-partition window
      over the half-step aggregate — ONE evaluation of the subplan, no
      second pass (A/B at sf0.1, ~16k nodes: 10.3 -> 6.7 s warm). The
      SinglePartition exchange moves at most `window_norm_max_nodes`
      combined rows — one comfortable task by construction.
    - above it: checkpoint the half-step aggregate, reduce the max to
      ONE row (partial-agg SinglePartition — bounded by task count, not
      node count), broadcast it back. Costs one cheap re-read of the
      materialized aggregate per half-step, and NO unbounded node-scale
      rows ever cross a SinglePartition exchange — the form you run at
      10^9 nodes. The node count is measured once up front (a single
      agg over the checkpointed edge list).

    Returns (node, side, score_ppm): side 'hub' for src-nodes, 'auth'
    for dst-nodes.
    """
    e = edges.selectExpr(f"{src} AS src", f"{dst} AS dst").localCheckpoint(
        eager=True
    )
    [(n_hub, n_auth)] = e.agg(
        F.countDistinct("src"), F.countDistinct("dst")
    ).collect()
    use_window = max(n_hub, n_auth) <= window_norm_max_nodes
    # partition-preserving edge copies (r16 opt, guide §2.4): each
    # half-step joins the edge list on ITS key (auth step on src, hub
    # step on dst), so one copy per orientation — hash(src) and
    # hash(dst) — makes every half-step's edge side exchange-FREE for
    # the whole iteration count (2 extra one-off repartitions buy
    # 2 x iterations eliminated edge-scale exchanges).  Same
    # doubled-footprint trade as pagerank's undirected edge doubling.
    parts = loop_partitions(e)
    ck = partial(keyed_checkpoint, partitions=parts)
    e_src = ck(e.repartition(parts, "src"))
    e_dst = ck(e.repartition(parts, "dst"))
    hubs = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(scale_ppm).cast("long").alias("v"))
    )

    def _half(scores, key_in, key_out):
        # scores side pinned shuffle_hash: half-step subplans materialize
        # under keyed_checkpoint's AQE-off scope where the static
        # planner's LogicalRDD under-estimates would broadcast the
        # node-scale side (r15 bug class); build side is the slim scores.
        e_keyed = e_src if key_in == "src" else e_dst
        joined = e_keyed.join(
            scores.withColumnRenamed("node", key_in).hint("shuffle_hash"),
            key_in,
        )
        agg = joined.groupBy(F.col(key_out).alias("node")).agg(
            F.sum(F.col("v").cast("decimal(38,0)")).alias("s")
        )
        if use_window:
            half = agg.select(
                "node",
                F.expr(
                    f"CAST(s * {scale_ppm} div max(s) OVER () AS BIGINT)"
                ).alias("v"),
            )
        else:
            # partition-preserving: agg is hash(node) from its own
            # grouping, the broadcast crossJoin keeps it, so the NEXT
            # half-step's scores side is exchange-free too.
            agg = ck(agg)
            mx = agg.agg(F.max("s").alias("mx"))
            half = agg.crossJoin(F.broadcast(mx)).select(
                "node",
                F.expr(f"CAST(s * {scale_ppm} div mx AS BIGINT)").alias("v"),
            )
        _probe(plan_probe, f"hits_half:{key_out}", half)
        return half

    auths = None
    for it in range(iterations):
        auths = _half(hubs, "src", "dst")
        # FINAL round only (r17 opt, guide §1.2 — don't compute things
        # twice): the last auth table has TWO consumers — the final hub
        # half-step and the output union.  Checkpointing it BEFORE the
        # hub half-step makes the final-hub checkpoint job evaluate ONE
        # half-step instead of re-walking the whole chain since the last
        # hub checkpoint, and replaces the old post-loop auths
        # localCheckpoint that re-evaluated that same chain a THIRD time
        # (for iterations=4: 11 half-step evaluations -> the minimal 8).
        # Keyed at hash(node) = hash(dst), the final hub join is also
        # co-located.  Values identical: checkpoints are value-preserving.
        if use_window and it == iterations - 1:
            auths = ck(auths.repartition(parts, "node"))
        hubs = _half(auths, "dst", "src")
        # window form: checkpoint only the round-carrying table (hubs)
        # every other round — auths are consumed within the round and only
        # the FINAL auth table is read again (by the output union). Scale
        # form: each half-step already materialized its aggregate, so the
        # extra checkpoint would be a second copy of a trivial plan.
        # The checkpoint is PARTITION-PRESERVING at the loop width (r16
        # opt, guide §2.4): a plain localCheckpoint re-enters the planner
        # as UnknownPartitioning, so the next auth half-step re-exchanges
        # the scores side; repartition(parts, "node") inside the keyed
        # scope hands the join hash(node->src) directly (interleaved A/B,
        # 4 reps with control: 7.72 -> 6.41 s min warm, values
        # bit-identical).
        if use_window and (it % 2 == 1 or it == iterations - 1):
            hubs = ck(hubs.repartition(parts, "node"))
    return hubs.select(
        "node", F.lit("hub").alias("side"), F.col("v").alias("score_ppm")
    ).unionByName(
        auths.select(
            "node", F.lit("auth").alias("side"), F.col("v").alias("score_ppm")
        )
    )


def lpa_labels(
    edges: DataFrame,
    rounds: int = 3,
    a: str = "a",
    b: str = "b",
    plan_probe: list | None = None,
) -> DataFrame:
    """Synchronous label propagation over a DIRECTED-DOUBLE edge list
    (each undirected edge present in both orientations): every vertex
    starts labeled with itself; each round it adopts the most frequent
    label among its neighbors, ties broken by the smallest label — a
    deterministic total order, so the fixed-round result is engine-exact.
    Extracted from the two entry-file LPA queries
    (label_propagation_communities, lpa_modularity_audit) so the loop
    body exists ONCE and the iterative-graph plan gate
    (tests/test_graph_plan_gates.py) inspects the real code.

    `edges` must already be materialized by the caller (both callers
    localCheckpoint it — it is loop-invariant with additional consumers
    outside this function: degree rollups, modularity joins).

    Per round: ONE keyed edge⋈label join + ONE partial-agg groupBy
    (v, neighbor-label) + a per-vertex rank window — every exchange is
    keyed on vertex, nothing node-scale crosses a SinglePartition.
    Returns (v, lbl)."""
    # partition-preserving edge copy (r16 opt, guide §2.4): the per-round
    # join keys the edge list on `b`, so one hash(b)-partitioned
    # checkpoint makes the edge side of every round exchange-free; the
    # label side arrives hash(v)-partitioned from its own distinct /
    # rank window, so the join is fully co-located.  One extra one-off
    # repartition of the (caller-materialized) edge list buys `rounds`
    # eliminated edge-scale exchanges.
    parts = loop_partitions(edges)
    eb = keyed_checkpoint(edges.repartition(parts, F.col(b)), parts)
    lbl = edges.select(F.col(a).alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    wv = Window.partitionBy("v").orderBy(F.col("c").desc(), F.col("nl").asc())
    for _ in range(rounds):
        # pinned shuffled-hash, slim per-vertex label table as build: the
        # caller's checkpointed edge list is a LogicalRDD whose stats
        # under-estimate ~13x (default column widths), so the static
        # planner BROADCAST the corpus-scale edge side into every round's
        # join (r15 sweep — the r14 static-broadcast bug class; AQE can
        # never demote it, and at ~50M edges the real build is multi-GB).
        nb = (
            eb.join(
                lbl.select(F.col("v").alias(b), "lbl").hint("shuffle_hash"), b
            )
            .groupBy(F.col(a).alias("v"), F.col("lbl").alias("nl"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        lbl = (
            nb.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("v", F.col("nl").alias("lbl"))
        )
        _probe(plan_probe, "lpa_round", lbl)
    return lbl


def ppr_integer(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 8,
    damping_milli: int = 850,
    init_micro: int = 1_000_000,
    plan_probe: list | None = None,
) -> DataFrame:
    """Personalized PageRank in exact integer arithmetic — the graph-
    retrieval primitive behind 'people who bought X' recommendations:
    identical recurrence to pagerank_integer except the teleport mass
    returns to the SEED set instead of spreading uniformly, so rank
    concentrates in the seeds' neighborhoods.

    r0(v) = init_micro * [v in seeds];
    r'(v) = (1000 - damping_milli) * init_micro // 1000 * [v in seeds]
          + damping_milli * SUM_{u->v}(r(u) // outdeg(u)) // 1000.

    `seeds` is a DataFrame with a `node` column (deduplicated here).
    Scale shape identical to pagerank_integer: edge list + outdeg folded
    and checkpointed once; per round one edge-side shuffle join + one
    partial-agg groupBy(dst) + one node-scale left join.  The seed
    indicator is folded into the nodes checkpoint as a base-mass column
    via ONE broadcast join before the loop (seed sets are small by
    construction), so the loop body is exactly pagerank's — no per-round
    broadcast.  Returns (node, rank_micro)."""
    e = edges.selectExpr(f"{src} AS src", f"{dst} AS dst").localCheckpoint(
        eager=True
    )
    # partition-preserving checkpoints + window outdeg fold + loop pins:
    # identical r16 optimization to pagerank_integer above (one exchange
    # per round — the partial-agg groupBy(dst); every join reuses the
    # preserved hash partitioning; node-scale sides pinned shuffle_hash
    # because the loop subplans are statically planned inside
    # keyed_checkpoint's AQE-off scope).  The seed base term rides the
    # nodes checkpoint as a column (b = teleport mass for seeds, NULL
    # otherwise): joined once by the one legitimate broadcast (bounded
    # seed set by construction) BEFORE the loop — the per-round
    # re-broadcast it replaces cost one BroadcastExchange job every
    # iteration (the same broadcast-subquery tax measured on the HITS
    # broadcast-max variant).  BroadcastHashJoin preserves the streamed
    # side's partitioning, so nodes still checkpoints as hash(node).
    base = (1000 - damping_milli) * init_micro // 1000
    sd = seeds.select("node").distinct().withColumn(
        "b", F.lit(base).cast("long")
    )
    parts = loop_partitions(e)
    ck = partial(keyed_checkpoint, partitions=parts)
    nodes = ck(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(F.broadcast(sd), "node", "left")
    )
    e = ck(
        e.withColumn(
            "outdeg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
    )
    r0 = F.when(F.col("b").isNotNull(), F.lit(init_micro)).otherwise(0)
    return _rank_loop(
        e, nodes, r0, F.coalesce(F.col("b"), F.lit(0)), iterations,
        damping_milli, ck, "ppr_step", plan_probe,
    )


def bfs_levels(
    und: DataFrame,
    seed: DataFrame,
    max_levels: int,
    plan_probe: list | None = None,
) -> DataFrame:
    """Level-synchronous breadth-first search over an UNDIRECTED edge
    list (src, dst — each edge present in both orientations) from the
    one-column `seed` (node) table, for at most `max_levels` hops: each
    level is frontier JOIN edges -> distinct -> anti-join visited, and
    stops early on an empty frontier.  min-level semantics come for
    free: a node enters `visited` only the first time it is seen.

    `und` must already be materialized by the caller (it has a second
    consumer: the seed derivation).  Returns (node, hops) for every
    reached node, the seed at hops 0."""
    from pyspark.sql import Observation

    # PARTITION-PRESERVING on src (r16 opt, guide §2.4): every level's
    # expansion joins the edge side on src, so the one-off repartition
    # makes the edge leg of all levels exchange-free (a plain
    # localCheckpoint re-enters the planner as UnknownPartitioning and
    # re-exchanges und EVERY level).  The caller's plain checkpoint's
    # AQE-coalesced count is the size-adaptive loop width; the keyed
    # re-checkpoint pins hash(src) at exactly that count so every
    # level's exchanges and the preserved partitioning agree.
    parts = loop_partitions(und)
    ck = partial(keyed_checkpoint, partitions=parts)
    und = ck(und.repartition(parts, "src"))
    visited = seed.withColumn("hops", F.lit(0)).localCheckpoint(eager=True)
    frontier = visited.select("node")
    for lvl in range(1, max_levels + 1):
        # shuffle_hash pins on both node-scale sides (the r15 bug class,
        # see pagerank's loop).  frontier is hash(node) from the previous
        # level's distinct (preserved by keyed_checkpoint), und is
        # hash(src): the expansion join is co-located and exchange-free;
        # the distinct's node-keyed exchange is preserved into the
        # anti-join and into the NEXT level's frontier.
        # The empty-frontier probe rides the checkpoint job itself
        # (Observation — the connected_components move) and `visited`
        # stays a LAZY union of the materialized level pieces (a union's
        # partitioning is not hash(node) even when its members' are, so
        # an eager copy per level buys nothing): 1 job per level.
        obs = Observation()
        nxt = (
            frontier.hint("shuffle_hash")
            .join(und, frontier["node"] == und["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(
                visited.select("node").hint("shuffle_hash"),
                "node",
                "left_anti",
            )
            .observe(obs, F.count(F.lit(1)).alias("n_new"))
        )
        _probe(plan_probe, "bfs_level", nxt)
        nxt = ck(nxt)
        if not obs.get["n_new"]:
            break
        visited = visited.unionByName(nxt.withColumn("hops", F.lit(lvl)))
        frontier = nxt
    return visited
