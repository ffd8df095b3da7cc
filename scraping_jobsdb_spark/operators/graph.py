"""Iterative graph operators: connected components for dedup clustering.

Near-duplicate detection emits PAIRS (minhash/simhash/embedding candidates,
``operators/similarity.py``); deduplication needs CLUSTERS — keep one
document per connected component of the pair graph. This is the step between
LSH and the actual delete list in every production dedup pipeline.

Spark has no recursive SQL, so components are computed iteratively. Each
round does min-label propagation (a node takes the min of its own and its
neighbors' labels — one join + one aggregate) followed by a POINTER-JUMP
(label(u) := label(label(u)) — one self-join): propagation moves a label one
hop per round, the jump halves every remaining path, so convergence is
O(log diameter) rounds rather than O(diameter). This is the
pointer-doubling treatment of the same problem the large-star/small-star
algorithm targets (Kiveris et al., "Connected Components in MapReduce and
Beyond"): logarithmic rounds on high-diameter graphs, while staying two
joins per round on the shallow clusters dedup actually produces.
``localCheckpoint`` truncates lineage each round so the plan doesn't grow
with the iteration count (the classic iterative-algorithm trap on Spark);
pass ``checkpoint_dir=`` (a reliable HDFS/S3 path) to switch every
materialization to fault-tolerant ``checkpoint()`` — the cluster-scale
posture, since executor loss under truncated lineage otherwise kills the
run (see ``_materialize``).

At billion-edge scale the same loop holds: both joins shuffle on node id,
labels are (id, label) pairs — the GraphX/GraphFrames propagation pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from scraping_jobsdb_spark.session import local_df

__all__ = ["connected_components", "dedup_keep_list", "dedup_keep_best", "pagerank"]


def _materialize(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Lineage truncation for the iterative loops, in one of two modes.

    ``checkpoint_dir=None`` (default): ``localCheckpoint()`` — blocks live
    on executors, no filesystem round-trip. Right for local mode and for
    clusters where re-running a failed job is acceptable; NOT fault-
    tolerant, because an executor loss mid-iteration destroys blocks whose
    lineage was truncated (no recompute path — the whole job dies).

    ``checkpoint_dir=<reliable path>`` (HDFS/S3/shared fs): reliable
    ``df.checkpoint()`` against that directory — each round's state is
    written out, so executor loss costs a re-read, not the job. The
    cluster-scale posture for long iterative runs; costs one fs write +
    read per materialization. Both modes produce bit-identical results
    (pinned by tests/test_graph.py)."""
    if checkpoint_dir is None:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint()


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    small_graph_threshold: int = 1_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, component) for every node of the undirected pair graph, where
    ``component`` is the minimum node id reachable from ``id`` — a canonical,
    deterministic cluster key.

    Adaptive strategy, the same small-side escape hatch AQE applies to
    joins: once the (deduplicated, symmetrized) edge list is materialized
    its size is known exactly, and at or under ``small_graph_threshold``
    edges the components are solved with driver-side union-find — a few
    megabytes collected, zero iterative jobs. Near-dup pair graphs are
    almost always in this regime (pairs are the OUTPUT of an aggressive
    candidate filter). Above the threshold the distributed
    propagate-and-pointer-jump loop runs: converges in O(log diameter)
    rounds, two checkpointed jobs per round, convergence sums riding the
    checkpoint jobs as observed metrics. Both paths produce bit-identical
    results. Raises if ``max_iter`` rounds don't converge — with jumping
    that no longer signals a deep graph, only a logic regression, so the
    guard is purely defensive.
    """
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    sym = sym.distinct()

    # Small-graph probe in ONE action: collect at most threshold+1 edges.
    # If everything fit, those rows ARE the graph — solve driver-side with
    # no checkpoint job and no separate count (this was checkpoint + count
    # + collect, three jobs, before r14). Union-find is order-independent
    # and keys each component by its MIN member, so an arbitrary
    # limit-order changes nothing. Oversized graphs pay one discarded
    # partial scan (rare by construction: pairs are the output of an
    # aggressive candidate filter) and then take the distributed loop.
    head = sym.limit(small_graph_threshold + 1).collect()
    if len(head) <= small_graph_threshold:
        return _components_driver_side(sym, head)
    sym = _materialize(sym, checkpoint_dir)

    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )

    # Convergence witness: labels only ever DECREASE under min-propagation,
    # so the label sum strictly decreases iff any label changed — and the
    # sums ride the checkpoint jobs as observed metrics (CollectMetrics),
    # so a round costs exactly TWO jobs (propagate+checkpoint,
    # jump+checkpoint) with no separate convergence action. decimal(38,0):
    # exact, and immune to bigint overflow on huge graphs.
    from pyspark.sql import Observation

    _dsum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    init_obs = Observation()
    labels = _materialize(labels.observe(init_obs, _dsum), checkpoint_dir)
    prev_sum = init_obs.get["s"]

    for _ in range(max_iter):
        # 1-hop propagation: min over neighbors' current labels
        neighbor_min = (
            sym.join(labels, sym.v == labels.id)
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        # checkpointed: the pointer-jump self-join below references this plan
        # twice, so without materialization the propagation join+aggregate
        # would run once per side — doubling exactly the per-round work the
        # jump is meant to save.
        prop_obs = Observation()
        propagated = (
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .observe(prop_obs, _dsum)
        )
        propagated = _materialize(propagated, checkpoint_dir)
        # A propagation fixpoint IS full convergence (every label already
        # equals the component minimum), so an unchanged sum here ends the
        # loop before paying the jump join at all.
        prop_sum = prop_obs.get["s"]
        if prop_sum == prev_sum:
            return propagated.select("id", F.col("label").alias("component"))
        # pointer jump: label(u) := label(label(u)). Labels are node ids, so
        # the lookup is a self-join against the same label table; each jump
        # halves the remaining pointer-chain depth.
        jump_obs = Observation()
        new_labels = (
            propagated.alias("p")
            .join(
                propagated.select(
                    F.col("id").alias("l_id"), F.col("label").alias("l_label")
                ),
                F.col("p.label") == F.col("l_id"),
                "left",
            )
            .select(
                F.col("p.id").alias("id"),
                F.least(
                    F.col("p.label"),
                    F.coalesce(F.col("l_label"), F.col("p.label")),
                ).alias("label"),
            )
            .observe(jump_obs, _dsum)
        )
        new_labels = _materialize(new_labels, checkpoint_dir)
        labels = new_labels
        prev_sum = jump_obs.get["s"]
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "this should be unreachable with pointer jumping; check the input "
        "for label-domain anomalies"
    )


def _components_driver_side(sym: DataFrame, rows) -> DataFrame:
    """Union-find over a collected small edge list (both directions
    present; direction is irrelevant to union). Path-halving find keeps
    the scan near-linear; the component key is the MINIMUM member id,
    assigned in a final pass so the result matches the distributed
    min-label loop bit-for-bit regardless of union order. ``sym`` supplies
    only schema/session; ``rows`` is the already-collected edge list.

    Cost model: the result is built with ``local_df`` — one Arrow batch
    that lives JVM-side as a ``LocalRelation``. ``createDataFrame(list)``
    would leave the rows in Python-pickled partitions, and every consumer
    (the keep-best join, a write's anti-join) would then pay a
    Python-worker round trip per partition. Measured on the
    2,300-document ``dedup_corpus`` pass (4 vCPUs, traced, seed 1): the
    curated-corpus write, whose anti-join reads this frame, went from 0.87
    to 0.44 s. Most of that round trip was PySpark re-reading
    ``pyspark.zip`` at every task, which ``pydaemon`` removes; the rest
    (about 55 ms a partition, see ``session.local_df``) still pays for
    ``local_df``."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    members: dict = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    out = []
    for group in members.values():
        comp = min(group)
        out.extend((node, comp) for node in group)
    id_type = sym.schema[0].dataType.simpleString()
    schema = f"id {id_type}, component {id_type}"
    return local_df(sym.sparkSession, out, schema)


def dedup_keep_list(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """From near-dup pairs to the keep/drop decision: one row per clustered
    node with its component and ``keep`` = (id == component) — the smallest
    id in each cluster survives, everything else is the delete list.
    Documents with no pair at all never appear (they are trivially kept)."""
    cc = connected_components(edges, src, dst)
    return cc.select(
        "id", "component", (F.col("id") == F.col("component")).alias("keep")
    )


def dedup_keep_best(
    edges: DataFrame,
    scores: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware canonical selection: from near-dup pairs plus a
    per-document score, keep the BEST-scoring document of each cluster
    (ties: smallest id) instead of ``dedup_keep_list``'s smallest-id rule —
    what a curation pipeline actually wants when duplicates differ in
    quality (truncated copies, boilerplate-injected mirrors).

    Output: one row per clustered node — (id, component, score, keep).
    Un-paired documents never appear (trivially kept). Deterministic
    PROVIDED the caller quantizes a floating-point score first (round to
    9 dp — the cross-engine ulp contract). One extra shuffle over
    ``dedup_keep_list``: the per-component argmax window.
    """
    cc = connected_components(edges, src, dst)
    scored = cc.join(
        scores.select(
            F.col(id_col).alias("id"), F.col(score_col).alias("__score")
        ),
        "id",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__score").desc(), F.col("id")
    )
    return scored.select(
        "id",
        "component",
        F.col("__score").alias(score_col),
        (F.row_number().over(w) == 1).alias("keep"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_milli: int = 850,
    scale: int = 1_000_000,
    src: str = "src",
    dst: str = "dst",
    dangling: str = "leak",
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """INTEGER-EXACT PageRank over a directed edge list — fixed-iteration
    power method with every arithmetic step in scaled integers, so the
    result is bit-identical across engines, partitionings, and summation
    orders (floating-point PageRank is not: float addition isn't
    associative, so a shuffle repartition changes low bits and any
    value-hash check flips). Per-node rank starts at ``scale`` (mass 1.0
    in micro-units); each iteration every node sends ``rank DIV outdeg``
    along each out-edge and receives

        rank' = ((1000 - damping_milli) * scale
                 + damping_milli * sum(incoming contributions)) DIV 1000

    — the classic d=0.85 update with floor division at the two points
    floats would round. Truncation loss per node per iteration is < 1000
    micro-units (outdeg remainder + the DIV 1000), far below any ranking
    gap of interest, and deterministic.

    ``dangling``: how nodes with outdeg 0 are treated. ``"leak"`` (default,
    the oracle-friendly form) drops their damped mass, keeping every value
    a pure function of the node's in-neighborhood — rank order matches the
    standard formulation on non-degenerate graphs but can differ on graphs
    with sinks. ``"redistribute"`` adds the standard uniform correction:
    each iteration the danglers' total rank ``D`` is ONE integer global
    scalar (a 1-row aggregate broadcast into the update — no driver
    round-trip), and every node receives ``D div N`` extra incoming mass —
    still integer-exact and repartition-stable, and it matches the
    textbook/NetworkX formulation within truncation error (pinned by a
    sink-graph test).

    Scale shape: one groupBy(src) for out-degrees, then per iteration ONE
    join of the rank frame with the (static, re-usable) edge list and ONE
    aggregate on dst — the standard Pregel-style message pass. In ``leak``
    mode each iteration references the previous rank exactly ONCE, so the
    unrolled plan grows linearly and ranks only need materializing every
    ``checkpoint_interval`` rounds (the GraphX/ALS checkpointInterval
    discipline): a 5-iteration run is ONE job instead of five
    materialization jobs, and lineage still stays bounded for long runs.
    ``redistribute`` mode needs each round's dangling mass as a driver
    scalar before the NEXT round's plan can be built, so it materializes
    every iteration (except the last — the caller's action covers it);
    the mass itself is OBSERVED on that materialization (a static dangler
    flag on the node frame + ``observe``), so the previous rank frame is
    referenced exactly once per round — no second aggregate/broadcast
    subtree, and the plan stays linear. Materialization is
    ``localCheckpoint`` — or reliable
    ``checkpoint()`` when ``checkpoint_dir`` is given (the fault-tolerant
    cluster posture, see ``_materialize``). The edge list is checkpointed
    ONCE and both per-iteration consumers (join, degree lookup) reuse it.
    Returns (node, rank) for every node appearing as src or dst.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if not 0 <= damping_milli <= 1000:
        raise ValueError(f"damping_milli must be in [0, 1000], got {damping_milli}")
    if dangling not in ("leak", "redistribute"):
        raise ValueError(
            f"dangling must be 'leak' or 'redistribute', got {dangling!r}"
        )
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # Out-degree is STATIC: attach it to the edge list ONCE (one shuffle,
    # here, at build) instead of re-joining rank⋈outdeg inside every
    # iteration (guide §2.4 — the per-iteration message pass drops from
    # two joins to one, removing one Exchange per round at any scale).
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    e2 = _materialize(e.join(outdeg, "src"), checkpoint_dir)  # (src,dst,d)
    # every e row's src has outdeg >= 1, so e2 spans exactly e's rows
    nodes = (
        e2.select(F.col("src").alias("node"))
        .union(e2.select(F.col("dst").alias("node")))
        .distinct()
    )
    if dangling == "redistribute":
        # Danglers are STATIC (outdeg never changes), so the node frame
        # carries a dangler FLAG from the start: each round's dangling
        # mass is then OBSERVED on the rank materialization the round
        # already pays (guide §2.4/§5 — r14 referenced the previous rank
        # frame a second time per round for a separate aggregate +
        # broadcast + cross join; the observe rides the checkpoint job,
        # so that whole subtree is gone). N and the initial mass
        # D_0 = |danglers| * scale are driver constants from one agg.
        srcs = e2.select(F.col("src").alias("node")).distinct()
        nodes = nodes.join(
            srcs.withColumn("__dang", F.lit(False)), "node", "left"
        ).select("node", F.coalesce("__dang", F.lit(True)).alias("__dang"))
    nodes = _materialize(nodes, checkpoint_dir)
    if dangling == "redistribute":
        counts = nodes.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("__dang"), 1).otherwise(0)).alias("nd"),
        ).collect()[0]
        n_nodes = int(counts["n"])
        d_mass = int(counts["nd"] or 0) * scale
    if checkpoint_interval < 1:
        raise ValueError(
            f"checkpoint_interval must be >= 1, got {checkpoint_interval}"
        )
    rank = nodes.select("node", F.lit(scale).cast("bigint").alias("rank"))
    base = ((1000 - damping_milli) * scale)
    for it in range(iterations):
        # `div` is integral division on integer operands — exact at any
        # magnitude, unlike `/` (DOUBLE division + truncation, which loses
        # ulps past 2^53 on big aggregated masses)
        # rank div d is a pure per-(node, d) integer — computing it on the
        # joined edge row replays the old per-node value exactly
        contrib = (
            rank.join(e2, rank.node == e2.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank div d")).alias("contrib"))
        )
        if dangling == "redistribute":
            # The danglers' total rank D is known from the PREVIOUS
            # round's observation (D_0 exactly |danglers| * scale), so
            # the uniform share D div N is a pure integer LITERAL —
            # same value the r14 broadcast aggregate computed (Python //
            # == SQL div for the non-negative D), with one reference to
            # the previous rank frame instead of two.
            share = (d_mass // n_nodes) if n_nodes else 0
            rank = (
                nodes.join(contrib, "node", "left")
                .select(
                    "node",
                    "__dang",
                    F.expr(
                        f"(CAST({base} AS BIGINT) + {damping_milli}"
                        f" * (coalesce(contrib, 0) + {share})) div 1000"
                    ).alias("rank"),
                )
            )
            # materialize to learn this round's D — except after the
            # LAST round, whose D feeds nothing (the caller's action
            # materializes the final state; one fewer checkpoint job)
            if it + 1 < iterations:
                obs = Observation()
                rank = _materialize(
                    rank.observe(
                        obs,
                        F.sum(
                            F.when(F.col("__dang"), F.col("rank"))
                        ).alias("__dm"),
                    ),
                    checkpoint_dir,
                )
                dm = obs.get["__dm"]
                d_mass = int(dm) if dm is not None else 0
        else:
            rank = (
                nodes.join(contrib, "node", "left")
                .select(
                    "node",
                    F.expr(
                        f"(CAST({base} AS BIGINT)"
                        f" + {damping_milli} * coalesce(contrib, 0)) div 1000"
                    ).alias("rank"),
                )
            )
            # single-reference chain: only truncate lineage every
            # checkpoint_interval rounds (never after the last — the
            # caller's action materializes the final state)
            if (it + 1) % checkpoint_interval == 0 and it + 1 < iterations:
                rank = _materialize(rank, checkpoint_dir)
    if dangling == "redistribute":
        rank = rank.select("node", "rank")
    return rank
