package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.spark.Adaptive

/** Distributed graph primitives as declarative plans. Like
  * [[Similarity.kmeansStep]], iterative algorithms surface here as ONE
  * verifiable iteration — a driver loop composes them (each round is the
  * same plan over the previous round's output), so proving the step
  * proves the loop.
  */
object Graph {

  private val Dec = DecimalType(38, 18)

  /** One PageRank iteration from the uniform start vector over a directed
    * edge list (multi-edges count once each, the multigraph convention):
    *
    *   r1(v) = (1 − d)/N + d · Σ_{(u→v)} r0(u) / outdeg(u),  r0 = 1/N.
    *
    * Dangling nodes keep their mass (no redistribution) — documented
    * choice, mirrored by the oracle.
    *
    * Scale shape — the canonical edge-list formulation, never an
    * adjacency matrix: out-degrees are one src-keyed aggregate; each edge
    * picks up its source's contribution through a join ON THE SAME src
    * partitioning (no extra exchange); incoming mass is one dst-keyed
    * aggregate. N rides along as a broadcast 1-row table. Per-edge
    * contributions are 15-dp-quantized and summed as exact decimals so
    * the rank is independent of shuffle fold order — the float-sum trap
    * of every distributed PageRank.
    *
    * The edge list is MATERIALIZED ONCE (localCheckpoint) before its four
    * consumers (node set ×2 legs, out-degrees, contribution join) — the
    * same edges-cached-per-iteration discipline every Pregel/GraphX-style
    * runner uses. Without it Catalyst re-derives `edges` per consumer:
    * when edges come from a join (the orders⋈lineitem bipartite graph in
    * `pagerank_step`), that was EIGHT base-table scans per iteration.
    * `nodes` (used by the count and the final join) is checkpointed too —
    * it carries a distinct-shuffle that would otherwise run twice.
    */
  def pagerankStep(edges: DataFrame, damping: Double = 0.85): DataFrame = {
    // LAZY checkpoint, plain width (not checkpointWide): unlike the loop —
    // whose broadcast-join rounds run the CPU-bound contrib arithmetic AT
    // the cached width — the single step's contrib join is a shuffle join,
    // so the decimal work runs at shuffle width regardless of how wide e
    // is cached; the widening repartition and its eager materialization
    // job were pure overhead for a frame every consumer re-shuffles
    // anyway (measured: ~1.5 s of pre-action jobs at sf0.1, none of which
    // the loop's round stages pay). The eager `nodes` checkpoint below is
    // e's first consumer and materializes it for the other three.
    val e = edges.localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val nRow = nodes.agg(count(lit(1)).cast("double").as("n"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val contrib = e.join(outdeg, "src")
      .crossJoin(broadcast(nRow))
      .select(col("dst"),
        round(lit(damping) * (lit(1.0d) / col("n")) / col("outdeg"), 15)
          .cast(Dec).as("c"))
    val inMass = contrib.groupBy(col("dst")).agg(sum(col("c")).as("mass"))
    nodes.crossJoin(broadcast(nRow))
      .join(inMass, col("node") === col("dst"), "left")
      .select(col("node"),
        round(coalesce(col("mass").cast("double"), lit(0.0d))
          + lit(1.0d - damping) / col("n"), 9).as("rank"))
  }

  /** PageRank iterated to convergence — the loop the reference's own
    * iterate-until-done control flow (the log₂-pass CUDA merge loop,
    * `QuickInsertionHeap.cu:199-206`) maps to in graph land. Each round
    * is ONE [[pagerankStep]]-shaped plan over the previous round's rank
    * frame; the driver only sequences rounds and reads a 1-row delta.
    *
    * Scale shape of the LOOP (the step's shape is documented above):
    *  - the loop-invariant frames — the node set and the edge list with
    *    its out-degree FOLDED ON (the edges ⋈ degrees join is invariant,
    *    so it runs once, not once per round) — are materialized before
    *    round 1 and reused every round; per-round work is two keyed
    *    shuffles (src-join with the ranks, dst-aggregate), nothing else;
    *    N is collected ONCE into a driver literal (one long — the only
    *    loop-invariant small enough to inline), so no round carries a
    *    1-row broadcast join for it;
    *  - each round's rank frame is `localCheckpoint`ed LAZILY: the
    *    lineage cut that keeps round r's plan O(1) deep instead of O(r)
    *    — without it Catalyst re-derives EVERY previous round inside
    *    round r's plan and per-iteration cost grows without bound (at
    *    cluster scale a reliable-storage checkpoint plays this role).
    *    Lazy matters: the round's ONE action — the delta read — both
    *    computes the new ranks and materializes their checkpoint, so a
    *    round costs one Spark job, not two (the eager-checkpoint +
    *    delta-read pair would double the per-round scheduling floor,
    *    which DOMINATES when |nodes| is small relative to job overhead);
    *  - convergence is the L1 delta Σ|r_i − r_{i−1}| — one 1-row
    *    aggregate per round, the only driver-side data movement. The
    *    loop stops at `delta ≤ tol` or `maxIters`.
    *
    * Ranks are 9-dp-rounded doubles each round (same quantization as
    * [[pagerankStep]]'s output), so every round — hence the whole loop —
    * is bit-replayable by a chained-CTE SQL oracle. With `tol = 0.0` the
    * loop runs exactly `maxIters` rounds unless an exact fixed point is
    * reached, in which case further rounds would reproduce the same
    * frame — either way the output equals the oracle's unrolled chain.
    */
  def pagerankConverged(edges: DataFrame, damping: Double = 0.85,
                        maxIters: Int = 20, tol: Double = 0.0): DataFrame =
    if (tol <= 0.0) pagerankChain(edges, damping, maxIters)
    else pagerankLoop(edges, damping, maxIters, tol)._1

  /** One PageRank round as a plan: (damped in-mass per node) + teleport,
    * from the previous round's `ranks`. Shared verbatim by the delta-read
    * loop and the chained fixed-round path so both produce bit-identical
    * per-round frames (same expressions, same evaluation order).
    *
    * `b` (decided ONCE per loop from the measured node count) swaps the
    * two |nodes|-sized per-round frames (previous ranks, new in-mass)
    * from shuffle joins to broadcasts: per-round data movement drops from
    * O(|edges|) — the edge list re-shuffled by src every round — to
    * O(|nodes|) broadcast bytes plus the one unavoidable contribution
    * shuffle. Results are identical either way (the decimal contribution
    * sums are fold-order-free by construction).
    */
  private def pagerankRound(nodes: DataFrame, eo: DataFrame, ranks: DataFrame,
                            damping: Double, n: Double,
                            b: DataFrame => DataFrame): DataFrame = {
    val contrib = eo
      .join(b(ranks.select(col("node").as("src"), col("rank").as("r_prev"))),
        "src")
      .select(col("dst"),
        round(lit(damping) * col("r_prev") / col("outdeg"), 15)
          .cast(Dec).as("c"))
    val inMass = contrib.groupBy(col("dst")).agg(sum(col("c")).as("mass"))
    nodes
      .join(b(inMass), col("node") === col("dst"), "left")
      .select(col("node"),
        round(coalesce(col("mass").cast("double"), lit(0.0d))
          + lit((1.0d - damping) / n), 9).as("rank"))
  }

  /** Fixed-round PageRank with NO per-round driver action — the `tol ≤ 0`
    * fast path of [[pagerankConverged]]. With `tol = 0` the delta read
    * exists only to early-stop at an EXACT fixed point, and a fixed point
    * maps to itself (each round is a deterministic function of the rank
    * frame), so running all `maxIters` rounds yields the identical frame;
    * the per-round delta join + 1-row aggregate — a whole Spark job per
    * round in the loop — is pure overhead and is dropped here. Proven
    * equal round-by-round via the shared [[pagerankRound]] plan builder
    * (GraphStatsSpec pins chain == loop on the same edges).
    *
    * Scale shape: the loop-invariant frames materialize exactly as in
    * [[pagerankLoop]]; each round's frame is LAZILY `localCheckpoint`ed —
    * that cut keeps every round's Catalyst plan O(1) deep (the checkpoint
    * boundary is a LogicalRDD even before materialization), while the ONE
    * terminal action (the caller's write) computes the whole chain in a
    * single Spark job: per-round cost collapses from one scheduled job +
    * state-diff shuffle to just the round's own two keyed shuffles.
    * Intermediate rounds cache as they materialize; all but the final
    * frame are dead immediately, and rounds before the last are freed by
    * the caller's post-action unpersist sweep (harness) or a driver GC +
    * ContextCleaner pass (they are never re-referenced either way).
    */
  private def pagerankChain(edges: DataFrame, damping: Double,
                            maxIters: Int): DataFrame = {
    require(maxIters >= 1, "pagerank needs at least one iteration")
    val e = edges.localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    // eo is scanned by EVERY round's CPU-heavy contrib stage — cache it
    // at full cluster width (see CheckpointUtil.checkpointWide: AQE's
    // byte-based coalescing otherwise caches it 1-2 wide and serializes
    // every round's map work on as many cores).
    val eo = graft.spark.CheckpointUtil.checkpointWide(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
        .select(col("src"), col("dst"), col("outdeg")))
    graft.spark.CheckpointUtil.unpersistCheckpointed(e)
    val n = nodes.count().toDouble
    val b = Adaptive.broadcastIf(edges.sparkSession, n.toLong, Adaptive.BroadcastNodesMax)
    var ranks = nodes
      .select(col("node"), lit(1.0d / n).as("rank"))
      .localCheckpoint(eager = false)
    var rounds = 0
    while (rounds < maxIters) {
      ranks = pagerankRound(nodes, eo, ranks, damping, n, b)
        .localCheckpoint(eager = false)
      rounds += 1
    }
    ranks
  }

  /** [[pagerankConverged]] plus loop diagnostics: (ranks, rounds run,
    * per-round L1 deltas) — the test/inspection surface. */
  def pagerankLoop(edges: DataFrame, damping: Double, maxIters: Int,
                   tol: Double): (DataFrame, Int, Seq[Double]) = {
    require(maxIters >= 1, "pagerank needs at least one iteration")
    // e is checkpointed LAZILY — the eager `nodes` materialization below
    // is its first consumer and pays for it; `eo` (the second and last
    // consumer) then reads the cached blocks, after which e is freed.
    val e = edges.localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    // The edges ⋈ out-degrees join is LOOP-INVARIANT — fold the degree
    // onto each edge once and free the raw edge frame; every round then
    // pays one join (degreed edges ⋈ current ranks) instead of two.
    // Full-width cache for the same reason as the chain path above.
    val eo = graft.spark.CheckpointUtil.checkpointWide(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
        .select(col("src"), col("dst"), col("outdeg")))
    graft.spark.CheckpointUtil.unpersistCheckpointed(e)
    // N is loop-invariant and one long — collect it once; on an empty
    // graph no row ever evaluates the 1/n expressions below.
    val n = nodes.count().toDouble
    // r0 = the uniform start vector; lazy — round 1's delta read
    // materializes it alongside round 1's own frame.
    var ranks = nodes
      .select(col("node"), lit(1.0d / n).as("rank"))
      .localCheckpoint(eager = false)
    val b = Adaptive.broadcastIf(edges.sparkSession, n.toLong, Adaptive.BroadcastNodesMax)
    val deltas = scala.collection.mutable.ArrayBuffer.empty[Double]
    var rounds = 0
    var done = false
    while (rounds < maxIters && !done) {
      val next = pagerankRound(nodes, eo, ranks, damping, n, b)
        .localCheckpoint(eager = false)
      // coalesce: sum over the empty delta join (edge frame with no rows
      // → empty node set) is NULL; an empty graph is converged at 0.
      val delta = next.join(ranks.select(col("node"), col("rank").as("prev")), "node")
        .agg(coalesce(sum(abs(col("rank") - col("prev"))), lit(0.0d)).as("d"))
        .head().getDouble(0)
      deltas += delta
      // Round r−1's checkpointed blocks are dead once the delta is read —
      // free them NOW instead of waiting for a driver GC + ContextCleaner
      // pass, or executor storage grows O(rounds × |nodes|).
      graft.spark.CheckpointUtil.unpersistCheckpointed(ranks)
      ranks = next
      rounds += 1
      done = delta <= tol
    }
    (ranks, rounds, deltas.toSeq)
  }

  /** Minimum-hop BFS from a seed set over a directed edge list, capped at
    * `maxHops` levels: returns `(node, hops)` with `hops = 0` for seeds
    * and the SHORTEST directed distance otherwise — the reachability /
    * blast-radius primitive (lineage tracing, contamination spread,
    * k-hop neighborhoods) in the same driver-sequenced loop family as
    * [[pagerankConverged]]. Each node appears once. Edges with a null
    * endpoint are dropped: a null node can be neither reached nor
    * expanded, and a join never matches it against the visited set, so
    * keeping it would re-add it at every level.
    *
    * Scale shape — frontier expansion, never an adjacency matrix or a
    * transitive closure. The DISTINCT edge list is checkpointed once
    * (multi-edges add nothing to reachability — a web-scale hot page's
    * 10⁶ duplicate in-links would otherwise multiply every frontier
    * join), and its row count picks one of two loops:
    *  - at most [[graft.spark.Adaptive.BroadcastEdgesMax]] edges: the
    *    loop state lives on the driver. The visited map holds at most
    *    2·|E| nodes, and one level's collected `dst` at most |E| rows —
    *    the bound a broadcast of the same state would have. Each level is
    *    one query, edges ⋈ broadcast(frontier) on src, that collects
    *    `dst`; the driver drops the nodes it has visited, and what is
    *    left is the next frontier. That is two Spark jobs per level (the
    *    broadcast and the collect). The result is built from the driver's
    *    rows, so it is lineage-cut like the other loop's. Node values are
    *    compared in the type Spark would compare them in (the seeds are
    *    cast to it); a type whose JVM equality differs from Spark's
    *    (floating point, binary, nested) takes the other loop.
    *  - above the cap: each level is one keyed join (edges ⋈ frontier on
    *    src — the per-level cost is the edges INCIDENT to the frontier,
    *    not |E|), one distinct, and one left-anti join against the
    *    visited set, all hash-partitioned on the node key. The visited
    *    set is lazily `localCheckpoint`ed per level and the previous
    *    level's blocks are freed once the next materializes — the same
    *    O(1)-lineage / O(1)-storage discipline as the PageRank loop. The
    *    new-node count is the materialization trigger and the termination
    *    test.
    * Either loop stops before `maxHops` on an empty frontier.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "bfs needs a non-negative hop cap")
    val e = edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct().localCheckpoint()
    val start = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0).as("hops"))
    // the schema the shuffled loop's union gives the result
    val schema = start.unionAll(e.select(col("dst").as("node"), lit(1).as("hops"))).schema
    if (Adaptive.underCap(edges.sparkSession, e.count(), Adaptive.BroadcastEdgesMax) &&
        equalsOnDriver(schema("node").dataType)) bfsOnDriver(e, start, schema, maxHops)
    else bfsShuffled(e, start, maxHops)
  }

  /** Node types whose JVM value equality is Spark's join equality. */
  private def equalsOnDriver(t: DataType): Boolean = t match {
    case StringType | ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType | TimestampNTZType | _: DecimalType => true
    case _ => false
  }

  private def bfsOnDriver(e: DataFrame, start: DataFrame, schema: StructType,
                          maxHops: Int): DataFrame = {
    val spark = e.sparkSession
    val node = schema("node")
    val visited = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    start.select(col("node").cast(node.dataType)).collect()
      .foreach(r => visited(r.get(0)) = 0)
    var frontier: Seq[Any] = visited.keys.toSeq
    var level = 0
    while (level < maxHops && frontier.nonEmpty) {
      val f = spark.createDataFrame(frontier.map(Row(_)).asJava, StructType(Seq(node)))
      level += 1
      frontier = e.join(broadcast(f), e("src") === f("node"))
        .select(col("dst").cast(node.dataType)).collect()
        .map(_.get(0)).filterNot(visited.contains).distinct.toSeq
      frontier.foreach(visited(_) = level)
    }
    graft.spark.CheckpointUtil.unpersistCheckpointed(e)
    spark.createDataFrame(spark.sparkContext.parallelize(
      visited.iterator.map { case (n, h) => Row(n, h) }.toSeq), schema)
  }

  private def bfsShuffled(e: DataFrame, start: DataFrame, maxHops: Int): DataFrame = {
    var visited = start.localCheckpoint(eager = false)
    // the frontier is carved from the checkpointed visited frame (its
    // newest level) rather than checkpointed separately — one cached
    // frame of loop state per level, not two
    var level = 0
    var grew = visited.count() > 0
    while (level < maxHops && grew) {
      val frontier = visited.where(col("hops") === level).select(col("node"))
      val next = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(level + 1).as("hops"))
      val grown = visited.unionAll(next).localCheckpoint(eager = false)
      level += 1
      grew = grown.where(col("hops") === level).limit(1).count() > 0
      graft.spark.CheckpointUtil.unpersistCheckpointed(visited)
      visited = grown
    }
    visited
  }

  /** Co-occurrence edges from an (item, member) incidence list: members
    * sharing an item pair up (s1 < s2 orientation, so each undirected
    * edge is built once), and only pairs whose shared-item count clears
    * mean + σ of the count distribution survive — exact integer moments
    * (Σc, Σc², n as longs) feed a fixed-order double threshold, so the
    * cut is engine-portable and the graph stays on the sparse tail at
    * any input scale. The pair space is Σ_item C(members(item), 2) —
    * linear in incidence rows for bounded fan-out, which `maxFan`
    * ENFORCES: items with more than `maxFan` distinct members are
    * dropped before pairing (the same hot-bucket guard LSH dedup uses —
    * a member set that large carries no co-occurrence signal, only a
    * quadratic pair blow-up; one web-scale stopword-item would otherwise
    * emit C(10⁶, 2) pairs). The fan aggregate hashes on the item key the
    * pair join already needs, so the guard rides the existing exchange.
    */
  def cooccurrenceEdges(incidence: DataFrame, itemCol: String,
                        memberCol: String, maxFan: Int = 10000): DataFrame = {
    // The reduced frames are MATERIALIZED ONCE (localCheckpoint) at their
    // natural reuse points — Catalyst has no subtree CSE, so without this
    // `all` re-derives per consumer (fan aggregate + pair join), the
    // self-joined `ps` doubles that, and the threshold legs double it
    // again: up to 8 base-relation scans for one edge list. Both frames
    // are already reduced (distinct incidence pairs / distinct co-pairs),
    // so the materialization is the small end of the dataflow.
    // Full-width cache: `all` is re-scanned by the fan aggregate and BOTH
    // sides of the pair self-join — the wedge/pair explosion is the
    // CPU-heavy leg of this operator, and an AQE-coalesced distinct
    // output would cache it a few partitions wide (measured 5/32 slots
    // busy; see CheckpointUtil.checkpointWide).
    val all = graft.spark.CheckpointUtil.checkpointWide(
      incidence.select(col(itemCol).as("g_item"),
        col(memberCol).as("g_member")).distinct())
    val smallItems = all.groupBy(col("g_item"))
      .agg(count(lit(1)).as("fan"))
      .where(col("fan") <= maxFan)
      .select(col("g_item"))
    // Explicit item-keyed repartition at cluster width: the pair join's
    // REDUCE stage is where the C(fan, 2) explosion happens, and AQE
    // sizes that stage by its INPUT bytes (two id columns — tiny), not
    // the blow-up, serializing the explosion onto a few tasks (measured
    // 5/32). A user-specified hash repartition on the join key is exactly
    // the distribution the join needs (no extra exchange — the join
    // reuses it) and AQE leaves it alone. Width = defaultParallelism:
    // one wave of the CPU-bound stage at any cluster size.
    val slots = incidence.sparkSession.sparkContext.defaultParallelism
    val ps = all.repartition(slots, col("g_item"))
      .join(smallItems.repartition(slots, col("g_item")), Seq("g_item"))
    val shared = ps
      .join(ps.select(col("g_item").as("b_item"), col("g_member").as("s2")),
        col("g_item") === col("b_item") && col("g_member") < col("s2"))
      .groupBy(col("g_member").as("s1"), col("s2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val thr = shared
      .agg(sum(col("c")).as("cs"), sum(col("c") * col("c")).as("cs2"),
        count(lit(1)).as("cn"))
      .select((col("cs").cast("double") / col("cn").cast("double") +
        sqrt(greatest(
          (col("cs2").cast("double") -
            col("cs").cast("double") * col("cs").cast("double") /
              col("cn").cast("double")) / col("cn").cast("double"),
          lit(0.0)))).as("thr_c"))
    shared.crossJoin(broadcast(thr))
      .where(col("c") > col("thr_c"))
      .select(col("s1"), col("s2"))
  }

  /** Triangle count of an oriented (s1 < s2) edge list: two wedge-closing
    * equi-joins — e1=(a,b), e2=(b,c) keyed on the shared middle node,
    * closed by probing (a,c). Every join is keyed (no cartesian); with
    * degree-bounded edges the wedge volume is Σ_a C(outdeg(a), 2).
    * The caller materializes `edges` (localCheckpoint) when it feeds
    * multiple consumers — Catalyst has no subtree CSE.
    *
    * Join strategy (guide §3.1): both probe sides BROADCAST while the
    * MEASURED edge count clears [[graft.spark.Adaptive.BroadcastEdgesMax]]
    * (the caller has materialized `edges`, so the count reads cached
    * blocks) — the edge list is the post-threshold sparse tail (two id
    * columns; the mean+σ cut in [[cooccurrenceEdges]] bounds the typical
    * case), which fits a broadcast relation long after the wedge stream
    * does not. The
    * sort-merge alternative shuffles the wedge EXPLOSION by (a,c) —
    * measured at sf0.1 that shuffle's byte size coalesced the probe to
    * ONE task (AQE sizes by bytes, wedge rows are 3 ids) while the
    * broadcast form runs map-side at the cached edge width with zero
    * exchanges before the 1-row count. An adversarial edge list that
    * exceeds the threshold (a heavy tail the mean+σ cut does not bound)
    * keeps the shuffle-join plan instead of throwing at Spark's 8 GB
    * broadcast cap; results are identical either way (count of an inner
    * join is join-strategy-free).
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val b = Adaptive.broadcastIf(edges.sparkSession, edges.count(),
      Adaptive.BroadcastEdgesMax)
    edges
      .join(b(edges.select(col("s1").as("t2_s1"), col("s2").as("t2_s2"))),
        col("s2") === col("t2_s1"))
      .join(b(edges.select(col("s1").as("t3_s1"), col("s2").as("t3_s2"))),
        col("s1") === col("t3_s1") && col("t2_s2") === col("t3_s2"))
      .agg(count(lit(1)).as("n_triangles"))
  }
}
