package graft

import org.apache.spark.GraftTestShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Graph, Stats}
import graft.spark.Adaptive

/** Round-6 library ops: triangle counting (oriented edge list +
  * co-occurrence edge derivation) and the 2-D skyline — each pinned to
  * its brute-force definition on randomized inputs, not just the fixture
  * oracle.
  */
class GraphStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-graphstats-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Brute-force triangle count of an undirected edge set given as
    * (lo, hi) pairs with lo < hi.
    */
  private def bruteTriangles(edges: Set[(Long, Long)]): Long = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    nodes.combinations(3).count { case Seq(a, b, c) =>
      edges((a, b)) && edges((b, c)) && edges((a, c))
    }
  }

  test("triangleCount matches brute force on known and random graphs") {
    val sp = spark; import sp.implicits._
    // K4: 4 triangles; plus a pendant edge that closes nothing
    val k4 = (for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)).toSet + ((4L, 9L))
    assert(bruteTriangles(k4) == 4L)
    val got = Graph.triangleCount(k4.toSeq.toDF("s1", "s2")).head().getLong(0)
    assert(got == 4L, s"K4 + pendant must have 4 triangles, got $got")

    // deterministic pseudo-random graph, seeds chosen to vary density
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val edges = (1 to 120).map { _ =>
        val a = rnd.nextInt(12).toLong; val b = rnd.nextInt(12).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 < e._2).toSet
      val expected = bruteTriangles(edges)
      val actual = Graph.triangleCount(edges.toSeq.toDF("s1", "s2"))
        .head().getLong(0)
      assert(actual == expected, s"random graph: got $actual want $expected")
    }
  }

  test("triangleCount: edges past broadcastEdgesMax fall back to shuffle joins") {
    val sp = spark; import sp.implicits._
    val k4 = (for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)).toSet + ((4L, 9L))
    val df = k4.toSeq.toDF("s1", "s2").localCheckpoint()
    def planOf(frame: org.apache.spark.sql.DataFrame): String =
      frame.queryExecution.executedPlan.toString
    // auto-broadcast off: a test-sized frame is below the planner's own
    // threshold whatever we do, and the subject here is OUR measured-count
    // hint (a 100 TB edge list is past the planner threshold anyway, so
    // this is also the faithful at-scale shape)
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // under the default threshold: 7 edges broadcast — probes are BHJ
      val bPlan = planOf(Graph.triangleCount(df))
      assert(bPlan.contains("BroadcastHashJoin"),
        s"small edge list must broadcast the probes:\n$bPlan")
      // threshold 0 forces the fallback: NO broadcast join anywhere, and
      // the count is unchanged (join strategy cannot change an inner-join
      // count)
      sp.conf.set("spark.graft.graph.broadcastEdgesMax", "0")
      val guarded = Graph.triangleCount(df)
      val gPlan = planOf(guarded)
      assert(!gPlan.contains("BroadcastHashJoin"),
        s"over-threshold edge list must NOT broadcast:\n$gPlan")
      assert(guarded.head().getLong(0) == 4L,
        "fallback plan must count the same 4 triangles")
    } finally {
      sp.conf.unset("spark.graft.graph.broadcastEdgesMax")
      sp.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("cooccurrenceEdges orients s1 < s2 and keeps only above-threshold pairs") {
    val sp = spark; import sp.implicits._
    // items 1..8 shared by members (10, 20); item 9 shared by (20, 30);
    // pair (10,20) shares 8 items, (20,30) shares 1 → mean 4.5, σ 3.5 →
    // threshold 8.0 — nothing clears a strictly-greater cut... so add a
    // third light pair to pull the mean down and keep (10,20) above it.
    val inc = ((1L to 8L).flatMap(i => Seq((i, 10L), (i, 20L))) ++
      Seq((9L, 20L), (9L, 30L), (10L, 40L), (10L, 50L))).toDF("item", "member")
    val got = Graph.cooccurrenceEdges(inc, "item", "member")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // counts: (10,20)=8, (20,30)=1, (40,50)=1 → mean 10/3, σ=sqrt(s2/n-μ²)
    // = sqrt(66/3 - 100/9) ≈ 3.3 → threshold ≈ 6.63 → only (10,20)
    assert(got == Set((10L, 20L)), s"got $got")
    // duplicate incidence rows must not inflate counts
    val withDups = inc.unionAll(inc)
    val got2 = Graph.cooccurrenceEdges(withDups, "item", "member")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == got, "distinct() must make incidence idempotent")
  }

  test("cooccurrenceEdges maxFan drops hot items before pairing") {
    val sp = spark; import sp.implicits._
    // item 1 is shared by members (10, 20) three times over items 1..3;
    // item 99 is a hot item touching 4 members
    val inc = ((1L to 3L).flatMap(i => Seq((i, 10L), (i, 20L))) ++
      Seq((4L, 30L), (4L, 40L)) ++
      (1L to 4L).map(m => (99L, 100L + m))).toDF("item", "member")
    // with the hot item allowed (fan 4 ≤ maxFan), its C(4,2)=6 singleton
    // pairs drag the mean down and (10,20) [c=3] clears mean+σ
    val loose = Graph.cooccurrenceEdges(inc, "item", "member", maxFan = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((10L, 20L)), s"got $loose")
    // with maxFan=3 the hot item is dropped entirely: counts are
    // (10,20)=3, (30,40)=1 → mean 2, σ=1 → threshold 3 — strict '>' cut
    // keeps nothing; crucially none of the 100+ members appear at all
    val tight = Graph.cooccurrenceEdges(inc, "item", "member", maxFan = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set.empty, s"hot item must be excluded, got $tight")
  }

  test("pagerankLoop: one round equals pagerankStep; deltas shrink; tol stops the loop") {
    val sp = spark; import sp.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"))
      .toDF("src", "dst")
    val step = Graph.pagerankStep(edges)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val (r1, rounds1, d1) = Graph.pagerankLoop(edges, 0.85, 1, 0.0)
    val loop1 = r1.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(loop1 == step, s"round 1 must equal the verified single step: $loop1 vs $step")
    assert(rounds1 == 1 && d1.length == 1)
    // tol=0 runs to maxIters; the L1 delta contracts toward the fixpoint
    val (_, rounds20, d20) = Graph.pagerankLoop(edges, 0.85, 20, 0.0)
    assert(rounds20 == 20 && d20.length == 20)
    assert(d20.last < d20.head / 100,
      s"PageRank deltas must contract over 20 rounds: $d20")
    // a loose tol stops the loop early, at the first round that clears it
    val (_, roundsTol, dTol) = Graph.pagerankLoop(edges, 0.85, 20, 1e-3)
    assert(roundsTol < 20 && dTol.last <= 1e-3 &&
      dTol.dropRight(1).forall(_ > 1e-3),
      s"tol must stop at the FIRST clearing round: $dTol")
  }

  test("pagerankLoop: empty edge frame converges immediately without NPE") {
    val sp = spark; import sp.implicits._
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val (r, rounds, deltas) = Graph.pagerankLoop(empty, 0.85, 5, 0.0)
    assert(r.count() == 0 && rounds == 1 && deltas == Seq(0.0))
  }

  test("pagerankLoop: per-round cost is flat — old checkpoints freed, lineage O(1)") {
    val sp = spark; import sp.implicits._
    // degrees deliberately non-uniform (i² mod m is not a bijection) so
    // uniform rank is NOT stationary and the loop runs all 8 rounds
    val edges = (1 to 200)
      .map(i => (s"n${i % 37}", s"n${(i * i) % 23}")).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.size
    val (r, rounds, _) = Graph.pagerankLoop(edges, 0.85, 8, 0.0)
    assert(rounds == 8)
    // live checkpoints after 8 rounds: the loop invariants (edges, node
    // set, N row, out-degrees) + the FINAL rank frame only — round r−1's
    // blocks are freed as round r lands, so storage is O(1) in rounds.
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 5,
      s"checkpoint leak — persistent RDDs grew $before -> $after over 8 rounds")
    // lineage cut: the returned frame is a bare RDD scan, not an
    // O(rounds)-deep plan Catalyst would re-derive per action
    assert(r.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
  }

  test("pagerankConverged tol=0 chain equals the delta-read loop bit-for-bit") {
    val sp = spark; import sp.implicits._
    // non-uniform degrees so ranks move every round; includes a dangling
    // node (d has no out-edges... c->a keeps a cycle) and a multi-edge
    val edges = ((1 to 60).map(i => (s"n${i % 11}", s"n${(i * 7) % 13}")) ++
      Seq(("n1", "n2"), ("n1", "n2"))).toDF("src", "dst")
    for (iters <- Seq(1, 3, 5)) {
      // pagerankConverged(tol=0) now takes the no-delta chained path; the
      // loop with tol<0 is unreachable via converged, so compare against
      // pagerankLoop directly — the frames must be IDENTICAL (both paths
      // share pagerankRound, so any drift means the chain wiring broke)
      val chain = Graph.pagerankConverged(edges, 0.85, iters, tol = 0.0)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      val (lf, _, _) = Graph.pagerankLoop(edges, 0.85, iters, 0.0)
      val loop = lf.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(chain == loop, s"chain != loop at iters=$iters")
    }
    // empty graph: chain path must not NPE and returns an empty frame
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(Graph.pagerankConverged(empty, 0.85, 3, 0.0).count() == 0)
  }

  test("bfsHops: shortest directed hops, cap, early stop, and isolation") {
    val sp = spark; import sp.implicits._
    // chain a→b→c→d plus a shortcut a→c, a cycle d→a, and an island x→y
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"),
      ("d", "a"), ("x", "y")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    def run(cap: Int): Map[String, Int] =
      Graph.bfsHops(edges, seeds, cap)
        .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    // full run: the shortcut wins over the chain (c at 1, not 2); the
    // island never appears; the cycle does not re-enter the seed
    assert(run(5) == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
    // cap truncates strictly below the graph's reach
    assert(run(1) == Map("a" -> 0, "b" -> 1, "c" -> 1))
    assert(run(0) == Map("a" -> 0))
    // directedness: seeding a sink explores nothing
    val back = Graph.bfsHops(edges, Seq("y").toDF("node"), 4)
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(back == Map("y" -> 0))
    // empty seed frame: empty result, no NPE
    assert(Graph.bfsHops(edges, Seq.empty[String].toDF("node"), 3).count() == 0)
  }

  test("bfsHops: per-level storage is flat and the result is lineage-cut") {
    val sp = spark; import sp.implicits._
    // a 12-level path graph forces 12 loop rounds
    val edges = (0 until 12).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.size
    val r = Graph.bfsHops(edges, Seq("n0").toDF("node"), 12)
    assert(r.collect().map(x => (x.getString(0), x.getInt(1))).toMap ==
      (0 to 12).map(i => (s"n$i", i)).toMap)
    val after = spark.sparkContext.getPersistentRDDs.size
    // live blocks after the loop: the edge checkpoint + the final
    // visited frame only — each level frees its predecessor
    assert(after - before <= 3,
      s"checkpoint leak — persistent RDDs grew $before -> $after over 12 levels")
    assert(r.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
  }

  /** bfsHops rows as sorted strings, under the default edge cap (the
    * driver-held loop) and with `broadcastEdgesMax = 0` (the shuffled
    * loop); each run must list every node once.
    */
  private def bfsBothModes(edges: DataFrame, seeds: DataFrame,
                           maxHops: Int): (Seq[String], Seq[String]) = {
    def run(): Seq[String] = {
      val rows = Graph.bfsHops(edges, seeds, maxHops).collect()
        .map(r => s"${r.get(0)}@${r.getInt(1)}").toSeq.sorted
      val nodes = rows.map(_.takeWhile(_ != '@'))
      assert(nodes.distinct.size == nodes.size, s"a node appears twice: $rows")
      rows
    }
    val underCap = run()
    spark.conf.set(Adaptive.BroadcastEdgesMax, "0")
    try (underCap, run()) finally spark.conf.unset(Adaptive.BroadcastEdgesMax)
  }

  test("bfsHops: the driver-held and shuffled loops return the same rows") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { round =>
      val edges = Seq.fill(60)((s"v${rnd.nextInt(30)}", s"v${rnd.nextInt(30)}"))
        .toDF("src", "dst")
      val seeds = Seq.fill(2)(s"v${rnd.nextInt(30)}").toDF("node")
      Seq(1, 3, 10).foreach { hops =>
        val (driver, shuffled) = bfsBothModes(edges, seeds, hops)
        assert(driver == shuffled, s"round $round, maxHops $hops")
        assert(driver.nonEmpty)
      }
    }
    // null endpoints: dropped in both modes, so null never appears at a
    // hop > 0 (a null seed stays at hop 0)
    val withNulls = Seq(("a", "b"), ("a", null), ("b", null), ("b", "c"),
      ("c", null), (null, "d"), ("c", "a")).toDF("src", "dst")
    val (nd, ns) = bfsBothModes(withNulls, Seq("a").toDF("node"), 4)
    assert(nd == Seq("a@0", "b@1", "c@2") && ns == nd)
    val (sd, ss) = bfsBothModes(withNulls, Seq("a", null).toDF("node"), 4)
    assert(sd == Seq("a@0", "b@1", "c@2", "null@0") && ss == sd)
    (1 to 2).foreach { _ =>
      val edges = Seq.fill(80)((rnd.nextInt(40).toLong,
          Option.when(rnd.nextInt(8) != 0)(rnd.nextInt(40).toLong)))
        .toDF("src", "dst")
      val (driver, shuffled) = bfsBothModes(edges, Seq(0, 1).toDF("node"), 6)
      assert(driver == shuffled)
      assert(driver.contains("0@0") && !driver.exists(_.startsWith("null")))
    }
    // long-typed nodes seeded with ints: the seeds compare as longs
    val longs = Seq.fill(80)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .toDF("src", "dst")
    val (ld, ls) = bfsBothModes(longs, Seq(3, 5, 3).toDF("node"), 8)
    assert(ld == ls && ld.count(_.endsWith("@0")) == 2)
  }

  test("bfsHops under the edge cap launches at most two jobs per level") {
    val sp = spark; import sp.implicits._
    val sc = spark.sparkContext
    val edges = (0 until 12).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    def jobs(maxHops: Int): Int = GraftTestShim.jobsDuring(sc)(
      assert(Graph.bfsHops(edges, Seq("n0").toDF("node"), maxHops).count() == maxHops + 1))._2
    val six = jobs(6)
    val twelve = jobs(12)
    assert(twelve - six <= 2 * 6, s"6 levels: $six jobs, 12 levels: $twelve jobs")
  }

  /** Brute-force 2-D skyline per the dominance definition. */
  private def bruteSkyline(pts: Seq[(Double, Int)]): Set[(Double, Int)] = {
    val d = pts.distinct
    d.filter { p =>
      !d.exists(q => q._1 <= p._1 && q._2 <= p._2 &&
        (q._1 < p._1 || q._2 < p._2))
    }.toSet
  }

  test("skyline2dMin matches the brute-force dominance definition") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val pts = (1 to 300).map(_ =>
        (math.round(rnd.nextDouble() * 50) / 10.0, rnd.nextInt(40)))
      val expected = bruteSkyline(pts)
      val got = Stats.skyline2dMin(pts.toDF("price", "size"), "price", "size")
        .collect().map(r => (r.getDouble(0), r.getInt(1))).toSet
      assert(got == expected, s"skyline mismatch: got $got want $expected")
    }
    // degenerate: single point, duplicated points
    val one = Seq((1.5, 3)).toDF("price", "size")
    assert(Stats.skyline2dMin(one, "price", "size").count() == 1)
    val dup = Seq((1.5, 3), (1.5, 3), (2.0, 3)).toDF("price", "size")
    assert(Stats.skyline2dMin(dup, "price", "size")
      .collect().map(r => (r.getDouble(0), r.getInt(1))).toSet == Set((1.5, 3)))
  }
}
