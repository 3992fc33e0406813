package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Golden snapshot of every query's physical-plan SHAPE: per-query counts
  * of the operators that decide scale behavior (shuffle exchanges, sorts,
  * join kinds, parquet scans, aggregate kinds, windows, bounded top-k).
  *
  * The scan-multiplicity sweep caught round 7's `exactFromSketches`
  * regression — an extra full corpus scan the ORACLE could never see
  * because the answer stayed right. This spec generalizes that guard:
  * ANY drift in a query's operator counts (a new shuffle, a lost
  * broadcast, a SortAggregate fallback, one more scan) fails against the
  * snapshot, naming the query and the exact counter.
  *
  * Update path, for INTENDED plan changes: re-run with
  * `GRAFT_UPDATE_PLAN_SNAPSHOT=1 sbt "testOnly graft.PlanFingerprintSpec"`,
  * eyeball the `git diff` of `src/test/resources/plan_fingerprints.txt`
  * (each changed counter is a deliberate plan decision you are signing
  * off), and commit the file with the code change.
  */
class PlanFingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private val snapshotPath = Paths.get("src/test/resources/plan_fingerprints.txt")
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-plan-fingerprint")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.ops.Tables.NanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The counted operator classes. Patterns guard against substring
    * collisions (Exchange vs BroadcastExchange, Sort vs SortMergeJoin /
    * SortAggregate) with a letter lookbehind.
    */
  private val counters: Seq[(String, scala.util.matching.Regex)] = Seq(
    "shuffles" -> "(?<![A-Za-z])Exchange |RangeScatter ".r,
    "broadcasts" -> "BroadcastExchange".r,
    "sorts" -> "(?<![A-Za-z])Sort \\[".r,
    "smj" -> "SortMergeJoin".r,
    "bhj" -> "BroadcastHashJoin".r,
    "bnlj" -> "BroadcastNestedLoopJoin".r,
    "scans" -> "Scan parquet".r,
    "hashagg" -> "(?<![A-Za-z])HashAggregate".r,
    "objagg" -> "ObjectHashAggregate".r,
    "sortagg" -> "SortAggregate".r,
    "windows" -> "(?<![A-Za-z])Window ".r,
    "topk" -> "TakeOrderedAndProject".r)

  private def fingerprint(name: String): String = {
    val p = SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString
    counters.map { case (k, re) => s"$k=${re.findAllIn(p).length}" }
      .mkString(s"$name ", " ", "")
  }

  test("every query's physical-plan operator counts match the golden snapshot") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val current = names.map(fingerprint)
    if (sys.env.get("GRAFT_UPDATE_PLAN_SNAPSHOT").contains("1")) {
      Files.createDirectories(snapshotPath.getParent)
      Files.write(snapshotPath,
        (current.mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8))
      info(s"snapshot regenerated with ${current.size} queries — review the git diff")
    } else {
      assert(Files.exists(snapshotPath),
        s"no snapshot at $snapshotPath — generate one with " +
          "GRAFT_UPDATE_PLAN_SNAPSHOT=1 sbt 'testOnly graft.PlanFingerprintSpec'")
      val golden = new String(Files.readAllBytes(snapshotPath),
        StandardCharsets.UTF_8).linesIterator.filter(_.nonEmpty).toSeq
      val goldenByName = golden.map(l => l.takeWhile(_ != ' ') -> l).toMap
      val currentByName = current.map(l => l.takeWhile(_ != ' ') -> l).toMap
      val missing = currentByName.keySet -- goldenByName.keySet
      val stale = goldenByName.keySet -- currentByName.keySet
      val drifted = currentByName.keysIterator
        .filter(n => goldenByName.contains(n) && goldenByName(n) != currentByName(n))
        .map(n => s"$n\n  golden:  ${goldenByName(n)}\n  current: ${currentByName(n)}")
        .toSeq.sorted
      assert(missing.isEmpty && stale.isEmpty && drifted.isEmpty,
        s"""plan fingerprints drifted from src/test/resources/plan_fingerprints.txt.
           |If the change is INTENDED, regenerate with
           |GRAFT_UPDATE_PLAN_SNAPSHOT=1 sbt 'testOnly graft.PlanFingerprintSpec' and review the diff.
           |new queries without a snapshot line: ${missing.toSeq.sorted.mkString(", ")}
           |snapshot lines without a query: ${stale.toSeq.sorted.mkString(", ")}
           |drifted:
           |${drifted.mkString("\n")}""".stripMargin)
    }
  }
}
