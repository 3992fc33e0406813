package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Harness.session()` is the session every main opens, and every mode a
  * `graft.Scale <mode>` line documents is a key of `Scale.modes`. No Scale
  * leg runs here.
  */
class HarnessSpec extends AnyFunSuite {

  test("Harness.session: local[cpus], cpus shuffle partitions, UTC, nanos as long, no UI") {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    // getOrCreate would hand back a session some earlier suite left open
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = Harness.session()
    try {
      val sc = spark.sparkContext
      assert(sc.master == s"local[$cpus]")
      assert(sc.defaultParallelism == cpus)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == cpus.toString)
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.conf.get(ops.Tables.NanosAsLongConf) == "true")
      assert(sc.getConf.get("spark.ui.enabled") == "false")
      assert(sc.uiWebUrl.isEmpty)
    } finally spark.stop()
  }

  /** Mode words of every `graft.Scale <mode>` in `text`; a bare row count
    * selects the default leg and is no mode.
    */
  private def modesNamedIn(text: String): Set[String] =
    """graft\.Scale ([a-z]\w*)""".r.findAllMatchIn(text).map(_.group(1)).toSet

  test("every graft.Scale mode in SCALE.md and Scale's Scaladoc is a key of Scale.modes") {
    val scaleMd = Files.readString(Paths.get("SCALE.md"))
    val source = Files.readString(Paths.get("src/main/scala/graft/Scale.scala"))
    val scaladoc = source.substring(0, source.indexOf("object Scale"))
    val fromMd = modesNamedIn(scaleMd)
    val fromDoc = modesNamedIn(scaladoc)
    assert(fromDoc.size == Scale.modes.size,
      s"the usage block names ${fromDoc.size} modes, Scale.modes has ${Scale.modes.size}")
    val missing = (fromMd ++ fromDoc) -- Scale.modes.keySet
    assert(missing.isEmpty, s"documented but not runnable: ${missing.toSeq.sorted}")
  }

  test("an unknown Scale mode fails before a session opens and names every valid mode") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](Scale.main(Array("nosuchmode", "10")))
    assert(SparkSession.getDefaultSession == before)
    assert(e.getMessage.contains("nosuchmode"))
    Scale.modes.keys.foreach(m => assert(e.getMessage.contains(m), s"'$m' not listed"))
  }
}
