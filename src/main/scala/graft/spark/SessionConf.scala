package graft.spark

import org.apache.spark.sql.SparkSession

/** Scoped session SQL conf: query builders and runners leave the session's
  * conf as they found it, so no query changes how a later one plans.
  */
object SessionConf {

  /** Runs `body` with `settings` set, then restores exactly the entries
    * that were set before. A key that had no explicit value is unset again
    * rather than pinned to its default (`conf.getOption` reports the
    * default for such a key, so restoring from it would leave an entry).
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally settings.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }
}
