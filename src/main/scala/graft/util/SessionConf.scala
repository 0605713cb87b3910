package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped session confs: the one save/set/restore of the writers and
  * loops that need a session setting for a bounded stretch of work
  * (dynamic partition overwrite, AQE off for a training loop, the
  * streaming runner's state partitions).
  */
object SessionConf {

  /** Set `confs` for the duration of `body`, then put each key back as
    * it was: its saved value, or unset when the session had none. The
    * scope is session-global — a query planned on the same session while
    * `body` runs sees the scoped values — so callers that can overlap
    * serialize themselves.
    */
  def withConfs[T](spark: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** [[withConfs]] for dynamic partition overwrite: an
    * `insertInto(..., overwrite)` inside `body` replaces only the
    * partitions present in its data.
    */
  def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T =
    withConfs(spark, Seq("spark.sql.sources.partitionOverwriteMode" -> "dynamic"))(body)
}
