package graft

/** Dev tool: run named queries with formatted explain + repeated timing.
  * Usage: runMain graft.Explain <sfDir> <query...> [-n reps] [-x (explain)]
  *   [-b (cluster-planning mode: auto-broadcast off — the tiny local
  *        fixtures otherwise let Catalyst broadcast sides that would be
  *        corpus-sized on a real cluster)]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // The reps value is dropped from `names` by POSITION (the single slot
    // after -n), never by value — a query name equal to the number must
    // survive; a trailing -n (no value) falls back to the default.
    val nIdx = args.indexOf("-n")
    val repsIdx = if (nIdx >= 0 && nIdx + 1 < args.length) nIdx + 1 else -1
    val reps = if (repsIdx >= 0) args(repsIdx).toInt else 2
    val names = args.indices.drop(1)
      .filterNot(i => args(i).startsWith("-") || i == repsIdx)
      .map(args)
    val doExplain = args.contains("-x")
    val spark = Graft.localSession()
    if (args.contains("-b"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      if (doExplain) {
        println(s"==== $name plan ====")
        fn(spark, sfDir).explain("formatted")
      }
      for (r <- 1 to reps) {
        val t0 = System.nanoTime()
        if (args.contains("-c")) {
          // -c: count the result instead of the noop write — for sizing
          // an operator's OUTPUT (e.g. pair growth across scale factors)
          val n = fn(spark, sfDir).count()
          println(f"[explain] $name rep$r ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
        } else {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          println(f"[explain] $name rep$r ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        }
      }
    }
    spark.stop()
  }
}
