package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = Graft.localSession()
    new java.io.File(outDir).mkdirs()
    // Optional dev filter (same contract as Bench): SPARK_GRAFT_ONLY=<regex>
    // dumps a subset for targeted pre-flight; the driver sets no filter.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally
        // Dedup/prefix-sum operators persist reused intermediates scoped
        // to their own materialization; drop them so 75 sequential dumps
        // don't accumulate a session's worth of MEMORY_AND_DISK blocks.
        spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = (SparkEntry.oracleSql ++ SparkEntry.dynamicOracleSql(spark, sfDir))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
