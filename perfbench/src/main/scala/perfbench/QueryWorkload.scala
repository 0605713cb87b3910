package perfbench

import java.nio.file.{Path, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}

/** The `queries` workload: one client in a closed loop runs the panel of
  * declared queries in seeded order, pass after pass, until `seconds`
  * have passed (whole passes only, so every run times the same mix). Each
  * query is built, then forced through the `noop` sink; that is the timed
  * operation.
  *
  * The output check rides on the same execution: the noop write observes
  * the result's row count and an order-independent digest of its rows,
  * which the calling script compares with the committed, oracle-checked
  * fingerprint of that query. With `--dump 1` each result is also written
  * to parquet after its timing, for checking against the DuckDB oracle
  * when fingerprints are recorded.
  */
final class QueryWorkload(spark: SparkSession, a: Args, work: Path, trace: Trace)
    extends Workload {
  private val panel = a.list("panel")
  private val opTimeoutS = a.long("op-timeout-s")
  private val hardStopS = a.long("hard-stop-s")
  private val dump = a.int("dump") == 1
  private val builders = graft.SparkEntry.queries
  require(panel.forall(builders.contains),
    s"unknown queries: ${panel.filterNot(builders.contains).mkString(",")}")
  private val warmups = graft.SparkEntry.warmups.filter(w => panel.exists(w.appliesTo))
  private var dir = ""
  private var order = Vector.empty[String]
  private val ops = Vector.newBuilder[Json.Raw]
  private val watchdog = new java.util.Timer("perfbench-watchdog", true)

  def prepare(rep: Int): Unit = {
    dir = Main.copyFixture(Paths.get(a("data")), work.resolve(s"data-$rep"))
    warmups.foreach(_.run(spark, dir))
    order = Inputs.queryOrder(panel, a.long("seed"))
  }

  def timed(seconds: Int): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var op = 0L
    var passes = 0
    while ((passes == 0 || elapsed < seconds) && elapsed <= hardStopS) {
      order.foreach { key =>
        op += 1
        if (elapsed > hardStopS)
          ops += Json.Raw(Json.obj(Seq("op" -> op, "key" -> key, "ok" -> false,
            "wall_s" -> 0.0, "error" -> s"not run: the run passed its ${hardStopS}s hard stop")))
        else runOp(op, key)
      }
      passes += 1
    }
    Seq("passes" -> passes, "ops" -> ops.result())
  }

  /** The result with its columns renamed by position (no name clashes) and
    * observed: row count and the sum of per-row hashes over the columns in
    * name order, floating-point values rounded to 6 decimals.
    */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = fields.toSeq.map { case (f, i) =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"c$i"), 6)
        case _: MapType => to_json(col(s"c$i"))
        case _ => col(s"c$i")
      }
    }
    val digest = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.observe(obs, count(lit(1)).as("rows"),
      sum(digest.cast("decimal(38,0)")).cast("string").as("digest"))
  }

  private def runOp(op: Long, key: String): Unit = {
    val sc = spark.sparkContext
    // Queries persist reused intermediates; every operation starts cold.
    spark.catalog.clearCache()
    val group = s"perfbench-op-$op"
    sc.setJobGroup(group, key, interruptOnCancel = true)
    val cancelled = new AtomicBoolean(false)
    val cancel = new java.util.TimerTask {
      def run(): Unit = { cancelled.set(true); sc.cancelJobGroup(group) }
    }
    watchdog.schedule(cancel, opTimeoutS * 1000L)
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val cgN0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val obs = Observation(s"perfbench-$op")
    val t0 = System.nanoTime()
    var t1 = 0L
    var df: DataFrame = null
    var error: Option[String] = None
    try {
      df = builders(key)(spark, dir)
      t1 = System.nanoTime()
      observed(df, obs).write.format("noop").mode("overwrite").save()
    } catch {
      case e: Throwable => error = Some(
        (if (cancelled.get) s"cancelled by the ${opTimeoutS}s watchdog: " else "") +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally {
      cancel.cancel()
      sc.clearJobGroup()
    }
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    val cg = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e6
    val cgN = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
    trace.span(op, "op", t0, t2, "", "key" -> key, "group" -> group,
      "ok" -> error.isEmpty, "codegen_ms" -> cg, "codegen_classes" -> cgN)
    trace.span(op, "build", t0, t1, "op")
    trace.span(op, "action", t1, t2, "op")
    val fp = if (error.isEmpty) obs.get else Map.empty[String, Any]
    val dumpDir = work.resolve("ops").resolve(op.toString).toString
    if (dump && error.isEmpty) {
      sc.setJobGroup("perfbench-check", key)
      try df.write.mode("overwrite").parquet(dumpDir)
      finally sc.clearJobGroup()
    }
    ops += Json.Raw(Json.obj(Seq("op" -> op, "key" -> key, "ok" -> error.isEmpty,
      "wall_s" -> (t2 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
      "action_s" -> (t2 - t1) / 1e9, "error" -> error,
      "rows" -> fp.get("rows"), "digest" -> fp.get("digest"),
      "dump" -> (if (dump && error.isEmpty) Some(dumpDir) else None))))
  }

  /** With `--dump 1`: the oracle SQL of every panel query that has one,
    * including the plan-literal forms the engine derives from trained state.
    */
  override def afterRun(): Seq[(String, Any)] =
    if (!dump) Nil
    else {
      val all = graft.SparkEntry.oracleSql ++ graft.SparkEntry.dynamicOracleSql(spark, dir)
      Seq("data_dir" -> dir,
        "oracle" -> panel.distinct.flatMap(k => all.get(k).map(k -> _)).toMap)
    }
}
