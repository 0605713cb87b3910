package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments, `--name value` pairs. */
final class Args(args: Array[String]) {
  private val m: Map[String, String] = args.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
}

/** Counters of resources a long-lived session can leak, taken at the start
  * and the end of the timed region.
  */
object Hygiene {
  def snapshot(spark: SparkSession, tmp: Path): Map[String, Long] = Map(
    "tmp_dirs" -> Option(tmp.toFile.list()).toSeq.flatten.count(_.startsWith("graft")).toLong,
    "active_streams" -> spark.streams.active.length.toLong,
    "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size.toLong,
    "graft_tables" -> spark.catalog.listTables().collect().count(_.name.startsWith("graft_")).toLong)
}

/** One benchmark run of one workload: set up, run the timed region, record
  * every operation, and write `result.json` (and `trace.jsonl` when traced)
  * into the work directory. Output checks against the oracle happen in the
  * calling script, on the result dumps this writes outside the timed
  * region.
  *
  * {{{
  * perfbench.Main --workload queries|mr_gateway --seed N --seconds S
  *   --trace 0|1 --data <fixture dir> --work <scratch dir> ...
  * }}}
  */
object Main {
  /** Setup repetitions; setup_s reports their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(new Args(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    // Nothing outlives the run: the work directory is discarded, so skip
    // the session's orderly shutdown, and no streaming or gateway thread
    // can keep the process alive.
    Runtime.getRuntime.halt(code)
  }

  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors().toString
    val b = SparkSession.builder().master(s"local[$n]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
    val spark = graft.Graft.configure(b, n).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Class loading, the codegen compiler and (for a workload that runs
    * streaming queries) the streaming stack, once, so neither the set-up
    * repetitions nor the first timed operation pay JVM warm-up.
    */
  def warmSession(spark: SparkSession, work: Path, streaming: Boolean): Unit = {
    spark.range(100000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
    if (!streaming) return
    val dir = Files.createTempDirectory(work, "warm-stream")
    spark.range(2).toDF("v").write.mode("overwrite").parquet(dir.toString)
    val q = spark.readStream.schema("v LONG").parquet(dir.toString)
      .groupBy("v").count().writeStream.format("memory")
      .queryName("perfbench_stream_warm").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    if (!q.awaitTermination(60000L)) q.stop()
  }

  /** A fresh copy of the fixture at a new path, so path-keyed layouts are
    * rebuilt by every setup repetition rather than found in place.
    */
  def copyFixture(from: Path, to: Path): String = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    to.toString
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def heapLiveMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(a: Args): Unit = {
    val work = Paths.get(a("work")).toAbsolutePath
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(tmp)
    val trace = new Trace(a.int("trace") == 1)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    warmSession(spark, work, streaming = a("workload") == "queries")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val workload: Workload = a("workload") match {
      case "queries" => new QueryWorkload(spark, a, work, trace)
      case "mr_gateway" => new GatewayWorkload(spark, a, work, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val prepareS = (1 to SetupReps).map { i =>
      val t = System.nanoTime()
      workload.prepare(i)
      (System.nanoTime() - t) / 1e9
    }
    trace.install(spark)
    val h0 = Hygiene.snapshot(spark, tmp)
    val gc0 = gcMs()
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val cgN0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val fields = workload.timed(a.int("seconds"))
    val windowS = (System.nanoTime() - t0) / 1e9
    val cg1 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val cgN1 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val gc1 = gcMs()
    val h1 = Hygiene.snapshot(spark, tmp)
    val heap = heapLiveMb()
    val extra = workload.afterRun()
    trace.finish(spark, work.resolve("trace.jsonl"))
    val doc = Json.obj(Seq(
      "workload" -> a("workload"), "seed" -> a.long("seed"),
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "session_s" -> sessionS, "prepare_s" -> prepareS,
      "setup_s" -> (sessionS + median(prepareS)),
      "window_s" -> windowS, "heap_live_mb" -> heap, "gc_ms" -> (gc1 - gc0),
      "codegen_ms" -> (cg1 - cg0) / 1e6, "codegen_classes" -> (cgN1 - cgN0),
      "hygiene_start" -> h0, "hygiene_end" -> h1) ++ fields ++ extra)
    Files.writeString(work.resolve("result.json"), doc)
  }
}

/** One workload: `prepare` is repeated SetupReps times (the last one is
  * the state the timed region runs on), `timed` is the measured region and
  * returns its record fields, `afterRun` adds untimed checks and extras.
  */
trait Workload {
  def prepare(rep: Int): Unit
  def timed(seconds: Int): Seq[(String, Any)]
  def afterRun(): Seq[(String, Any)] = Nil
}
