package graft

import org.apache.spark.sql.SparkSession

/** Library entry point for users: a correctly-configured session builder
  * plus the engine's job API — the "switch from tMapReduce" surface. A
  * reference user who today POSTs `/launch` and polls `/getresult`
  * (`/root/reference/src/tmapreduce/gateway.cc:66-184`) instead does:
  *
  * {{{
  * val spark = Graft.session()
  * val store = Graft.jobStore
  * val kvs: Seq[(String, String)] = Seq("d1" -> "a b a", "d2" -> "b")
  * val Right(id) = store.launchAsync(spark,
  *   JobStore.JobSpec("wc", "wordcount", token = "t"), kvs)
  * // ... poll ...
  * val result = store.getResult(id, "t")
  * }}}
  *
  * Relational/pipeline queries are plain DataFrames via
  * [[SparkEntry.queries]] or `spark.sql` after [[Tables.registerAll]].
  */
object Graft {

  /** Session with the engine's defaults: UTC (oracle determinism), AQE on
    * (skew/coalesce at runtime), shuffle parallelism from the env or the
    * local machine. On a real cluster, pass the builder through `configure`
    * instead and let spark-submit set master/deploy options.
    */
  def session(master: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val b = SparkSession.builder()
    configure(master.map(b.master).getOrElse(b.master(s"local[$cpus]")), cpus)
      .getOrCreate()
  }

  /** The tools' local session (Bench, Verify, Explain, GatewayServer,
    * ScaleGen): `local[SPARK_GRAFT_CPUS]` (default 32) with as many
    * shuffle partitions, UTC, no UI, WARN logging, and a private
    * warehouse dir — the persisted layouts and bucketed tables land
    * there; a static conf, so it is set at session build — that is
    * deleted at JVM exit.
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(wh))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Engine configuration applied to any builder (cluster or local). */
  def configure(b: SparkSession.Builder, shufflePartitions: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")

  /** Process-wide job registry (launch/poll/token/TTL — the master's job
    * table, SURVEY.md §2.1 O2/O10/O11).
    */
  lazy val jobStore: graft.mr.JobStore = new graft.mr.JobStore()
}
