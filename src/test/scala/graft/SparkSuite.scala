package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; getOrCreate makes suites order-independent).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs (suites run one at a time, so
    * every job in the window is `f`'s).
    */
  def sparkJobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.graft.ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.graft.ListenerBridge.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf: must be set at session build (StorageSpec bucketing)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
