package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.util.concurrent.{DelayQueue, Delayed, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.sql.SparkSession

import graft.mr.{Gateway, JobStore}

/** The `mr_gateway` workload: an in-process `Gateway` over a `JobStore`
  * on an ephemeral port, driven over loopback HTTP by an open loop. Jobs
  * arrive on a seeded schedule (see [[Inputs.gatewayPlan]]) that does not
  * slow when the gateway does; a fixed pool of client threads sends each due launch,
  * polls `/getresult` at a fixed interval until the body arrives, and
  * sends the planned cancels. A job's latency runs from its scheduled
  * send time to the last byte of its result, so a stall also charges the
  * jobs queued behind it.
  */
final class GatewayWorkload(spark: SparkSession, a: Args, work: Path, trace: Trace)
    extends Workload {
  import GatewayWorkload._
  private val params = GatewayParams(
    rate = a.double("rate"), seconds = a.int("seconds"),
    mix = a.list("mix").map { kv =>
      val Array(k, w) = kv.split(":"); k -> w.toDouble
    },
    maxDocs = a.int("max-docs"), identityMinDocs = a.int("identity-min-docs"),
    cancelShare = a.double("cancel-share"), cancelDelayMs = a.long("cancel-delay-ms"))
  private val pollMs = a.long("poll-ms")
  private val clients = a.int("clients")
  private val hardStopS = a.long("hard-stop-s")
  private val spillBytes = a.long("spill-bytes")

  private lazy val corpus: IndexedSeq[(String, String)] =
    spark.read.parquet(s"${a("data")}/documents.parquet")
      .selectExpr("cast(doc_id as string)", "text").orderBy("doc_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toIndexedSeq

  private var store: JobStore = _
  private var gateway: Gateway = _
  private var port = 0
  private var plan = Vector.empty[JobPlan]
  private var bodies = Vector.empty[Array[Byte]]

  private var jobs = Vector.empty[Job]

  private val queue = new DelayQueue[Action]()
  private val seq = new AtomicLong(0)
  private def schedule(atNs: Long, job: Job, kind: String): Unit =
    queue.put(new Action(atNs, seq.getAndIncrement(), job, kind))

  private def http(method: String, path: String, body: Array[Byte] = null): Reply = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    if (body != null) {
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length)
      val out = c.getOutputStream
      out.write(body); out.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    Reply(code, text, "chunked".equalsIgnoreCase(c.getHeaderField("Transfer-Encoding")))
  }

  def prepare(rep: Int): Unit = {
    if (gateway != null) gateway.stop()
    // At most `clients` pooled keep-alive connections, one per client thread.
    System.setProperty("http.maxConnections", clients.toString)
    store = new JobStore(spillBytes = spillBytes,
      spillRoot = work.resolve(s"spill-$rep").toString)
    gateway = new Gateway(spark, store, port = 0)
    port = gateway.start()
    plan = Inputs.gatewayPlan(params, corpus.size, a.long("seed"))
    bodies = plan.map(j => Inputs.launchBody(j, corpus).getBytes(UTF_8))
    // One job through every route, untimed: warms the HTTP server, the
    // launch parser and the job kernel.
    val warm = JobPlan(-1, 0, "wordcount", Vector(0, 1, 2), 1, 1, None)
    val r = http("POST", "/launch", Inputs.launchBody(warm, corpus).getBytes(UTF_8))
    require(r.code == 200, s"warm-up launch answered ${r.code}: ${r.body}")
    val id = """"job_id":(\d+)""".r.findFirstMatchIn(r.body).get.group(1)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (http("GET", s"/getresult?job_id=$id&token=t-1").code != 200) {
      require(System.nanoTime() < deadline, "warm-up job did not finish in 60 s")
      Thread.sleep(pollMs)
    }
  }

  private def sampleStatus(j: Job): Unit = if (trace.enabled && j.id >= 0) {
    val now = System.nanoTime()
    store.status(j.id).foreach {
      case JobStore.Queued => ()
      case JobStore.Running => if (j.runningNs == 0L) j.runningNs = now
      case _ =>
        if (j.runningNs == 0L) j.runningNs = now
        if (j.terminalNs == 0L) j.terminalNs = now
    }
  }

  private def finish(j: Job, error: Option[String]): Unit =
    if (j.done.compareAndSet(false, true)) {
      j.error = error
      j.endNs = System.nanoTime()
    }

  private def launch(j: Job): Unit = {
    val t0 = System.nanoTime()
    j.lateMs = (t0 - j.dueNs) / 1e6
    val r = try http("POST", "/launch", bodies(j.plan.idx))
      catch { case e: java.io.IOException => Reply(-1, e.toString, chunked = false) }
    val t1 = System.nanoTime()
    j.launchEndNs = t1
    trace.span(j.plan.idx, "launch", t0, t1, "op", "code" -> r.code)
    """"job_id":(\d+)""".r.findFirstMatchIn(r.body) match {
      case Some(m) if r.code == 200 =>
        j.id = m.group(1).toLong
        schedule(t1 + pollMs * 1000000L, j, "poll")
        j.plan.cancelAfterMs.foreach(d => schedule(t1 + d * 1000000L, j, "cancel"))
      case _ => finish(j, Some(s"launch answered ${r.code}: ${r.body.take(200)}"))
    }
  }

  private def poll(j: Job): Unit = if (!j.done.get) {
    val t0 = System.nanoTime()
    val r = try http("GET", s"/getresult?job_id=${j.id}&token=${j.token}")
      catch { case e: java.io.IOException => Reply(-1, e.toString, chunked = false) }
    val t1 = System.nanoTime()
    j.polls.incrementAndGet()
    sampleStatus(j)
    if (r.code == 200) {
      trace.span(j.plan.idx, "fetch", t0, t1, "op", "bytes" -> r.body.length,
        "spilled" -> r.chunked)
      j.body = r.body
      j.spilled = r.chunked
      finish(j, None)
    } else if (r.code == 500 && r.body.contains("job not finished")) {
      trace.span(j.plan.idx, "poll", t0, t1, "op")
      // A cancel the store accepted ends the job: it never finishes.
      if (j.cancelOk) finish(j, None)
      else schedule(t1 + pollMs * 1000000L, j, "poll")
    } else finish(j, Some(s"getresult answered ${r.code}: ${r.body.take(200)}"))
  }

  private def cancel(j: Job): Unit = {
    val t0 = System.nanoTime()
    val r = try http("POST", s"/cancel?job_id=${j.id}&token=${j.token}")
      catch { case e: java.io.IOException => Reply(-1, e.toString, chunked = false) }
    val t1 = System.nanoTime()
    trace.span(j.plan.idx, "cancel", t0, t1, "op", "code" -> r.code)
    j.cancelAnswered = true
    if (r.code == 200) {
      j.cancelOk = true
      sampleStatus(j)
      finish(j, None)
    } else if (!(r.code == 500 && r.body.contains("job not running")))
      finish(j, Some(s"cancel answered ${r.code}: ${r.body.take(200)}"))
    // "job not running": it had already finished; polling fetches it.
  }

  def timed(seconds: Int): Seq[(String, Any)] = {
    val t0 = System.nanoTime()
    jobs = plan.map(p => new Job(p, t0 + p.dueMs * 1000000L))
    jobs.foreach(j => schedule(j.dueNs, j, "launch"))
    val stopAt = t0 + hardStopS * 1000000000L
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => {
        var running = true
        while (running) {
          val act = queue.poll(50, TimeUnit.MILLISECONDS)
          if (act != null) act.kind match {
            case "launch" => launch(act.job)
            case "poll" => poll(act.job)
            case "cancel" => cancel(act.job)
          }
          running = System.nanoTime() < stopAt && !jobs.forall(_.done.get)
        }
      }, s"perfbench-client-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    jobs.foreach(j => finish(j, Some(s"no result by the ${hardStopS}s hard stop")))
    Nil
  }

  /** Untimed checks: each result against the reference MapReduce over the
    * same documents, each accepted cancel against the store's final state.
    */
  override def afterRun(): Seq[(String, Any)] = {
    val recs = jobs.map { j =>
      val kvs = j.plan.docs.map(corpus)
      val status = if (j.id >= 0) store.status(j.id) else None
      val error = j.error.orElse {
        if (j.cancelOk)
          if (status.contains(JobStore.Cancelled)) None
          else Some(s"cancel accepted but the job ended $status")
        else Json.resultArray(j.body) match {
          case None => Some("result body is not a complete result document")
          case Some(got) => NaiveMR.mismatch(j.plan.jobType, kvs, got)
        }
      }
      if (trace.enabled) {
        val op = j.plan.idx.toLong
        trace.span(op, "op", j.dueNs, j.endNs, "", "type" -> j.plan.jobType,
          "group" -> (if (j.id >= 0) JobStore.jobGroup(j.id) else ""),
          "ok" -> error.isEmpty, "cancelled" -> j.cancelOk)
        if (j.runningNs > 0) trace.span(op, "queued", j.launchEndNs, j.runningNs, "op")
        if (j.terminalNs > 0) trace.span(op, "running", j.runningNs, j.terminalNs, "op")
      }
      Json.Raw(Json.obj(Seq("op" -> j.plan.idx, "key" -> j.plan.jobType,
        "docs" -> j.plan.docs.size, "ok" -> error.isEmpty, "error" -> error,
        "cancel_planned" -> j.plan.cancelAfterMs.isDefined,
        "cancelled" -> j.cancelOk, "cancel_sent" -> j.cancelAnswered,
        "status" -> status.map(_.toString),
        "wall_s" -> (if (j.cancelOk) None else Some((j.endNs - j.dueNs) / 1e9)),
        "late_ms" -> j.lateMs, "polls" -> j.polls.get, "spilled" -> j.spilled,
        "bytes" -> Option(j.body).map(_.length).getOrElse(0))))
    }
    gateway.stop()
    Seq("ops" -> recs)
  }
}

object GatewayWorkload {
  /** Client-side state of one job. */
  final class Job(val plan: JobPlan, val dueNs: Long) {
    @volatile var id = -1L
    @volatile var endNs = 0L
    @volatile var lateMs = 0.0
    @volatile var launchEndNs = 0L
    @volatile var body: String = null
    @volatile var spilled = false
    @volatile var error: Option[String] = None
    @volatile var cancelOk = false
    @volatile var cancelAnswered = false
    @volatile var runningNs = 0L
    @volatile var terminalNs = 0L
    val polls = new AtomicInteger(0)
    val done = new AtomicBoolean(false)
    def token = s"t${plan.idx}"
  }
  final class Action(val atNs: Long, val seq: Long, val job: Job, val kind: String)
      extends Delayed {
    def getDelay(u: TimeUnit): Long = u.convert(atNs - System.nanoTime(), TimeUnit.NANOSECONDS)
    def compareTo(o: Delayed): Int = o match {
      case b: Action => Ordering[(Long, Long)].compare((atNs, seq), (b.atNs, b.seq))
      case _ => java.lang.Long.compare(getDelay(TimeUnit.NANOSECONDS), o.getDelay(TimeUnit.NANOSECONDS))
    }
  }
  final case class Reply(code: Int, body: String, chunked: Boolean)

}
