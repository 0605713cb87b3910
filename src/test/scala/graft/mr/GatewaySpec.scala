package graft.mr

import graft.SparkSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** End-to-end wire test: the reference's own single-node smoke flow
  * (`/root/reference/scripts/single_node.sh:19-21` — curl POST /launch,
  * then GET /getresult) against the graft gateway, with the script's
  * exact 3-row kvs fixture. Job type is `charcount_example` — the
  * registry entry with the example `.so`'s verbatim semantics (the
  * reference registers that UDF under its .so basename "wordcount").
  */
class GatewaySpec extends SparkSuite {

  // The three value strings from single_node.sh:19.
  private val vals = Seq(
    "sgdakjsdkashdashdashdjkasdhkjasdhkashdk",
    "sdakjshdkajsdhkasjhdakshdashdaskjfgsdfgsjdhfsdf6sd4f65sd4af",
    "dhaksjdhksadhasjkdashdasdhkjasdhakjshdkasjdhksajda")

  private def launchBody(jobType: String) = {
    val kvs = vals.zipWithIndex
      .map { case (v, i) => s"""{"key": "${i + 1}", "value": "$v"}""" }
      .mkString("[", ", ", "]")
    s"""{"name": "wc-test", "type": "$jobType", "mapper_num": 2,""" +
      s""" "reducer_num": 2, "token": "ztorchan", "kvs": $kvs}"""
  }

  private val client = HttpClient.newHttpClient()
  private def get(url: String) = client.send(
    HttpRequest.newBuilder(URI.create(url)).GET().build(),
    HttpResponse.BodyHandlers.ofString())
  private def post(url: String, body: String) = client.send(
    HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
    HttpResponse.BodyHandlers.ofString())

  private def withGateway(f: String => Unit): Unit = {
    val gw = new Gateway(spark, new JobStore(), port = 0)
    val port = gw.start()
    try f(s"http://127.0.0.1:$port") finally gw.stop()
  }

  test("single_node.sh flow: launch + poll getresult returns the reference's array") {
    withGateway { base =>
      assert(get(s"$base/helloworld").body() == "Hello world.")

      val launch = post(s"$base/launch", launchBody("charcount_example"))
      assert(launch.statusCode() == 200, launch.body())
      val jobId = """"job_id":(\d+)""".r
        .findFirstMatchIn(launch.body()).get.group(1)

      // Poll like word_count_client.cc (loops until the master says done).
      var resp = get(s"$base/getresult?job_id=$jobId&token=ztorchan")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (resp.statusCode() != 200 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        resp = get(s"$base/getresult?job_id=$jobId&token=ztorchan")
      }
      assert(resp.statusCode() == 200, resp.body())

      // Reference-expected array: per-char counts (word_count.cc:5-22),
      // keys ascending, each group contributing [key, total]
      // (word_count.cc:24-34, concat in key order, job.cc:68-77).
      val expected = vals.flatMap(_.toLowerCase)
        .filter(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))
        .groupBy(identity).toSeq.sortBy(_._1)
        .flatMap { case (c, cs) => Seq(c.toString, cs.length.toString) }
      val expectedJson = expected
        .map("\"" + _ + "\"").mkString(
          """{"ok":true,"message":"","result":[""", ",", "]}")
      assert(resp.body() == expectedJson)
    }
  }

  test("launch validation: bad bodies 400, master-side rejections 500 with message") {
    withGateway { base =>
      // not JSON / missing fields -> bare 400 (check_launch_request)
      assert(post(s"$base/launch", "not json").statusCode() == 400)
      assert(post(s"$base/launch",
        """{"name":"x","type":"charcount"}""").statusCode() == 400)
      // well-formed but unknown job type -> 500 {"ok":false,...}
      val unknown = post(s"$base/launch", launchBody("no_such_type"))
      assert(unknown.statusCode() == 500)
      assert(unknown.body().contains(""""ok":false"""))
      assert(unknown.body().contains("no_such_type"))
      // method mismatch
      assert(get(s"$base/launch").statusCode() == 405)
    }
  }

  test("concurrent launches: parallel POSTs all get distinct job ids and results") {
    withGateway { base =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val n = 6 // > half the pool: exercises queueing + handler reentrancy
      val launches = Await.result(
        Future.sequence(Seq.fill(n)(Future(
          post(s"$base/launch", launchBody("charcount_example"))))), 60.seconds)
      assert(launches.forall(_.statusCode() == 200), launches.map(_.body()))
      val ids = launches.map(l => """"job_id":(\d+)""".r
        .findFirstMatchIn(l.body()).get.group(1))
      assert(ids.distinct.size == n, s"job ids not distinct: $ids")
      // every job completes and serves its result
      ids.foreach { id =>
        var resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (resp.statusCode() != 200 && System.nanoTime() < deadline) {
          Thread.sleep(200)
          resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
        }
        assert(resp.statusCode() == 200, s"job $id: ${resp.body()}")
        assert(resp.body().contains(""""ok":true"""))
      }
    }
  }

  test("TTL-expired result over HTTP: finished job evicts after the TTL (O11)") {
    // Injectable clock: finish the job, then jump past the TTL — the next
    // HTTP fetch must report the job gone (BGScaner sweep, master.cc:449-463).
    @volatile var now = 1000L
    val store = new JobStore(clock = () => now, ttlMillis = 60_000L)
    val gw = new Gateway(spark, store, port = 0)
    val port = gw.start()
    try {
      val base = s"http://127.0.0.1:$port"
      val launch = post(s"$base/launch", launchBody("charcount_example"))
      assert(launch.statusCode() == 200, launch.body())
      val id = """"job_id":(\d+)""".r.findFirstMatchIn(launch.body()).get.group(1)
      var resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (resp.statusCode() != 200 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
      }
      assert(resp.statusCode() == 200, resp.body())
      now += 61_000L // past the TTL
      val gone = get(s"$base/getresult?job_id=$id&token=ztorchan")
      assert(gone.statusCode() == 500 && gone.body().contains("no such job"),
        gone.body())
    } finally gw.stop()
  }

  test("crashed-materialize orphan spill dir is swept by the gateway's background TTL sweeper") {
    // Crash injection: a previous process died mid-materialize, leaving
    // a partial parquet dir under the spill root with NO job pointing at
    // it (the job never reached a terminal state). A long-lived gateway
    // must bound that disk: the 10 s sweeper's evictExpired also sweeps
    // aged job-* dirs no registered job owns.
    val root = java.nio.file.Files.createTempDirectory("graft_gw_orphan").toString
    val orphan = new java.io.File(root, "job-42")
    assert(orphan.mkdirs())
    java.nio.file.Files.writeString(
      orphan.toPath.resolve("part-00000.parquet"), "partial write")
    // clock ahead of the dir's real mtime by more than the TTL → aged
    val store = new JobStore(
      clock = () => System.currentTimeMillis() + 10_000L,
      ttlMillis = 1000L, spillRoot = root)
    val gw = new Gateway(spark, store, port = 0, sweepIntervalMillis = 50L)
    gw.start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (orphan.exists() && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!orphan.exists(),
        "background sweeper left the crashed-materialize orphan dir on disk")
    } finally gw.stop()
  }

  test("background sweep evicts an expired job that is NEVER polled (BGScaner parity)") {
    // The lazy sweep above runs inside getResult; the reference ALSO
    // runs a detached 10 s scanner (master.cc:114,436-463) so a job
    // nobody polls again still expires. Drive the gateway's daemon
    // sweep: finish a job, jump the fake clock past the TTL, make NO
    // further HTTP request — the store must still forget the job.
    @volatile var now = 1000L
    val store = new JobStore(clock = () => now, ttlMillis = 60_000L)
    val gw = new Gateway(spark, store, port = 0, sweepIntervalMillis = 50L)
    val port = gw.start()
    try {
      val base = s"http://127.0.0.1:$port"
      val launch = post(s"$base/launch", launchBody("charcount_example"))
      assert(launch.statusCode() == 200, launch.body())
      val id = """"job_id":(\d+)""".r.findFirstMatchIn(launch.body()).get.group(1)
      var resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (resp.statusCode() != 200 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
      }
      assert(resp.statusCode() == 200, resp.body())
      now += 61_000L // past the TTL; no HTTP request from here on
      // status() does NOT sweep — only the daemon can evict this job.
      val sweepDeadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (store.status(id.toLong).isDefined && System.nanoTime() < sweepDeadline)
        Thread.sleep(50)
      assert(store.status(id.toLong).isEmpty,
        "daemon sweep did not evict the expired job")
      // and the wire agrees, post-hoc
      val gone = get(s"$base/getresult?job_id=$id&token=ztorchan")
      assert(gone.statusCode() == 500 && gone.body().contains("no such job"),
        gone.body())
    } finally gw.stop()
  }

  test("oversized launch body is rejected with 413, not buffered") {
    val store = new JobStore()
    val gw = new Gateway(spark, store, port = 0, maxBodyBytes = 4096)
    val port = gw.start()
    try {
      val base = s"http://127.0.0.1:$port"
      val big = launchBody("charcount_example") + " " * 5000
      assert(post(s"$base/launch", big).statusCode() == 413)
      // a body exactly at the cap still parses
      val ok = post(s"$base/launch", launchBody("charcount_example"))
      assert(ok.statusCode() == 200, ok.body())
    } finally gw.stop()
  }

  test("cancel over HTTP: running job → 200 + CANCELLED; guards mirror getresult") {
    JobTypeRegistry.register("slow_identity_gw",
      (k, v) => { Thread.sleep(5000); Iterator.single((k, v)) },
      (k, vs) => vs.map(v => s"$k\t$v"))
    val store = new JobStore()
    val gw = new Gateway(spark, store, port = 0)
    val port = gw.start()
    try {
      val base = s"http://127.0.0.1:$port"
      val launch = post(s"$base/launch", launchBody("slow_identity_gw"))
      assert(launch.statusCode() == 200, launch.body())
      val id = """"job_id":(\d+)""".r.findFirstMatchIn(launch.body()).get.group(1)
      Thread.sleep(500) // let the executor thread set its job group
      // guards: non-POST 405, missing params 400, wrong token 500
      assert(get(s"$base/cancel?job_id=$id&token=ztorchan").statusCode() == 405)
      assert(post(s"$base/cancel", "").statusCode() == 400)
      val wrongTok = post(s"$base/cancel?job_id=$id&token=nope", "")
      assert(wrongTok.statusCode() == 500 && wrongTok.body().contains("wrong token"))
      // the cancel itself
      val ok = post(s"$base/cancel?job_id=$id&token=ztorchan", "")
      assert(ok.statusCode() == 200 && ok.body().contains(""""ok":true"""), ok.body())
      assert(store.status(id.toLong) == Some(JobStore.Cancelled))
      // result fetch answers with the reference's not-finished shape
      val res = get(s"$base/getresult?job_id=$id&token=ztorchan")
      assert(res.statusCode() == 500 && res.body().contains("job not finished"),
        res.body())
      // double-cancel: already terminal
      val again = post(s"$base/cancel?job_id=$id&token=ztorchan", "")
      assert(again.statusCode() == 500 && again.body().contains("job not running"))
    } finally gw.stop()
  }

  test("combiner is invisible at the wire: declared-combinable type matches its uncombined twin") {
    // The combiner contract is property-tested at the MRJob level
    // (MRJobSpec); this closes the loop at the reference's own surface:
    // the same UDF pair registered WITH and WITHOUT its declared combiner
    // must serve byte-identical /getresult bodies — a user of the
    // reference observing the wire cannot tell map-side partial
    // aggregation happened (master.cc:685-699 result shape).
    JobTypeRegistry.register("charcount_example_nocombine",
      JobTypeRegistry.charCountMap, JobTypeRegistry.exampleReduce)
    withGateway { base =>
      def runToResult(jobType: String): String = {
        val launch = post(s"$base/launch", launchBody(jobType))
        assert(launch.statusCode() == 200, launch.body())
        val id = """"job_id":(\d+)""".r.findFirstMatchIn(launch.body()).get.group(1)
        var resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (resp.statusCode() != 200 && System.nanoTime() < deadline) {
          Thread.sleep(200)
          resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
        }
        assert(resp.statusCode() == 200, resp.body())
        resp.body()
      }
      val combined = runToResult("charcount_example")
      val plain = runToResult("charcount_example_nocombine")
      assert(combined == plain,
        s"combiner changed the wire result:\n  with:    $combined\n  without: $plain")
    }
  }

  test("oversized result streams from the spill sink, byte-identical to the inline shape") {
    // Tiny spill bound: the charcount result (~100 bytes) exceeds it, so
    // the store never materializes the rows on the driver — /getresult
    // serves the CHUNKED streamed body, which must be byte-identical to
    // what the inline path would have served (a client cannot tell), and
    // TTL eviction must delete the sink directory (O11 bounds disk like
    // the reference's RAM).
    @volatile var now = 1000L
    val root = java.nio.file.Files.createTempDirectory("graft_gw_spill").toString
    val store = new JobStore(clock = () => now, ttlMillis = 60_000L,
      spillBytes = 8L, spillRoot = root)
    val gw = new Gateway(spark, store, port = 0)
    val port = gw.start()
    try {
      val base = s"http://127.0.0.1:$port"
      val launch = post(s"$base/launch", launchBody("charcount_example"))
      assert(launch.statusCode() == 200, launch.body())
      val id = """"job_id":(\d+)""".r.findFirstMatchIn(launch.body()).get.group(1)
      var resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (resp.statusCode() != 200 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
      }
      assert(resp.statusCode() == 200, resp.body())
      // the job really did spill: the store holds a pointer, not rows
      val Right(sp: JobStore.SpilledResult) =
        store.fetchResult(id.toLong, "ztorchan")
      assert(new java.io.File(sp.dir).isDirectory)
      // byte-identical to the inline body (the single_node.sh expectation)
      val expected = vals.flatMap(_.toLowerCase)
        .filter(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))
        .groupBy(identity).toSeq.sortBy(_._1)
        .flatMap { case (c, cs) => Seq(c.toString, cs.length.toString) }
        .map("\"" + _ + "\"").mkString(
          """{"ok":true,"message":"","result":[""", ",", "]}")
      assert(resp.body() == expected)
      // TTL eviction deletes the sink files
      now += 61_000L
      val gone = get(s"$base/getresult?job_id=$id&token=ztorchan")
      assert(gone.statusCode() == 500 && gone.body().contains("no such job"))
      assert(!new java.io.File(sp.dir).exists(),
        "TTL eviction left the spill sink on disk")
    } finally gw.stop()
  }

  test("launch flood over HTTP: at most maxConcurrent jobs run; all complete FIFO-fairly") {
    JobTypeRegistry.register("gw_flood_sleep",
      (k, v) => { Thread.sleep(400); Iterator.single((k, v)) },
      (k, vs) => vs.map(v => s"$k\t$v"))
    val store = new JobStore(maxConcurrent = 2)
    val gw = new Gateway(spark, store, port = 0)
    val port = gw.start()
    try {
      val base = s"http://127.0.0.1:$port"
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val launches = Await.result(
        Future.sequence(Seq.fill(6)(Future(
          post(s"$base/launch", launchBody("gw_flood_sleep"))))), 60.seconds)
      assert(launches.forall(_.statusCode() == 200), launches.map(_.body()))
      val ids = launches.map(l => """"job_id":(\d+)""".r
        .findFirstMatchIn(l.body()).get.group(1).toLong)
      // sample the store while the flood drains: Running ≤ 2 throughout
      var maxRunning = 0
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (ids.exists(id => store.status(id) != Some(JobStore.Finished)) &&
          System.nanoTime() < deadline) {
        maxRunning = math.max(maxRunning,
          ids.count(id => store.status(id) == Some(JobStore.Running)))
        Thread.sleep(25)
      }
      assert(maxRunning <= 2,
        s"HTTP flood admitted $maxRunning concurrent jobs (bound 2)")
      ids.foreach { id =>
        val r = get(s"$base/getresult?job_id=$id&token=ztorchan")
        assert(r.statusCode() == 200 && r.body().contains(""""ok":true"""),
          s"job $id: ${r.body()}")
      }
    } finally gw.stop()
  }

  test("an inline-result launch starts zero Spark jobs between /launch and /getresult") {
    withGateway { base =>
      val jobs = sparkJobsDuring {
        val launch = post(s"$base/launch", launchBody("charcount_example"))
        assert(launch.statusCode() == 200, launch.body())
        val id = """"job_id":(\d+)""".r.findFirstMatchIn(launch.body()).get.group(1)
        var resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (resp.statusCode() != 200 && System.nanoTime() < deadline) {
          Thread.sleep(20)
          resp = get(s"$base/getresult?job_id=$id&token=ztorchan")
        }
        assert(resp.statusCode() == 200, resp.body())
      }
      assert(jobs == 0, s"$jobs Spark jobs ran for an inline launch")
    }
  }

  test("responses are not held back by Nagle: median of 20 sequential GETs under 20 ms") {
    withGateway { base =>
      val url = java.net.URI.create(s"$base/helloworld").toURL
      def once(): Double = {
        val t0 = System.nanoTime()
        val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        val in = c.getInputStream
        try assert(new String(in.readAllBytes(), "UTF-8") == "Hello world.")
        finally in.close()
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 3).foreach(_ => once()) // connection and class warm-up
      val ms = Seq.fill(20)(once()).sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 20.0, s"median GET took $median ms: $ms")
    }
  }

  test("stop() shuts down the handler pool: three start/stop cycles leave no handler thread") {
    def handlerThreads(): Int = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala
        .count(t => t.getName == "graft-gateway" && t.isAlive)
    }
    for (_ <- 1 to 3) withGateway { base =>
      // use the pool, so its threads exist
      assert(get(s"$base/helloworld").statusCode() == 200)
    }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (handlerThreads() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(handlerThreads() == 0, s"${handlerThreads()} graft-gateway threads outlived stop()")
  }

  test("getresult guards: missing params 400; bad job/token 500 in reference order") {
    withGateway { base =>
      assert(get(s"$base/getresult").statusCode() == 400)
      assert(get(s"$base/getresult?job_id=abc&token=t").statusCode() == 400)
      val noJob = get(s"$base/getresult?job_id=99&token=t")
      assert(noJob.statusCode() == 500 && noJob.body().contains("no such job"))

      val launch = post(s"$base/launch", launchBody("charcount_example"))
      val jobId = """"job_id":(\d+)""".r
        .findFirstMatchIn(launch.body()).get.group(1)
      // wrong token beats not-finished (master.cc:685-699 guard order)
      val wrongTok = get(s"$base/getresult?job_id=$jobId&token=nope")
      assert(wrongTok.statusCode() == 500 && wrongTok.body().contains("wrong token"))
    }
  }
}
