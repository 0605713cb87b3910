package graft.mr

import graft.SparkSuite
import graft.mr.JobStore.JobSpec

class JobStoreSpec extends SparkSuite {

  private def kv(pairs: (String, String)*) = {
    import spark.implicits._
    pairs.toDS()
  }

  test("launch → getResult round-trip with token auth") {
    val store = new JobStore(clock = () => 0L)
    val Right(id) = store.launch(spark,
      JobSpec("wc", "wordcount", "tok"), kv(("d1", "a b a"), ("d2", "b")))
    assert(store.getResult(id, "wrong") == Left("wrong token")) // master.cc:691
    assert(store.getResult(id, "tok") == Right(Seq("2", "2"))) // a=2, b=2 in key order
  }

  test("launch validation mirrors master.cc:527-559") {
    val store = new JobStore(clock = () => 0L)
    assert(store.launch(spark, JobSpec("j", "wordcount", "t", mappers = 0),
      kv(("a", "b"))).isLeft)
    assert(store.launch(spark, JobSpec("j", "nosuchtype", "t"),
      kv(("a", "b"))).isLeft)
    assert(store.launch(spark, JobSpec("j", "wordcount", "t"), kv()).isLeft)
  }

  test("results expire after TTL (JOB_RESULT_TIMEOUT_SECOND, master.h:27)") {
    var now = 0L
    val store = new JobStore(clock = () => now, ttlMillis = 1000L)
    val Right(id) = store.launch(spark,
      JobSpec("wc", "wordcount", "t"), kv(("d", "x")))
    assert(store.getResult(id, "t").isRight)
    now = 999L
    assert(store.getResult(id, "t").isRight)
    now = 1000L
    assert(store.getResult(id, "t") == Left(s"no such job: $id"))
  }

  test("unknown job id") {
    val store = new JobStore(clock = () => 0L)
    assert(store.getResult(42L, "t") == Left("no such job: 42"))
  }

  test("cancel: running job lands CANCELLED; terminal jobs are not cancellable") {
    // A deliberately slow job type so the cancel races a genuinely
    // in-flight Spark stage (interruptOnCancel kills the sleeping tasks).
    JobTypeRegistry.register("slow_identity_spec",
      (k, v) => { Thread.sleep(5000); Iterator.single((k, v)) },
      (k, vs) => vs.map(v => s"$k\t$v"))
    val store = new JobStore(clock = () => 0L)
    val Right(id) = store.launchAsync(spark,
      JobSpec("slow", "slow_identity_spec", "tok"), kv(("a", "1"), ("b", "2")))
    Thread.sleep(500) // let the executor thread set its job group
    assert(store.status(id) == Some(JobStore.Running))
    // guard order mirrors getResult: exists → token → running
    assert(store.cancel(spark, 99L, "tok") == Left("no such job: 99"))
    assert(store.cancel(spark, id, "nope") == Left("wrong token"))
    assert(store.cancel(spark, id, "tok") == Right(()))
    assert(store.status(id) == Some(JobStore.Cancelled))
    // the reference's not-finished error shape (master.cc:694-696)
    assert(store.getResult(id, "tok") == Left("job not finished"))
    // already terminal → not cancellable (master.cc:571-583 guard)
    assert(store.cancel(spark, id, "tok") == Left("job not running"))
    // a finished job is likewise not cancellable
    val Right(fin) = store.launch(spark,
      JobSpec("wc", "wordcount", "t"), kv(("d", "x")))
    assert(store.cancel(spark, fin, "t") == Left("job not running"))
    // the cancelled state is terminal even after the killed stage's
    // exception lands in the executor thread
    Thread.sleep(1500)
    assert(store.status(id) == Some(JobStore.Cancelled))
  }

  test("cancel immediately after async launch: the job never completes") {
    // The race the thread-interrupt + pre-run status check close: a
    // cancel landing before the executor thread sets its job group (or
    // submits its first Spark job) must still prevent the work from
    // running to completion — not just flip the reported status.
    JobTypeRegistry.register("slow_identity_race",
      (k, v) => { Thread.sleep(3000); Iterator.single((k, v)) },
      (k, vs) => vs.map(v => s"$k\t$v"))
    val store = new JobStore(clock = () => 0L)
    val Right(id) = store.launchAsync(spark,
      JobSpec("slow", "slow_identity_race", "tok"), kv(("a", "1")))
    assert(store.cancel(spark, id, "tok") == Right(())) // no sleep first
    assert(store.status(id) == Some(JobStore.Cancelled))
    // longer than the map's sleep: a leaked run would have FINISHED by now
    Thread.sleep(4500)
    assert(store.status(id) == Some(JobStore.Cancelled),
      "a cancelled job ran to completion behind the CANCELLED status")
    assert(store.getResult(id, "tok") == Left("job not finished"))
  }

  test("async launch returns immediately; result appears on poll") {
    val store = new JobStore(clock = () => 0L)
    val Right(id) = store.launchAsync(spark,
      JobSpec("wc", "wordcount", "t"), kv(("d1", "x y x"), ("d2", "y")))
    // poll (the reference client polls every 2s, word_count_client.cc:54-57)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var res: Either[String, Seq[String]] = Left("job not finished")
    while (res == Left("job not finished") && System.nanoTime() < deadline) {
      Thread.sleep(100)
      res = store.getResult(id, "t")
    }
    assert(res == Right(Seq("2", "2"))) // x=2, y=2 in key order
  }

  private def awaitStatus(store: JobStore, id: Long, want: JobStore.JobStatus,
      timeoutMs: Long = 60000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (store.status(id) != Some(want) && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(store.status(id) == Some(want),
      s"job $id never reached $want (is ${store.status(id)})")
  }

  test("bounded admission: FIFO Queued → Running order (master.cc:180-349 queue parity)") {
    // Latch-gated job type: each job's map task blocks until its value's
    // latch opens, so admission order is observed deterministically — no
    // timing sampling. maxConcurrent=1 serializes: with A holding the
    // single slot, B and C must WAIT in Queued, and C must not start
    // before B even when C's work is ready first (FIFO, not readiness).
    JobTypeRegistry.register("blocking_gate_spec",
      (k, v) => {
        JobStoreSpecBlocker.await(v)
        Iterator.single((k, v))
      },
      (k, vs) => vs.map(v => s"$k=$v"))
    val store = new JobStore(clock = () => 0L, maxConcurrent = 1)
    def slow(tag: String) = store.launchAsync(spark,
      JobSpec(tag, "blocking_gate_spec", "t", mappers = 1, reducers = 1),
      kv(("k", tag))).toOption.get
    val a = slow("fifoA"); awaitStatus(store, a, JobStore.Running)
    val b = slow("fifoB")
    val c = slow("fifoC")
    assert(store.status(b) == Some(JobStore.Queued))
    assert(store.status(c) == Some(JobStore.Queued))
    // C's work is ready, but FIFO holds it behind B
    JobStoreSpecBlocker.release("fifoC")
    Thread.sleep(300)
    assert(store.status(c) == Some(JobStore.Queued),
      "C started ahead of B: admission is not FIFO")
    JobStoreSpecBlocker.release("fifoA")
    awaitStatus(store, a, JobStore.Finished)
    awaitStatus(store, b, JobStore.Running) // the freed slot goes to B, not C
    assert(store.status(c) == Some(JobStore.Queued))
    JobStoreSpecBlocker.release("fifoB")
    awaitStatus(store, b, JobStore.Finished)
    awaitStatus(store, c, JobStore.Finished)
    assert(store.getResult(a, "t") == Right(Seq("k=fifoA")))
    assert(store.getResult(c, "t") == Right(Seq("k=fifoC")))
  }

  test("bounded admission: a launch flood never exceeds maxConcurrent running jobs") {
    JobTypeRegistry.register("flood_sleep_spec",
      (k, v) => { Thread.sleep(400); Iterator.single((k, v)) },
      (k, vs) => vs.map(v => s"$k=$v"))
    val store = new JobStore(clock = () => 0L, maxConcurrent = 2)
    val ids = (0 until 8).map { i =>
      store.launchAsync(spark,
        JobSpec(s"f$i", "flood_sleep_spec", "t", mappers = 1, reducers = 1),
        kv(("k", s"v$i"))).toOption.get
    }
    // Sample while the flood drains: Running count must never exceed the
    // admission bound (one unbounded thread per launch would show 8).
    var maxRunning = 0
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (ids.exists(id => store.status(id) != Some(JobStore.Finished)) &&
        System.nanoTime() < deadline) {
      val running = ids.count(id => store.status(id) == Some(JobStore.Running))
      maxRunning = math.max(maxRunning, running)
      Thread.sleep(25)
    }
    assert(maxRunning <= 2, s"flood admitted $maxRunning concurrent jobs (bound 2)")
    ids.foreach(awaitStatus(store, _, JobStore.Finished))
    ids.zipWithIndex.foreach { case (id, i) =>
      assert(store.getResult(id, "t") == Right(Seq(s"k=v$i")))
    }
  }

  test("cancel works in the Queued state: the job never runs") {
    JobTypeRegistry.register("blocking_gate_qc",
      (k, v) => { JobStoreSpecBlocker.await(v); JobStoreSpecBlocker.markRan(v)
        Iterator.single((k, v)) },
      (k, vs) => vs.map(v => s"$k=$v"))
    val store = new JobStore(clock = () => 0L, maxConcurrent = 1)
    val Right(a) = store.launchAsync(spark,
      JobSpec("hold", "blocking_gate_qc", "t", mappers = 1, reducers = 1),
      kv(("k", "qcA")))
    awaitStatus(store, a, JobStore.Running)
    val Right(b) = store.launchAsync(spark,
      JobSpec("victim", "blocking_gate_qc", "t", mappers = 1, reducers = 1),
      kv(("k", "qcB")))
    assert(store.status(b) == Some(JobStore.Queued))
    assert(store.cancel(spark, b, "t") == Right(()))
    assert(store.status(b) == Some(JobStore.Cancelled))
    // open EVERY latch; B's work must still never run (admission skips
    // terminal jobs) and the Cancelled state is final
    JobStoreSpecBlocker.release("qcB")
    JobStoreSpecBlocker.release("qcA")
    awaitStatus(store, a, JobStore.Finished)
    Thread.sleep(500)
    assert(store.status(b) == Some(JobStore.Cancelled))
    assert(!JobStoreSpecBlocker.ran("qcB"),
      "a Queued-cancelled job's map closure executed")
    assert(store.getResult(b, "t") == Left("job not finished"))
  }

  test("size-gated result: beyond spillBytes the driver holds a pointer, not the rows") {
    // Tiny bound forces the spill path on a small job; the streamed
    // read-back must reproduce the exact key-ordered result, and TTL
    // eviction must delete the sink directory (disk bounded like RAM).
    var now = 0L
    val root = java.nio.file.Files.createTempDirectory("graft_spill_spec").toString
    val store = new JobStore(clock = () => now, ttlMillis = 1000L,
      spillBytes = 2L, spillRoot = root)
    val Right(id) = store.launch(spark,
      JobSpec("wc", "wordcount", "tok"), kv(("d1", "c a b a"), ("d2", "b z")))
    // inline fetch refuses: the rows are deliberately NOT on the driver
    val inline = store.getResult(id, "tok")
    assert(inline.isLeft && inline.swap.exists(_.contains("spilled")), inline)
    val Right(sp: JobStore.SpilledResult) = store.fetchResult(id, "tok")
    assert(sp.rows == 4L && new java.io.File(sp.dir).isDirectory, sp)
    // key-ordered, exactly the inline semantics: a=2, b=2, c=1, z=1
    assert(JobStore.readSpilled(spark, sp).toSeq == Seq("2", "2", "1", "1"))
    // wrong token still guarded
    assert(store.fetchResult(id, "bad") == Left("wrong token"))
    // TTL eviction deletes the sink files with the job
    now = 1000L
    assert(store.fetchResult(id, "tok") == Left(s"no such job: $id"))
    assert(!new java.io.File(sp.dir).exists(),
      "TTL eviction left the spilled result's sink directory behind")
  }

  test("leased spill sink survives a mid-stream TTL eviction; delete defers to release") {
    // The gateway's chunked /getresult reads the sink AFTER committing a
    // 200 — a concurrent sweep (another request, the 10 s sweeper)
    // deleting the parquet mid-stream would hand the client a truncated
    // body. The leased fetch pins the sink: eviction removes the JOB but
    // defers the directory delete to the last release.
    var now = 0L
    val root = java.nio.file.Files.createTempDirectory("graft_lease_spec").toString
    val store = new JobStore(clock = () => now, ttlMillis = 1000L,
      spillBytes = 2L, spillRoot = root)
    val Right(id) = store.launch(spark,
      JobSpec("wc", "wordcount", "tok"), kv(("d1", "c a b a"), ("d2", "b z")))
    val Right(sp: JobStore.SpilledResult) = store.fetchResultLeased(id, "tok")
    // TTL boundary fires mid-stream: the job evicts, the sink must not
    now = 1000L
    assert(store.evictExpired() >= 1)
    assert(store.fetchResult(id, "tok") == Left(s"no such job: $id"))
    assert(new java.io.File(sp.dir).isDirectory,
      "eviction deleted a leased spill sink out from under its stream")
    // the full stream still serves the exact key-ordered result
    assert(JobStore.readSpilled(spark, sp).toSeq == Seq("2", "2", "1", "1"))
    // the deferred delete lands on release
    store.releaseSpill(sp)
    assert(!new java.io.File(sp.dir).exists(),
      "release did not perform the deferred eviction delete")
  }

  test("orphan spill dirs (crashed materialize) are swept once aged past the TTL") {
    // A JVM that died mid-materialize leaves a partial parquet dir with
    // no terminal job pointing at it; a fresh store's TTL sweep must
    // bound that disk. Age gate: a RECENT dir (a sibling store's live
    // write, an id this store hasn't reached) survives.
    val root = java.nio.file.Files.createTempDirectory("graft_orphan_spec").toString
    val orphan = new java.io.File(root, "job-7")
    assert(orphan.mkdirs())
    java.nio.file.Files.writeString(
      orphan.toPath.resolve("part-00000.parquet"), "partial")
    val foreign = new java.io.File(root, "not-a-job-dir")
    assert(foreign.mkdirs())
    // clock far ahead of the dir's real mtime → aged out
    val store = new JobStore(
      clock = () => System.currentTimeMillis() + 10_000L,
      ttlMillis = 1000L, spillRoot = root)
    store.evictExpired()
    assert(!orphan.exists(), "aged orphan spill dir was not swept")
    assert(foreign.exists(), "sweep touched a non-job directory")
    // a recent dir survives (clock behind mtime + ttl)
    val fresh = new java.io.File(root, "job-8")
    assert(fresh.mkdirs())
    val store2 = new JobStore(clock = () => System.currentTimeMillis(),
      ttlMillis = 3600_000L, spillRoot = root)
    store2.evictExpired()
    assert(fresh.exists(), "sweep deleted a recent (possibly live) spill dir")
  }

  test("lazy-path orphan sweep is rate-limited; background sweep() is not") {
    // The hot path (every fetchResult/cancel → evictExpired) must not
    // list the spill root per call — at most once per TTL. The gateway's
    // background sweep() stays unconditional.
    val root = java.nio.file.Files.createTempDirectory("graft_orphan_rate").toString
    var now = 100_000L
    val store = new JobStore(clock = () => now, ttlMillis = 1000L, spillRoot = root)
    def orphan(id: Int): java.io.File = {
      val d = new java.io.File(root, s"job-$id")
      assert(d.mkdirs())
      // age the dir past the TTL relative to the fake clock
      assert(d.setLastModified(now - 10_000L))
      d
    }
    val o1 = orphan(1)
    store.evictExpired() // first lazy call: never swept before → sweeps
    assert(!o1.exists(), "first lazy sweep did not run")
    val o2 = orphan(2)
    now += 500L // within the TTL window of the last sweep
    store.evictExpired()
    assert(o2.exists(), "lazy path listed the spill root within the rate window")
    store.sweep() // background scanner path is unconditional
    assert(!o2.exists(), "sweep() did not sweep orphans unconditionally")
    val o3 = orphan(3)
    now += 1000L // past the TTL since sweep() stamped the clock
    store.evictExpired()
    assert(!o3.exists(), "lazy sweep did not resume after the rate window")
  }

  test("size-gated result: within the bound stays inline with no spill directory") {
    val root = java.nio.file.Files.createTempDirectory("graft_spill_spec2").toString
    val store = new JobStore(clock = () => 0L, spillRoot = root)
    val Right(id) = store.launch(spark,
      JobSpec("wc", "wordcount", "tok"), kv(("d", "p q p")))
    assert(store.getResult(id, "tok") == Right(Seq("2", "1")))
    val Right(res) = store.fetchResult(id, "tok")
    assert(res.isInstanceOf[JobStore.InlineResult])
    assert(Option(new java.io.File(root).list()).forall(_.isEmpty),
      "an inline result wrote a spill directory")
  }

  // ---- the `Seq` launch form: the driver kernel under the same lifecycle ----

  test("launch → getResult on the driver kernel, no Spark job") {
    val store = new JobStore(clock = () => 0L)
    var id = -1L
    val jobs = sparkJobsDuring {
      id = store.launch(spark, JobSpec("wc", "wordcount", "tok"),
        Seq(("d1", "a b a"), ("d2", "b"))).toOption.get
    }
    assert(store.getResult(id, "tok") == Right(Seq("2", "2")))
    assert(jobs == 0, s"$jobs Spark jobs ran for an inline driver-kernel job")
    // validation is the Dataset form's, without a Spark job for the emptiness check
    assert(store.launch(spark, JobSpec("j", "wordcount", "t"), Seq.empty[(String, String)]) ==
      Left("input kvs must be non-empty"))
    assert(store.launch(spark, JobSpec("j", "wordcount", "t", reducers = 0),
      Seq(("a", "b"))).isLeft)
  }

  test("cancel: a running driver-kernel job whose map sleeps lands Cancelled and never finishes") {
    JobTypeRegistry.register("slow_local_spec",
      (k, v) => { Thread.sleep(3000); JobStoreSpecBlocker.markRan(v); Iterator.single((k, v)) },
      (k, vs) => vs.map(v => s"$k\t$v"))
    val store = new JobStore(clock = () => 0L)
    val Right(id) = store.launchAsync(spark,
      JobSpec("slow", "slow_local_spec", "tok"), Seq(("a", "local1"), ("b", "local2")))
    awaitStatus(store, id, JobStore.Running)
    Thread.sleep(200) // the map is asleep in its first record
    assert(store.cancel(spark, id, "tok") == Right(()))
    assert(store.status(id) == Some(JobStore.Cancelled))
    // longer than one record's sleep: an uninterrupted kernel would have
    // finished its first record by now
    Thread.sleep(4000)
    assert(store.status(id) == Some(JobStore.Cancelled))
    assert(store.getResult(id, "tok") == Left("job not finished"))
    assert(!JobStoreSpecBlocker.ran("local1") && !JobStoreSpecBlocker.ran("local2"),
      "the cancel did not interrupt the driver kernel")
    assert(store.cancel(spark, id, "tok") == Left("job not running"))
  }

  test("map output past the driver budget completes on the Spark kernel, same result") {
    // 3M empty values over 4 keys from one record, no combiner: the
    // kernel's estimate (48 bytes a value) passes its 128 MiB budget, so
    // the job reruns on the Spark kernel from the same kvs.
    JobTypeRegistry.register("fanout_budget_spec",
      (_, _) => Iterator.tabulate(3000000)(i => (s"k${i % 4}", "")),
      (k, vs) => Iterator.single(s"$k=${vs.size}"))
    val store = new JobStore(clock = () => 0L)
    var id = -1L
    val jobs = sparkJobsDuring {
      id = store.launch(spark, JobSpec("fan", "fanout_budget_spec", "t"),
        Seq(("d", "v"))).toOption.get
    }
    val want = (0 until 4).map(i => s"k$i=750000")
    assert(store.getResult(id, "t") == Right(want))
    assert(jobs > 0, "the over-budget job did not run on the Spark kernel")
  }

  test("an Error thrown by user code on the driver kernel fails the job") {
    // `assert` and `???` throw Errors, not Exceptions; on the Spark kernel
    // they failed a task and so the job, and the driver kernel must match.
    JobTypeRegistry.register("assert_map_spec",
      (_, v) => { Predef.assert(v != "bad", "bad record"); Iterator.single((v, v)) },
      JobTypeRegistry.distinctReduce)
    JobTypeRegistry.register("todo_reduce_spec",
      JobTypeRegistry.identityMap, (_, _) => ???)
    val store = new JobStore(clock = () => 0L)
    val Right(sync) = store.launch(spark, JobSpec("a", "assert_map_spec", "t"),
      Seq(("d1", "ok"), ("d2", "bad")))
    assert(store.status(sync) == Some(JobStore.Failed("assertion failed: bad record")))
    assert(store.getResult(sync, "t") == Left("job failed: assertion failed: bad record"))
    val Right(async) = store.launchAsync(spark,
      JobSpec("b", "todo_reduce_spec", "t"), Seq(("k", "v")))
    awaitStatus(store, async, JobStore.Failed("an implementation is missing"))
  }

  test("bounded admission (driver kernel): FIFO Queued → Running order") {
    JobTypeRegistry.register("blocking_gate_local",
      (k, v) => { JobStoreSpecBlocker.await(v); Iterator.single((k, v)) },
      (k, vs) => vs.map(v => s"$k=$v"))
    val store = new JobStore(clock = () => 0L, maxConcurrent = 1)
    def slow(tag: String) = store.launchAsync(spark,
      JobSpec(tag, "blocking_gate_local", "t"), Seq(("k", tag))).toOption.get
    val a = slow("lfifoA"); awaitStatus(store, a, JobStore.Running)
    val b = slow("lfifoB")
    val c = slow("lfifoC")
    assert(store.status(b) == Some(JobStore.Queued))
    assert(store.status(c) == Some(JobStore.Queued))
    JobStoreSpecBlocker.release("lfifoC")
    Thread.sleep(300)
    assert(store.status(c) == Some(JobStore.Queued),
      "C started ahead of B: admission is not FIFO")
    JobStoreSpecBlocker.release("lfifoA")
    awaitStatus(store, a, JobStore.Finished)
    awaitStatus(store, b, JobStore.Running)
    assert(store.status(c) == Some(JobStore.Queued))
    JobStoreSpecBlocker.release("lfifoB")
    awaitStatus(store, b, JobStore.Finished)
    awaitStatus(store, c, JobStore.Finished)
    assert(store.getResult(a, "t") == Right(Seq("k=lfifoA")))
    assert(store.getResult(c, "t") == Right(Seq("k=lfifoC")))
  }

  test("driver-kernel result beyond spillBytes spills in one Spark job, streams back in key order") {
    var now = 0L
    val root = java.nio.file.Files.createTempDirectory("graft_local_spill").toString
    val store = new JobStore(clock = () => now, ttlMillis = 1000L,
      spillBytes = 2L, spillRoot = root)
    var id = -1L
    val jobs = sparkJobsDuring {
      id = store.launch(spark, JobSpec("wc", "wordcount", "tok"),
        Seq(("d1", "c a b a"), ("d2", "b z"))).toOption.get
    }
    assert(jobs == 1, s"the spill took $jobs Spark jobs")
    val Right(sp: JobStore.SpilledResult) = store.fetchResult(id, "tok")
    assert(sp.rows == 4L && sp.bytes == 4L, sp)
    assert(JobStore.readSpilled(spark, sp).toSeq == Seq("2", "2", "1", "1"))
    now = 1000L
    assert(store.fetchResult(id, "tok") == Left(s"no such job: $id"))
    assert(!new java.io.File(sp.dir).exists())
  }
}

/** Shared latch registry for the admission specs — tasks run in-JVM
  * under local[*], so the map closures gate on these directly.
  */
object JobStoreSpecBlocker {
  private val latches =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()
  private val executed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def latch(key: String) =
    latches.computeIfAbsent(key, _ => new java.util.concurrent.CountDownLatch(1))
  def await(key: String): Unit =
    latch(key).await(120, java.util.concurrent.TimeUnit.SECONDS)
  def release(key: String): Unit = latch(key).countDown()
  def markRan(key: String): Unit = { executed.add(key); () }
  def ran(key: String): Boolean = executed.contains(key)
}
