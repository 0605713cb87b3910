package graft.mr

import org.apache.spark.sql.{Dataset, SparkSession}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/** Job lifecycle registry — the library-API analog of the reference's
  * master job table + HTTP gateway surface:
  *  - launch validation: mapper/reducer > 0, non-empty input
  *    (`/root/reference/src/tmapreduce/master.cc:530-535`);
  *  - bounded admission: at most `maxConcurrent` jobs execute at once,
  *    later launches wait in a FIFO Queued state — the analog of the
  *    reference queueing subjobs until a worker is idle
  *    (`master.cc:180-349`: `distribute_tasks` only hands a subjob to an
  *    idle capable worker and re-queues otherwise). One thread per
  *    launch would admit an unbounded flood of concurrent Spark job
  *    groups into a long-lived gateway;
  *  - result fetch by (job_id, token) with exact-match auth
  *    (`master.cc:685-699`, `job.h:93`);
  *  - size-gated results: the reference holds every finished result in
  *    master RAM (`job.h:86-88`) — fine for its word-count example,
  *    a driver-heap scale-killer for a long-lived process serving
  *    user-sized outputs. Results whose measured byte size exceeds
  *    `spillBytes` are written to a parquet spill sink by the EXECUTORS
  *    (the driver never materializes them) and the job state holds a
  *    pointer; [[JobStore.readSpilled]] streams them back one bounded
  *    partition at a time (`toLocalIterator`), and the gateway's
  *    `/getresult` streams that as a chunked response;
  *  - finished results expire after a TTL
  *    (`JOB_RESULT_TIMEOUT_SECOND=3600`, `master.h:27`; scanner
  *    `master.cc:449-463`) — eviction also deletes a spilled result's
  *    sink directory, so the TTL bounds disk exactly as it bounds RAM.
  *
  *  - two launch forms that share admission, TTL, cancel and the spill
  *    gate, and differ in the kernel they run: a `Dataset` input runs the
  *    Spark kernel ([[MRJob.run]]); a `Seq` input — a KV list the driver
  *    already holds, e.g. a `/launch` body — runs the driver kernel
  *    ([[MRJob.runLocal]]), the reference master's single in-memory merge
  *    (`job.cc:45-66`), and starts no Spark job unless its result spills
  *    or its buffered map output passes [[MRJob.LocalBufferBudgetBytes]],
  *    in which case the same KV list reruns on the Spark kernel.
  *
  * The Raft/etcd/brpc machinery around this table is deliberately dropped
  * (SURVEY.md §7.6): Spark's driver is the single coordinator.
  *
  * Clock is injectable so TTL behavior is unit-testable (SURVEY.md §7.7-6).
  */
final class JobStore(
    clock: () => Long = () => System.currentTimeMillis(),
    ttlMillis: Long = JobStore.DefaultTtlMillis,
    maxConcurrent: Int = JobStore.DefaultMaxConcurrent,
    spillBytes: Long = JobStore.DefaultSpillBytes,
    spillRoot: String = JobStore.defaultSpillRoot()) {

  import JobStore._
  require(maxConcurrent > 0, "maxConcurrent must be > 0")

  private val nextId = new AtomicLong(0L)
  private val jobs = new ConcurrentHashMap[Long, JobState]()
  // Executor threads by job id, for cancel(): the job-group kill only
  // reaches stages already submitted, so cancel() also interrupts the
  // executor thread — covering the window before the thread has set its
  // job group (or submitted its first Spark job).
  private val threads = new ConcurrentHashMap[Long, Thread]()
  // Makes interrupt DELIVERY (cancel: threads.get + interrupt) mutually
  // exclusive with teardown (execute's finally: threads.remove +
  // Thread.interrupted). Without it, cancel() can read the thread before
  // the finally removes the mapping and deliver the interrupt AFTER
  // Thread.interrupted() cleared the flag — the pending interrupt would
  // land in the pool thread's NEXT job and spuriously fail an unrelated
  // queued job. Under the lock the interleaving is either
  // interrupt-then-clear (flag consumed with the job it targeted) or
  // remove-then-no-interrupt.
  private val interruptGate = new Object
  // Spilled-result read leases: a dir with an active lease (a gateway
  // response streaming it) is never deleted out from under the scan —
  // TTL eviction defers the delete to the last release. Guarded by
  // leaseGate so a lease can never be taken on a dir the sweeper is
  // concurrently deciding to delete.
  private val leaseGate = new Object
  private val spillLeases = new ConcurrentHashMap[String, Integer]()
  private val pendingDelete = ConcurrentHashMap.newKeySet[String]()
  // Last lazy-path orphan sweep (injectable-clock time); MinValue =
  // never, so a fresh store's first lazy sweep still covers crash
  // leftovers even before any gateway scanner runs.
  @volatile private var lastOrphanSweep: Long = Long.MinValue
  // Fixed-size admission pool with a FIFO wait queue: Queued jobs run in
  // launch order as slots free up (the reference's idle-worker queue,
  // master.cc:180-349). Daemon threads — the store never pins the JVM.
  private lazy val pool: java.util.concurrent.ExecutorService = {
    val n = new AtomicLong(0L)
    java.util.concurrent.Executors.newFixedThreadPool(maxConcurrent,
      r => { val t = new Thread(r, s"graft-job-worker-${n.getAndIncrement()}")
        t.setDaemon(true); t })
  }

  /** Validate + run a job of a registered type; returns the job id once
    * the job has completed (synchronous form).
    * Mirrors handle_launch (`master.cc:527-559`): validation errors are
    * surfaced to the caller, nothing is registered for an invalid launch.
    */
  def launch(
      spark: SparkSession,
      spec: JobSpec,
      input: Dataset[(String, String)]): Either[String, Long] =
    submit(spark, spec, input.isEmpty, async = false)(
      onSpark(spark, _, spec, input, _))

  /** [[launch]] for a KV list held in driver memory: runs the driver
    * kernel (see the class doc for when it falls back to Spark).
    */
  def launch(
      spark: SparkSession,
      spec: JobSpec,
      input: Seq[(String, String)]): Either[String, Long] =
    submit(spark, spec, input.isEmpty, async = false)(
      onDriver(spark, _, spec, input, _))

  /** Async form — the reference's actual surface: `/launch` returns a job
    * id immediately and clients poll `/getresult`
    * (`gateway.cc:66-184`, example client polls every 2 s,
    * `word_count_client.cc:54-57`). The job enters the FIFO admission
    * queue (status Queued) and transitions Queued → Running when one of
    * the `maxConcurrent` pool slots picks it up — a launch flood holds
    * at most `maxConcurrent` concurrent Spark job groups, the rest wait
    * in submission order.
    */
  def launchAsync(
      spark: SparkSession,
      spec: JobSpec,
      input: Dataset[(String, String)]): Either[String, Long] =
    submit(spark, spec, input.isEmpty, async = true)(
      onSpark(spark, _, spec, input, _))

  /** [[launchAsync]] for a KV list held in driver memory — the form the
    * gateway calls: same queue, the driver kernel.
    */
  def launchAsync(
      spark: SparkSession,
      spec: JobSpec,
      input: Seq[(String, String)]): Either[String, Long] =
    submit(spark, spec, input.isEmpty, async = true)(
      onDriver(spark, _, spec, input, _))

  /** Validate → register → execute, for every launch form: `compute` is the
    * kernel run for the new job id; `async` queues it on the pool instead
    * of running it on the caller's thread.
    */
  private def submit(
      spark: SparkSession, spec: JobSpec, inputIsEmpty: => Boolean, async: Boolean)(
      compute: (Long, JobTypeRegistry.MapReduceFn) => JobResult): Either[String, Long] =
    validate(spec, inputIsEmpty).map { fns =>
      val id = register(spec)
      val run: Runnable = () => execute(spark, id, spec)(compute(id, fns))
      if (async) pool.execute(run) else run.run()
      id
    }

  private def validate(
      spec: JobSpec, inputIsEmpty: => Boolean): Either[String, JobTypeRegistry.MapReduceFn] =
    if (spec.mappers <= 0 || spec.reducers <= 0)
      Left("mapper_num and reducer_num must be > 0") // master.cc:530-532
    else JobTypeRegistry.lookup(spec.jobType) match {
      case None => Left(s"unknown job type: ${spec.jobType}") // no capable worker
      case Some(fns) =>
        if (inputIsEmpty) Left("input kvs must be non-empty") // master.cc:533-535
        else Right(fns)
    }

  private def register(spec: JobSpec): Long = {
    val id = nextId.getAndIncrement()
    jobs.put(id, JobState(spec, Queued, None, None))
    id
  }

  /** The job lifecycle around one kernel run (`compute`), shared by both
    * launch forms: admission, cancel plumbing, the terminal transition.
    */
  private def execute(spark: SparkSession, id: Long, spec: JobSpec)(
      compute: => JobResult): Unit =
    try {
      // Admission: only a still-Queued job starts running — a cancel
      // that landed while the job waited in the queue transitioned it to
      // the terminal Cancelled state, and no work may run for it. (A
      // cancel landing AFTER this transition is covered by the group
      // kill for submitted stages and the thread interrupt, which the
      // driver kernel and the gap before a Spark job both observe.)
      var admitted = false
      jobs.computeIfPresent(id, (_, st) =>
        if (st.status == Queued) { admitted = true; st.copy(status = Running) }
        else st)
      if (!admitted) return
      threads.put(id, Thread.currentThread())
      // Tag every Spark job this MR job spawns with a per-id group so
      // cancel() can kill the in-flight stages (the analog of the
      // reference unassigning a subjob from its worker, master.cc:571-583
      // — except Spark's cancellation is terminal, not a requeue).
      spark.sparkContext.setJobGroup(jobGroup(id),
        s"graft job $id: ${spec.name}", interruptOnCancel = true)
      val result = compute
      finishIfRunning(id, _.copy(status = Finished, result = Some(result),
        finishedAt = Some(clock())))
      // A cancel that won the race AFTER the result wrote a spill sink
      // left the job terminally Cancelled with result=None — nothing
      // would ever point at (or delete) the sink. If the Finished
      // transition did not take effect, the sink is orphaned: delete it.
      if (!Option(jobs.get(id)).exists(_.status == Finished))
        deleteDir(spillDir(id))
    } catch {
      case e: Throwable =>
        // A cancelled job's action dies with a SparkException (or the
        // interrupt) here; finishIfRunning leaves the Cancelled state in
        // place — only a still-Running job transitions to Failed. A
        // partially-written spill sink from the failed/cancelled attempt
        // is deleted — nothing points at it.
        deleteDir(spillDir(id))
        finishIfRunning(id, _.copy(
          status = Failed(Option(e.getMessage).getOrElse(e.toString)),
          finishedAt = Some(clock())))
        // User map/reduce code runs on this thread under the driver
        // kernel, so an Error it throws (`assert`, `???`) lands here, where
        // the Spark kernel would have seen a failed task: it fails the job
        // like any task failure. Only a fatal error still propagates —
        // after the job is Failed, so it never stays Running.
        if (!NonFatal(e) && !e.isInstanceOf[InterruptedException]) throw e
    } finally {
      // Close the cancel gap: cancel()'s group kill only reaches Spark
      // jobs already submitted when it fires, so a job this thread
      // submitted AFTER the kill (but before observing the interrupt)
      // escapes it and would run to completion holding executor slots.
      // Re-issue the group cancel while the group tag is still set — the
      // status check is race-free because Cancelled is terminal.
      if (Option(jobs.get(id)).exists(_.status == Cancelled))
        spark.sparkContext.cancelJobGroup(jobGroup(id))
      spark.sparkContext.clearJobGroup()
      interruptGate.synchronized {
        threads.remove(id)
        Thread.interrupted() // clear a late interrupt; the pool thread moves on
      }
    }

  private def onSpark(spark: SparkSession, id: Long, spec: JobSpec,
      input: Dataset[(String, String)], fns: JobTypeRegistry.MapReduceFn): JobResult =
    materialize(spark, id, MRJob.run(spark, input, fns.mapFn, fns.reduceFn,
      spec.mappers, spec.reducers, fns.combineFn))

  /** Driver kernel, size-gated like [[materialize]]: a result within
    * `spillBytes` stays on the driver as it already is; a larger one is
    * written to the spill sink from the driver rows in one Spark job. A
    * map output past the kernel's budget reruns on the Spark kernel.
    */
  private def onDriver(spark: SparkSession, id: Long, spec: JobSpec,
      input: Seq[(String, String)], fns: JobTypeRegistry.MapReduceFn): JobResult = {
    val local =
      try Some(MRJob.runLocal(input, fns.mapFn, fns.reduceFn,
        spec.mappers, spec.reducers, fns.combineFn))
      catch { case _: MRJob.LocalBudgetExceeded => None }
    import spark.implicits._
    local match {
      case None => onSpark(spark, id, spec, input.toDS(), fns)
      case Some(rows) =>
        val bytes = rows.iterator.map(MRJob.utf8Length).sum
        if (bytes <= spillBytes) InlineResult(rows.toArray)
        else {
          val dir = spillDir(id)
          rows.iterator.zipWithIndex.map { case (r, i) => (i.toLong, r) }.toSeq
            .toDF("mid", "result")
            .write.mode("overwrite").parquet(dir)
          SpilledResult(dir, rows.size.toLong, bytes)
        }
    }
  }

  /** O8/O10 result materialization, size-gated: one distributed aggregate
    * measures the result's byte size WITHOUT bringing a row to the driver
    * (the lineage's shuffle files are reused, so this reruns only the
    * final stage); results within `spillBytes` collect inline (the
    * reference's master-RAM shape, `job.h:86-88`), larger ones write the
    * parquet spill sink executor-parallel with an order key
    * (`monotonically_increasing_id` is monotone with the range-partition
    * order MRJob already established, so the read-back `orderBy(mid)`
    * restores the reference's key-ordered concatenation, job.cc:68-77).
    */
  private def materialize(
      spark: SparkSession, id: Long, out: Dataset[String]): JobResult = {
    import org.apache.spark.sql.functions._
    // DISK_ONLY persist scoped to this method: the sizing aggregate and
    // the collect/spill are two actions — without it the whole lineage
    // (including the USER's map/reduce closures) would execute twice,
    // doubling cost and double-running any side-effecting UDF. Disk, not
    // heap: the result may be arbitrarily large; unpersisted on exit so
    // the store leaves no net cached blocks behind.
    val df = out.toDF("result")
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val stats = df.agg(
        count(lit(1)).cast("long"),
        coalesce(sum(octet_length(col("result"))), lit(0L)).cast("long")).head()
      val (rows, bytes) = (stats.getLong(0), stats.getLong(1))
      if (bytes <= spillBytes)
        InlineResult(df.collect().map(_.getString(0)))
      else {
        val dir = spillDir(id)
        df.withColumn("mid", monotonically_increasing_id())
          .select("mid", "result")
          .write.mode("overwrite").parquet(dir)
        SpilledResult(dir, rows, bytes)
      }
    } finally df.unpersist(blocking = false)
  }

  private def spillDir(id: Long): String =
    new java.io.File(spillRoot, s"job-$id").toString

  /** Terminal-state transition guard: Queued/Running are the only
    * non-terminal statuses and execute() owns the Queued → Running edge,
    * so Finished/Failed/Cancelled can never clobber each other regardless
    * of how the pool thread and cancel() interleave.
    */
  private def finishIfRunning(id: Long, f: JobState => JobState): Unit =
    jobs.computeIfPresent(id, (_, st) => if (st.status == Running) f(st) else st)

  /** Cancel a queued or running job: token-authenticated like getResult,
    * kills the in-flight Spark stages via the job group, and lands the
    * job in the terminal Cancelled state (TTL-evicted like any finished
    * job). A still-Queued job simply never starts — execute()'s admission
    * check skips terminal jobs, the reference's cancel-before-assignment
    * case. A job already in a terminal state is not cancellable — mirrors
    * the reference's guard that only an unfinished subjob can be
    * cancelled (`master.cc:571-583`).
    */
  def cancel(spark: SparkSession, id: Long, token: String): Either[String, Unit] = {
    evictExpired() // same sweep as getResult: a TTL-expired job is GONE
    Option(jobs.get(id)) match {
      case None => Left(s"no such job: $id")
      case Some(st) if st.spec.token != token => Left("wrong token")
      case _ =>
        var transitioned = false
        jobs.computeIfPresent(id, (_, st) =>
          if (st.status == Running || st.status == Queued) {
            transitioned = true
            st.copy(status = Cancelled, result = None, finishedAt = Some(clock()))
          } else st)
        if (transitioned) {
          // Kill already-submitted stages via the group, and interrupt
          // the pool thread for the pre-submission window (a group
          // cancel only reaches jobs that exist when it fires). A
          // Queued job has neither — both calls are no-ops for it.
          spark.sparkContext.cancelJobGroup(jobGroup(id))
          // Atomic with execute()'s teardown (see interruptGate): the
          // interrupt is delivered only while the id→thread mapping is
          // still live, so it can never leak into the pool thread's next
          // job after Thread.interrupted() has already run.
          interruptGate.synchronized {
            Option(threads.get(id)).foreach(_.interrupt())
          }
          Right(())
        } else Left("job not running")
    }
  }

  /** Token-authenticated result fetch; mirrors handle_get_result guards
    * in order: exists → token → finished (`master.cc:685-699`). Inline
    * results only — a spilled result deliberately does NOT round-trip
    * through the driver heap here; use [[fetchResult]] +
    * [[JobStore.readSpilled]] to stream it.
    */
  def getResult(id: Long, token: String): Either[String, Seq[String]] =
    fetchResult(id, token).flatMap {
      case InlineResult(rows) => Right(rows.toSeq)
      case SpilledResult(dir, rows, bytes) =>
        Left(s"result spilled ($rows rows, $bytes bytes) to $dir; " +
          "stream it via fetchResult + JobStore.readSpilled")
    }

  /** Result fetch returning the size-gated representation: InlineResult
    * for results within the spill bound, SpilledResult (a pointer to the
    * executor-written parquet sink) beyond it. Same guard order as
    * [[getResult]].
    */
  def fetchResult(id: Long, token: String): Either[String, JobResult] = {
    evictExpired()
    Option(jobs.get(id)) match {
      case None => Left(s"no such job: $id")
      case Some(st) if st.spec.token != token => Left("wrong token")
      case Some(JobState(_, Finished, Some(res), _)) => Right(res)
      case Some(JobState(_, Failed(msg), _, _)) => Left(s"job failed: $msg")
      // Cancelled, Queued and Running all answer with the reference's
      // not-finished error shape (master.cc:694-696): a cancelled job
      // simply never finishes, a queued one hasn't started.
      case Some(_) => Left("job not finished")
    }
  }

  /** [[fetchResult]] that additionally takes a READ LEASE on a spilled
    * result's sink, atomically with the TTL sweep — a concurrent
    * `evictExpired` (another request, the gateway's 10 s sweeper) can
    * then never delete the parquet sink while a chunked response is
    * mid-stream (it defers the delete to [[releaseSpill]]). Callers MUST
    * release the lease when the stream ends, success or failure.
    */
  def fetchResultLeased(id: Long, token: String): Either[String, JobResult] =
    leaseGate.synchronized {
      fetchResult(id, token) match {
        case r @ Right(SpilledResult(dir, _, _)) =>
          spillLeases.merge(dir, 1, (a, b) => a + b); r
        case other => other
      }
    }

  /** Release a [[fetchResultLeased]] lease; performs a delete the TTL
    * sweep deferred while the stream was active.
    */
  def releaseSpill(res: SpilledResult): Unit = {
    // Decide under leaseGate, delete OUTSIDE it: hadoopDelete is a
    // recursive remote-FS call, and fetchResultLeased also takes this
    // gate — a slow delete must never serialize concurrent fetches.
    val doDelete = leaseGate.synchronized {
      val left = spillLeases.compute(res.dir,
        (_, v) => if (v == null || v <= 1) null else v - 1)
      left == null && pendingDelete.remove(res.dir)
    }
    if (doDelete) hadoopDelete(res.dir)
  }

  def status(id: Long): Option[JobStatus] = Option(jobs.get(id)).map(_.status)

  /** Drop finished/failed jobs older than the TTL; returns eviction count
    * (the BGScaner sweep, `master.cc:449-463` + `master.cc:701-710`).
    * A spilled result's sink directory is deleted with its job — the TTL
    * bounds spill DISK exactly as the reference's bounds master RAM.
    */
  def evictExpired(): Int = {
    val n = evictExpiredJobs()
    // Hot-path guard: every fetchResult/cancel runs this sweep, but the
    // orphan sweep lists the spill ROOT — a per-call remote-FS RPC on
    // deployments whose default filesystem is not local disk. Rate-limit
    // it to at most once per TTL on the lazy path; the gateway's 10 s
    // background sweeper runs it unconditionally via [[sweep]].
    val now = clock()
    if (lastOrphanSweep == Long.MinValue || now - lastOrphanSweep >= ttlMillis) {
      lastOrphanSweep = now
      sweepOrphanSpills()
    }
    n
  }

  /** Full background sweep (the gateway's 10 s scanner): TTL job
    * eviction plus an UNCONDITIONAL orphan-spill sweep — the detached
    * scanner is the one place the spill-root listing belongs.
    */
  def sweep(): Int = {
    val n = evictExpiredJobs()
    lastOrphanSweep = clock()
    sweepOrphanSpills()
    n
  }

  private def evictExpiredJobs(): Int = {
    val now = clock()
    var n = 0
    jobs.forEach { (id, st) =>
      if (st.finishedAt.exists(t => now - t >= ttlMillis)) {
        jobs.remove(id); n += 1
        st.result.foreach {
          case SpilledResult(dir, _, _) => deleteDir(dir)
          case _ => ()
        }
      }
    }
    n
  }

  /** Delete spill sink dirs no live job points at — leftovers of a
    * crashed materialize (the process died mid-write: the job never
    * reached a terminal state, or a previous JVM's jobs are simply gone
    * from this store's registry). Runs with the TTL sweep so a
    * long-lived gateway's spill disk is bounded by its LIVE jobs, not
    * its crash history. Guards: only `job-<id>` dirs whose id belongs to
    * no registered job (Queued/Running included — materialize may be
    * mid-write) AND whose modification time has aged past the TTL — the
    * same retention finished results get, and the age gate keeps a
    * second store sharing the root (or an id this store hasn't reached
    * yet) safe from a premature sweep.
    */
  private def sweepOrphanSpills(): Unit =
    try {
      val root = new org.apache.hadoop.fs.Path(spillRoot)
      val fs = root.getFileSystem(hadoopConf)
      val now = clock()
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("job-"))
          name.stripPrefix("job-").toLongOption.foreach { id =>
            if (!jobs.containsKey(id) &&
                now - st.getModificationTime >= ttlMillis)
              deleteDir(st.getPath.toString)
          }
      }
    } catch { case _: Exception => () }

  /** Lease-aware spill-sink delete through the Hadoop filesystem the
    * sink was WRITTEN with (Spark's default FS) — `java.io.File` would
    * silently never delete on any deployment whose default FS is not the
    * driver-local disk, unbounding spill disk despite the TTL. A dir
    * with an active read lease is deferred to [[releaseSpill]].
    */
  private def deleteDir(dir: String): Unit = {
    // Decide under leaseGate (lease vs delete is the race the gate
    // exists for), but run the remote-FS delete outside it so a slow
    // delete never blocks fetchResultLeased. Safe: deleteDir is only
    // reached for dirs whose job is already gone from `jobs` (or that
    // never had one), so no new lease on this dir can be taken.
    val doDelete = leaseGate.synchronized {
      if (spillLeases.containsKey(dir)) { pendingDelete.add(dir); false }
      else true
    }
    if (doDelete) hadoopDelete(dir)
  }

  private def hadoopDelete(dir: String): Unit =
    try {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(hadoopConf)
      if (fs.exists(path)) fs.delete(path, true)
      ()
    } catch { case _: Exception => () }

  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
}

object JobStore {
  val DefaultTtlMillis: Long = 3600L * 1000L // JOB_RESULT_TIMEOUT_SECOND, master.h:27
  /** Default admission bound — the "worker pool" a single-driver
    * deployment exposes; the reference's analog is its registered-worker
    * count (`master.cc:180-349` re-queues when none is idle).
    */
  val DefaultMaxConcurrent: Int = 4
  /** Inline-result bound: results measured larger than this never land
    * on the driver heap — they spill to a parquet sink and stream back.
    * 16 MiB keeps every plausible control-plane result inline while
    * bounding a long-lived gateway's per-job heap exposure.
    */
  val DefaultSpillBytes: Long = 16L * 1024 * 1024

  def defaultSpillRoot(): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-mr-results").toString

  /** Spark job-group tag for one MR job's stages. */
  def jobGroup(id: Long): String = s"graft-job-$id"

  /** Stream a spilled result in the original key order, one bounded
    * partition on the driver at a time (`toLocalIterator`) — the scale
    * form of `/getresult` (the sort restoring O8's key-ordered concat is
    * distributed; the driver holds at most one shuffle partition).
    */
  def readSpilled(spark: SparkSession, res: SpilledResult): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    spark.read.schema("mid LONG, result STRING").parquet(res.dir)
      .orderBy("mid").select("result")
      .toLocalIterator.asScala.map(_.getString(0))
  }

  final case class JobSpec(
      name: String,
      jobType: String,
      token: String,
      mappers: Int = 2,
      reducers: Int = 2)

  sealed trait JobStatus
  case object Queued extends JobStatus
  case object Running extends JobStatus
  case object Finished extends JobStatus
  case object Cancelled extends JobStatus
  final case class Failed(message: String) extends JobStatus

  /** Size-gated result representation (O10): inline for small results,
    * a sink pointer for large ones.
    */
  sealed trait JobResult
  final case class InlineResult(rows: Array[String]) extends JobResult
  final case class SpilledResult(dir: String, rows: Long, bytes: Long)
      extends JobResult

  private final case class JobState(
      spec: JobSpec,
      status: JobStatus,
      result: Option[JobResult],
      finishedAt: Option[Long])
}
