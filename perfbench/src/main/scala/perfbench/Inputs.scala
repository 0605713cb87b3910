package perfbench

import scala.util.Random

/** One gateway job of the open-loop plan: when it is due (ms after the
  * timed region starts), what it runs, over which documents, and whether
  * and when the client cancels it.
  */
final case class JobPlan(idx: Int, dueMs: Long, jobType: String,
    docs: Vector[Int], mappers: Int, reducers: Int, cancelAfterMs: Option[Long])

/** Shape of the mr_gateway traffic; values come from workloads.json. */
final case class GatewayParams(rate: Double, seconds: Int,
    mix: Seq[(String, Double)], maxDocs: Int, identityMinDocs: Int,
    cancelShare: Double, cancelDelayMs: Long)

/** Every input the benchmark feeds the engine is a pure function of the
  * seed, so a run can be repeated exactly and a different seed gives
  * different inputs of the same shape.
  */
object Inputs {

  def queryOrder(panel: Seq[String], seed: Long): Vector[String] =
    new Random(seed).shuffle(panel.toVector)

  /** Log-uniform size in [lo, hi] at quantile q: P(n) ~ 1/n, the Zipf-like
    * skew of job sizes (many small jobs, a few large ones).
    */
  private def skewedSize(lo: Int, hi: Int, q: Double): Int =
    math.min(hi, math.max(lo, math.floor(lo * math.pow(hi.toDouble / lo, q)).toInt))

  /** `rate * seconds` jobs on a jittered schedule: the window is cut into
    * one slot per job and each job arrives at a seeded uniform offset in
    * its slot. What the jobs are is stratified, so every seed runs the same
    * work: the type counts follow the mix, each type's sizes are evenly
    * spaced quantiles of the skewed size distribution (identity jobs at
    * least `identityMinDocs` documents, so their results exceed the store's
    * spill bound), mapper/reducer counts cycle through 1-4, and the jobs
    * are spread over the window in a fixed low-discrepancy order of size,
    * so large jobs never bunch up. The seed decides the arrival offsets,
    * which `cancelShare` of the jobs are cancelled and which documents
    * (with replacement) each job reads.
    *
    * (Poisson arrivals and a seeded job order make a different queueing
    * history per seed; with a few dozen jobs per run that alone moved the
    * median latency by a third between seeds.)
    */
  def gatewayPlan(p: GatewayParams, nDocs: Int, seed: Long): Vector[JobPlan] = {
    require(nDocs > 0 && p.rate > 0 && p.mix.nonEmpty)
    val rnd = new Random(seed)
    val n = math.max(1, math.round(p.rate * p.seconds).toInt)
    val total = p.mix.map(_._2).sum
    val share = p.mix.map { case (t, w) => t -> n * w / total }
    val floors = share.map { case (t, x) => t -> math.floor(x).toInt }
    val extra = share.sortBy { case (_, x) => -(x - math.floor(x)) }
      .take(n - floors.map(_._2).sum).map(_._1).toSet
    val kinds = floors.flatMap { case (t, c) =>
      val k = c + (if (extra(t)) 1 else 0)
      val lo = if (t == "identity") p.identityMinDocs else 1
      (0 until k).map(i => (t, skewedSize(lo, p.maxDocs, (i + 0.5) / k)))
    }.zipWithIndex.map { case ((t, size), i) => (t, size, 1 + i % 4, 1 + (i / 4) % 4) }
    val bySize = kinds.sortBy { case (t, size, _, _) => (-size, t) }
    val order = bySize.zipWithIndex
      .sortBy { case (_, k) => (k * 0.6180339887498949) % 1.0 }.map(_._1).toVector
    val slotMs = p.seconds * 1000.0 / n
    val due = Vector.tabulate(n)(i => ((i + rnd.nextDouble()) * slotMs).toLong)
    val cancels = rnd.shuffle((0 until n).toVector)
      .take(math.round(n * p.cancelShare).toInt).toSet
    order.zipWithIndex.map { case ((t, size, m, r), i) =>
      JobPlan(i, due(i), t, Vector.fill(size)(rnd.nextInt(nDocs)), m, r,
        if (cancels(i)) Some(p.cancelDelayMs) else None)
    }
  }

  /** The `/launch` document for one job over the given corpus. */
  def launchBody(job: JobPlan, corpus: IndexedSeq[(String, String)]): String = {
    val kvs = job.docs.iterator.map { d =>
      val (k, v) = corpus(d)
      "{\"key\":" + Json.str(k) + ",\"value\":" + Json.str(v) + "}"
    }.mkString("[", ",", "]")
    s"""{"name":"job-${job.idx}","type":${Json.str(job.jobType)},""" +
      s""""mapper_num":${job.mappers},"reducer_num":${job.reducers},""" +
      s""""token":"t${job.idx}","kvs":$kvs}"""
  }
}
