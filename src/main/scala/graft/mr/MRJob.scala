package graft.mr

import org.apache.spark.sql.{Dataset, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8

/** The tMapReduce job kernel, in two engines that give the same answer.
  *
  * Reference semantics (all cites into /root/reference):
  *  - input is a list of opaque string KV pairs, sorted bytewise by key at
  *    launch (`src/tmapreduce/master.cc:736-738`);
  *  - the sorted input is split into `mapper_num` contiguous ranges
  *    (`src/tmapreduce/job.cc:10-28`) — ≙ range partitioning;
  *  - user Map is a per-record flatMap `(k,v) => Seq[(k',v')]`
  *    (`src/tmapreduce/mrf.h:9`, bridge `src/tmapreduce/wrapper.cc:10-31`);
  *  - Merge groups all values per key exactly once and sorts keys ascending
  *    (`src/tmapreduce/job.cc:45-66`) — in the reference this is a
  *    single-threaded std::map on the master;
  *  - user Reduce is a per-group flatMap `(k, values) => Seq[out]`
  *    (`src/tmapreduce/mrf.h:11`, `src/tmapreduce/wrapper.cc:33-55`);
  *  - final result concatenates group outputs in ascending key order
  *    (`src/tmapreduce/job.cc:68-77`).
  *
  * The two kernels:
  *  - [[run]] is the Spark kernel, for `Dataset` inputs: the merge becomes
  *    Spark's distributed shuffle (the point of the re-architecture);
  *  - [[runLocal]] is the driver kernel, for an in-memory KV list (a
  *    `/launch` body the driver already holds): it merges in one hash map
  *    on the calling thread, like the reference master's `std::map`
  *    (`job.cc:45-66`), and starts no Spark job.
  * No setting picks between them; the input's form does. A caller holding
  * a `Seq` runs [[runLocal]] and, if that kernel's buffered map output
  * passes [[LocalBufferBudgetBytes]] ([[LocalBudgetExceeded]]), reruns the
  * same KV list on [[run]] (JobStore does exactly this). A map function may
  * therefore run more than once per record, as the reference's
  * at-least-once subjob re-execution already allows.
  *
  * Both kernels order keys by their UTF-8 bytes (the reference's
  * `std::string <`; Spark's binary string order) and, within a key, the
  * values by [[ValueOrder]] (nulls first, then `String` order).
  *
  * Documented deviation (SURVEY.md §2.1 note 3): within a key, the
  * reference presents values in map-subjob emission order, which is not
  * reproducible in any distributed engine; we define the value order as
  * SORTED for determinism. Commutative reduces (the reference's own
  * implicit contract — it re-executes subjobs at-least-once) see no
  * difference.
  *
  * Scale note: `flatMapGroups` materializes one key's values at a time on
  * one task — the per-key value list must fit in executor memory. That is
  * inherent to the MapReduce Reduce contract itself; the relational surface
  * (graft.queries.*) is the scale path for aggregations, with partial
  * (map-side) aggregation that this shape cannot express.
  */
object MRJob {
  /** Per-record UDTF: emit 0..n output pairs for one input pair. */
  type MapFn = (String, String) => IterableOnce[(String, String)]
  /** Per-group UDTF: emit 0..n output strings for one (key, values) group. */
  type ReduceFn = (String, Seq[String]) => IterableOnce[String]
  /** Optional map-side combiner: a commutative, associative fold over the
    * VALUE strings of one key. Declaring one asserts the algebraic contract
    *   reduceFn(k, Seq(values.reduce(combineFn))) == reduceFn(k, values.sorted)
    * for every value multiset — i.e. the reduce only depends on the
    * combiner's fold of the values (sums, mins, maxes, value-ignoring
    * reduces like DISTINCT). The reference has no combiner (its master-side
    * merge ships every raw pair, `job.cc:45-66`); this is the scale fix for
    * that design: with a combiner the shuffle carries at most
    * keys × partitions rows instead of one row per map emission.
    */
  type CombineFn = (String, String) => String

  /** Run one job. Output rows are in ascending key order, and within a key
    * in reduce-emission order (range-partitioned: collecting or writing the
    * dataset preserves the global order across partitions).
    *
    * @param combineFn map-side partial aggregation for reduces declared
    *        commutative (see [[CombineFn]]); None = the reference's
    *        ship-every-pair behavior, reduce sees all values sorted.
    */
  def run(
      spark: SparkSession,
      input: Dataset[(String, String)],
      mapFn: MapFn,
      reduceFn: ReduceFn,
      mappers: Int = 2,
      reducers: Int = 2,
      combineFn: Option[CombineFn] = None): Dataset[String] = {
    require(mappers > 0, "mapper_num must be > 0")   // master.cc:530-532
    require(reducers > 0, "reducer_num must be > 0")
    import spark.implicits._

    val mapped = input
      // Normalize column names: a Dataset[(String,String)] built from a
      // DataFrame keeps its source column names, so address by position.
      .toDF("_1", "_2").as[(String, String)]
      // O2 launch sort + O3 contiguous-range split: the reference sorts
      // the input and splits it into `mappers` contiguous ranges
      // (master.cc:736-738, job.cc:10-28). Post-shuffle that sort is
      // UNOBSERVABLE — values are re-sorted per group (deviation note
      // below) and output is re-sorted by key — so we keep only the
      // parallelism knob (round-robin repartition) and skip the range
      // sampling pass + sort, saving a full input scan.
      .repartition(mappers)
      .flatMap { case (k, v) => mapFn(k, v) } // O5 user map

    val reduced = combineFn match {
      case Some(c) =>
        // Declared-commutative path: reduceGroups is a typed Aggregator, so
        // Catalyst plans it as partial aggregation (map-side combine before
        // the exchange) — the shuffle carries one row per (key, partition).
        mapped
          .groupByKey(_._1)
          .mapValues(_._2)
          .reduceGroups(c)
          .flatMap { case (k, v) =>
            reduceFn(k, Seq(v))
              .iterator.zipWithIndex.map { case (out, i) => (k, i, out) }
          }
      case None =>
        mapped
          .groupByKey(_._1) // O6 shuffle replaces the master-side merge
          .flatMapGroups { (k, it) =>
            val values = it.map(_._2).toArray
            java.util.Arrays.sort(values, ValueOrder)
            // Keep (key, emissionIndex) so the final order is fully defined.
            reduceFn(k, scala.collection.immutable.ArraySeq.unsafeWrapArray(values))
              .iterator.zipWithIndex.map { case (out, i) => (k, i, out) }
          }
    }

    reduced
      // O4 reduce-side contiguous split + O8 key-ordered concatenation:
      // range partitions are globally ordered, so sorting within partitions
      // yields a total order without an extra global sort pass.
      .repartitionByRange(reducers, $"_1", $"_2")
      .sortWithinPartitions($"_1", $"_2")
      .map(_._3)
  }

  // Heap estimate per buffered entry: a hash-map node plus the key's
  // String header (and the value list or the folded value's header); per
  // buffered raw value: its String header and list slot. Chars are
  // counted at 2 bytes, the worst case of compact strings.
  private val EntryBytes = 96L
  private val ValueBytes = 48L

  /** Driver-side bound on the map output [[runLocal]] buffers (its own
    * estimate of the heap the buffered keys and values take), sized so that
    * every job whose map emits at most one pair per record, no longer than
    * the record, stays on the driver for any `/launch` body within
    * `Gateway.DefaultMaxBodyBytes` (8 MiB). Per byte of body such a record
    * adds the most to the estimate when it is `{},` (3 bytes: key and value
    * both null, the key already seen): `ValueBytes` / 3 = 16. The shortest
    * kv with a new key, `{"key":"a"},`, adds (`EntryBytes` + `ValueBytes`
    * + 2) / 12 ≈ 12.2. So the estimate stays under 16 × 8 MiB = 128 MiB.
    * The estimate charges every buffered string in full even where it is
    * the input's own string (an identity map), so the heap it stands for
    * is an upper bound.
    *
    * Maps that emit more than they read can pass the budget: a fan-out map
    * without a combiner, or a word count over hundreds of thousands of
    * distinct words (each new word costs an entry). Past the budget the
    * job belongs on the Spark kernel, which reruns it from the start.
    */
  val LocalBufferBudgetBytes: Long = 128L * 1024 * 1024

  /** [[runLocal]] stopped because its buffered map output passed
    * [[LocalBufferBudgetBytes]]; rerun the same input on [[run]].
    */
  final class LocalBudgetExceeded(val bufferedBytes: Long)
      extends RuntimeException(
        s"driver kernel buffered ~$bufferedBytes bytes of map output " +
          s"(budget $LocalBufferBudgetBytes)")

  /** The driver kernel: in-memory KV list in, string list out (the
    * `/launch` → `/getresult` surface, gateway.cc:66-184), on the calling
    * thread with no SparkSession. Same result as
    * `run(spark, input.toDS(), ...).collect()`: every string the kernel
    * hands to user code or returns is first passed through
    * [[asSparkString]], as the Spark kernel's encoders pass it.
    *
    * Map emissions are grouped exactly in one hash map as they arrive,
    * folded with `combineFn` when one is declared (`job.cc:45-66`); keys
    * are then ordered by UTF-8 bytes, each key's values by `String` order,
    * and the reduce outputs concatenated. `mappers`/`reducers` are
    * validated like the reference does (master.cc:530-532) but do not
    * change the result, so the kernel does not split by them.
    *
    * Cancellation: the thread's interrupt flag is checked between records
    * and between groups (InterruptedException).
    *
    * @throws LocalBudgetExceeded when the buffered map output passes
    *         [[LocalBufferBudgetBytes]].
    */
  def runLocal(
      input: Seq[(String, String)],
      mapFn: MapFn,
      reduceFn: ReduceFn,
      mappers: Int = 2,
      reducers: Int = 2,
      combineFn: Option[CombineFn] = None): Seq[String] = {
    require(mappers > 0, "mapper_num must be > 0")   // master.cc:530-532
    require(reducers > 0, "reducer_num must be > 0")
    require(input.nonEmpty, "input kvs must be non-empty") // master.cc:533-535
    // key -> folded value (combiner) or ArrayBuffer of every value
    val groups = new java.util.HashMap[String, AnyRef]()
    var buffered = 0L
    val records = input.iterator
    while (records.hasNext) {
      checkInterrupt()
      val (k, v) = records.next()
      mapFn(asSparkString(k), asSparkString(v)).iterator.foreach { case (ek, ev) =>
        val mk = asSparkString(ek)
        val mv = asSparkString(ev)
        val prev = groups.get(mk)
        combineFn match {
          case Some(c) =>
            if (prev == null && !groups.containsKey(mk)) {
              groups.put(mk, mv)
              buffered += EntryBytes + charBytes(mk) + charBytes(mv)
            } else {
              val folded = asSparkString(c(prev.asInstanceOf[String], mv))
              groups.put(mk, folded)
              buffered += charBytes(folded) - charBytes(prev.asInstanceOf[String])
            }
          case None =>
            val values =
              if (prev != null) prev.asInstanceOf[scala.collection.mutable.ArrayBuffer[String]]
              else {
                val b = scala.collection.mutable.ArrayBuffer.empty[String]
                groups.put(mk, b)
                buffered += EntryBytes + charBytes(mk)
                b
              }
            values += mv
            buffered += ValueBytes + charBytes(mv)
        }
        if (buffered > LocalBufferBudgetBytes) throw new LocalBudgetExceeded(buffered)
      }
    }
    val keys = groups.keySet.toArray(new Array[String](groups.size))
    java.util.Arrays.sort(keys, Utf8Order)
    val out = Vector.newBuilder[String]
    keys.foreach { k =>
      checkInterrupt()
      val values: Seq[String] =
        if (combineFn.isDefined) Seq(groups.get(k).asInstanceOf[String])
        else {
          val arr = groups.get(k).asInstanceOf[scala.collection.mutable.ArrayBuffer[String]].toArray
          java.util.Arrays.sort(arr, ValueOrder)
          scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
        }
      out ++= reduceFn(k, values).iterator.map(asSparkString)
    }
    out.result()
  }

  private def charBytes(s: String): Long = if (s == null) 0L else 2L * s.length

  private def checkInterrupt(): Unit =
    if (Thread.currentThread().isInterrupted)
      throw new InterruptedException("MR job interrupted")

  /** Keys in UTF-8 byte order, which is code-point order — Spark's binary
    * string order and the reference's `std::string <`. UTF-16 `compareTo`
    * differs from it only where a surrogate (U+D800..U+DFFF, the halves
    * of a supplementary code point) meets a unit in U+E000..U+FFFF, so
    * the first differing pair is compared with surrogates lifted above
    * that range. Null keys sort first, as in Spark's ascending sort.
    */
  private[mr] val Utf8Order: java.util.Comparator[String] = (a, b) =>
    if (a eq b) 0
    else if (a == null) -1
    else if (b == null) 1
    else {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) a.length - b.length
      else {
        val x = a.charAt(i)
        val y = b.charAt(i)
        if (x >= 0xD800 && y >= 0xD800) liftSurrogate(x) - liftSurrogate(y)
        else x - y
      }
    }

  /** Values within a key, in both kernels: nulls first, as Spark's
    * ascending sort places them, then `String` order.
    */
  private[mr] val ValueOrder: java.util.Comparator[String] =
    java.util.Comparator.nullsFirst(java.util.Comparator.naturalOrder[String]())

  private def liftSurrogate(c: Char): Int = if (c >= 0xE000) c - 0x800 else c + 0x2000

  /** `s` as it reads back from a Spark `String` column. `UTF8String`
    * encodes through `String.getBytes(UTF_8)`, which replaces each unpaired
    * surrogate with '?'; a string without surrogates comes back as it is.
    */
  private[mr] def asSparkString(s: String): String = {
    if (s == null) return null
    var i = 0
    while (i < s.length) {
      if (Character.isSurrogate(s.charAt(i)))
        return new String(s.getBytes(UTF_8), UTF_8)
      i += 1
    }
    s
  }

  /** UTF-8 byte length of a string (SQL `octet_length`); 0 for null. */
  private[mr] def utf8Length(s: String): Long = {
    if (s == null) return 0L
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // a surrogate pair is 4 bytes: 2 per half
      n += (if (c < 0x80) 1 else if (c < 0x800 || Character.isSurrogate(c)) 2 else 3)
      i += 1
    }
    n
  }
}
