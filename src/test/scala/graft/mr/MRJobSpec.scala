package graft.mr

import graft.SparkSuite

import java.nio.charset.StandardCharsets.UTF_8

/** MRJob kernel correctness vs a 15-line in-memory reimplementation of the
  * reference semantics (`/root/reference/src/tmapreduce/job.cc:10-77`):
  * sort by key → map → group exactly → sort keys → reduce (sorted values,
  * the documented deviation) → concat in key order. Every case runs both
  * kernels — the driver kernel (`runLocal`) and the Spark kernel
  * (`run(...).collect()`) — and asserts they agree.
  */
class MRJobSpec extends SparkSuite {

  /** Bytewise unsigned order of the keys' UTF-8 encodings — the
    * reference's `std::string <` (SURVEY contract 1).
    */
  private val utf8Bytes: Ordering[String] = (a, b) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** The reference pipeline, naively (job.cc:10-77 + master.cc:736-738). */
  def naiveLocalMR(
      input: Seq[(String, String)],
      mapFn: MRJob.MapFn,
      reduceFn: MRJob.ReduceFn): Seq[String] = {
    val mapped = input.sortBy(_._1)(utf8Bytes).flatMap { case (k, v) => mapFn(k, v) }
    val grouped = mapped.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted).toSeq.sortBy(_._1)(utf8Bytes)
    grouped.flatMap { case (k, vs) => reduceFn(k, vs) }
  }

  /** Both kernels over one input; asserts they agree, returns the result. */
  def runBoth(
      input: Seq[(String, String)],
      mapFn: MRJob.MapFn,
      reduceFn: MRJob.ReduceFn,
      mappers: Int = 2,
      reducers: Int = 2,
      combineFn: Option[MRJob.CombineFn] = None): Seq[String] = {
    import spark.implicits._
    val local = MRJob.runLocal(input, mapFn, reduceFn, mappers, reducers, combineFn)
    val onSpark = MRJob.run(spark, input.toDS(), mapFn, reduceFn, mappers,
      reducers, combineFn).collect().toSeq
    assert(local == onSpark, s"driver and Spark kernels differ on $input")
    local
  }

  /** Seeded random KV lists — keys/values include empties, spaces, shared
    * prefixes and non-ASCII text, with key pairs whose UTF-16 and UTF-8
    * orders differ ("～" U+FF5E sorts before "😀" U+1F600 bytewise, after
    * it by UTF-16 unit), to exercise sorting and grouping edges.
    */
  def randomKvs(rng: scala.util.Random): List[(String, String)] = {
    val keys = Array("a", "b", "cc", "d e", "", "z9", "Z", "0",
      "～", "😀", "é", "a😀", "a～")
    val vals = Array("1", "2", "10", "x y", "", "7", "q", "ü", "～", "😀 z")
    List.fill(1 + rng.nextInt(30))(
      (keys(rng.nextInt(keys.length)), vals(rng.nextInt(vals.length))))
  }

  test("reference orders keys by UTF-8 bytes, not UTF-16 units") {
    val identity: MRJob.ReduceFn = (k, vs) => vs.iterator.map(v => s"$k:$v")
    val input = Seq(("😀", "1"), ("～", "2"), ("a", "3"))
    val want = Seq("a:3", "～:2", "😀:1")
    assert(naiveLocalMR(input, JobTypeRegistry.identityMap, identity) == want)
    assert(runBoth(input, JobTypeRegistry.identityMap, identity) == want)
  }

  test("a map that splits a surrogate pair gives the same result on both kernels") {
    // Splitting "😀" into chars emits two unpaired surrogates as keys; a
    // Spark String column encodes each as '?', and so does the driver
    // kernel. A lone surrogate in the input is encoded the same way.
    val chars: MRJob.MapFn = (_, v) => v.iterator.map(c => (c.toString, v))
    val count: MRJob.ReduceFn = (k, vs) => Iterator.single(s"$k=${vs.size}:${vs.head}")
    val input = Seq(("d1", "a😀"), ("d2", "\uD83D"))
    assert(runBoth(input, chars, count) == Seq("?=3:?", "a=1:a😀"))
    assert(runBoth(input, chars, JobTypeRegistry.distinctReduce,
      combineFn = Some(JobTypeRegistry.anyCombine)) == Seq("?", "a"))
  }

  test("wordcount matches naive reference semantics (20 seeded samples)") {
    val mapFn = JobTypeRegistry.wordCountMap
    val reduceFn: MRJob.ReduceFn =
      (k, vs) => Iterator.single(s"$k=${vs.size}")
    val rng = new scala.util.Random(42)
    for (i <- 1 to 20) {
      val kvs = randomKvs(rng)
      val got = runBoth(kvs, mapFn, reduceFn,
        mappers = 1 + rng.nextInt(4), reducers = 1 + rng.nextInt(4))
      val want = naiveLocalMR(kvs, mapFn, reduceFn)
      assert(got == want, s"sample $i: $kvs")
    }
  }

  test("a key with null values sorts them first on both kernels") {
    // Sorting a key's values by their natural order threw on null.
    val asIs: MRJob.MapFn = (k, v) => Iterator.single((k, v))
    val show: MRJob.ReduceFn =
      (k, vs) => Iterator.single(vs.map(String.valueOf).mkString(s"$k:", ",", ""))
    val input = Seq(("k", null), ("k", "b"), ("k", null))
    assert(runBoth(input, asIs, show) == Seq("k:null,null,b"))
  }

  test("multi-emission reduce preserves per-group emission order") {
    val mapFn: MRJob.MapFn = (k, v) => Iterator.single((k, v))
    val reduceFn: MRJob.ReduceFn = (k, vs) => vs.iterator.map(v => s"$k:$v")
    val input = Seq(("b", "2"), ("a", "1"), ("b", "1"), ("a", "3"))
    val got = runBoth(input, mapFn, reduceFn)
    assert(got == Seq("a:1", "a:3", "b:1", "b:2"))
  }

  test("result is invariant under mapper/reducer counts (SURVEY §7.7-4)") {
    val input = Seq(("k1", "a b a"), ("k2", "b c"), ("k3", "a"))
    val reduceFn: MRJob.ReduceFn = (k, vs) => Iterator.single(s"$k=${vs.size}")
    val expected = runBoth(input, JobTypeRegistry.wordCountMap, reduceFn, 1, 1)
    for (m <- Seq(2, 5); r <- Seq(2, 7)) {
      val got = runBoth(input, JobTypeRegistry.wordCountMap, reduceFn, m, r)
      assert(got == expected, s"mappers=$m reducers=$r")
    }
  }

  test("empty map output short-circuits to empty result (O9, master.cc:624-627)") {
    val mapFn: MRJob.MapFn = (_, _) => Iterator.empty
    val got = runBoth(Seq(("a", "b")), mapFn, JobTypeRegistry.sumReduce)
    assert(got.isEmpty)
  }

  test("golden char count matches word_count.cc filter semantics") {
    // Inline fixture mirroring scripts/single_node.sh's 3-row curl smoke.
    val input = Seq(
      ("f1", "Ab1 cd!"), ("f2", "b-b 2"), ("f3", ""))
    val got = runBoth(input, JobTypeRegistry.charCountMap, JobTypeRegistry.sumReduce)
    // chars retained (lowercased, [a-z0-9] only):
    // f1: a b 1 c d ; f2: b b 2 ; f3: none
    // key order: 1 2 a b c d -> counts 1 1 1 3 1 1
    assert(got == Seq("1", "1", "1", "3", "1", "1"))
  }

  test("declared-combiner path equals the uncombined path (ScalaCheck)") {
    // The combiner contract (MRJob.CombineFn): for a reduce that only
    // depends on the commutative-monoid fold of its values,
    //   run(..., combineFn = Some(c)) == run(..., combineFn = None)
    // for EVERY value multiset and every mapper/reducer split. Pin it for
    // the three monoid families the registry ships (sum, max, value-ignore)
    // over random inputs — this is what licenses MRJob's map-side partial
    // aggregation replacing the reference's ship-every-pair shuffle.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val sum: MRJob.ReduceFn =
      (k, vs) => Iterator.single(s"$k=${vs.iterator.map(_.toLong).sum}")
    val max: MRJob.ReduceFn =
      (k, vs) => Iterator.single(s"$k=${vs.iterator.map(_.toLong).max}")
    val monoids: Seq[(MRJob.CombineFn, MRJob.ReduceFn)] = Seq(
      (JobTypeRegistry.sumCombine, sum),
      ((a, b) => if (a.toLong >= b.toLong) a else b, max),
      (JobTypeRegistry.anyCombine, JobTypeRegistry.distinctReduce))
    val kvGen = for {
      k <- Gen.oneOf("a", "b", "cc", "d e", "", "z9")
      v <- Gen.chooseNum(-50L, 50L)
    } yield (k, v.toString)
    val dataGen = for {
      kvs <- Gen.nonEmptyListOf(kvGen)
      m <- Gen.chooseNum(1, 5)
      r <- Gen.chooseNum(1, 5)
    } yield (kvs, m, r)
    val prop = Prop.forAll(dataGen) { case (kvs, m, r) =>
      monoids.forall { case (c, reduceFn) =>
        val plain = runBoth(kvs, JobTypeRegistry.identityMap, reduceFn, m, r)
        val combined = runBoth(kvs, JobTypeRegistry.identityMap, reduceFn, m, r,
          combineFn = Some(c))
        combined == plain
      }
    }
    val res =
      SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("invalid parallelism is rejected (master.cc:530-532)") {
    import spark.implicits._
    for ((m, r) <- Seq((0, 1), (1, 0))) {
      intercept[IllegalArgumentException] {
        MRJob.runLocal(Seq(("a", "b")), JobTypeRegistry.identityMap,
          JobTypeRegistry.sumReduce, mappers = m, reducers = r)
      }
      intercept[IllegalArgumentException] {
        MRJob.run(spark, Seq(("a", "b")).toDS(), JobTypeRegistry.identityMap,
          JobTypeRegistry.sumReduce, mappers = m, reducers = r)
      }
    }
  }

  test("driver kernel: buffered map output past the budget stops it") {
    // One record whose map emits the same 1 MiB string 80 times: the
    // kernel's estimate (2 bytes a char) passes the 128 MiB budget while
    // the heap holds one copy.
    val big = "x" * (1 << 20)
    val fanOut: MRJob.MapFn = (_, _) => Iterator.fill(80)(("k", big))
    val e = intercept[MRJob.LocalBudgetExceeded] {
      MRJob.runLocal(Seq(("a", "b")), fanOut, JobTypeRegistry.distinctReduce)
    }
    assert(e.bufferedBytes > MRJob.LocalBufferBudgetBytes)
    // a combiner folds the same emissions into one value for the key
    val folded = MRJob.runLocal(Seq(("a", "b")), fanOut,
      JobTypeRegistry.distinctReduce, combineFn = Some(JobTypeRegistry.anyCombine))
    assert(folded == Seq("k"))
  }

  test("driver kernel: an identity job over a full launch body stays within the budget") {
    // The /launch bodies whose kvs add the most to the kernel's estimate
    // per body byte, filled up to the gateway's cap: `{}` (key and value
    // both null, one repeated key) and the shortest kvs with distinct keys
    // (`{"key":"a"}`, then two-char keys, ...). A map that emits each
    // record as it is must stay on the driver for both. (It emits a null
    // value as "", which the estimate charges the same.)
    val alphabet = (' ' to '~').filterNot(c => c == '"' || c == '\\').map(_.toString)
    def keysOfLength(n: Int): Iterator[String] =
      if (n == 1) alphabet.iterator
      else keysOfLength(n - 1).flatMap(p => alphabet.iterator.map(p + _))
    def json(k: String, v: String): String =
      Seq(Option(k).map(x => s""""key":"$x""""), Option(v).map(x => s""""value":"$x""""))
        .flatten.mkString("{", ",", "}")
    val envelope =
      """{"name":"n","type":"identity","mapper_num":1,"reducer_num":1,"token":"t","kvs":[]}"""
    def fill(kvs: Iterator[(String, String)]): Vector[(String, String)] = {
      var bytes = envelope.length.toLong
      kvs.takeWhile { case (k, v) =>
        bytes += json(k, v).length + 1 // with its comma
        bytes <= Gateway.DefaultMaxBodyBytes
      }.toVector
    }
    // the bodies parse to exactly these kvs
    val sample = Seq[(String, String)]((null, null), ("a", null))
    val Right(parsed) = graft.sources.Sources.parseLaunchJson(spark,
      envelope.dropRight(2) + sample.map { case (k, v) => json(k, v) }.mkString(",") + "]}")
    assert(parsed.kvs == sample)

    val asIs: MRJob.MapFn = (k, v) => Iterator.single((k, Option(v).getOrElse("")))
    val count: MRJob.ReduceFn = (_, vs) => Iterator.single(vs.size.toString)
    val nullKv: (String, String) = (null, null)
    val nulls = fill(Iterator.continually(nullKv))
    assert(nulls.size > 2700000)
    assert(MRJob.runLocal(nulls, asIs, count) ==
      Seq(nulls.size.toString))
    val distinct = fill(Iterator.from(1).flatMap(keysOfLength).map(k => (k, null)))
    assert(distinct.size > 590000)
    assert(MRJob.runLocal(distinct, asIs, count).size ==
      distinct.size)
  }

  test("driver kernel: an interrupted thread stops between records") {
    Thread.currentThread().interrupt()
    try intercept[InterruptedException] {
      MRJob.runLocal(Seq(("a", "b")), JobTypeRegistry.identityMap,
        JobTypeRegistry.distinctReduce)
    } finally Thread.interrupted()
  }
}
