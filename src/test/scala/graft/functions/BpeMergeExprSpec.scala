package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The native BpeMergeSeq expression must be bit-identical to the HOF
  * fold it replaces (HofTwins.mergeSeqBatchHof) — same (out, held)
  * automaton, same null handling — because the trainer's merge tables
  * are oracle-replayed verbatim: any divergence here is a correctness
  * failure, not a perf regression.
  */
class BpeMergeExprSpec extends SparkSuite {

  private def compare(seqs: Seq[Seq[String]],
      accepted: Seq[(String, String)]): Unit = {
    import spark.implicits._
    val df = seqs.toDF("seq")
    val bad = df
      .withColumn("native", BpeMergeExpr.bpeMergeSeq(col("seq"), accepted))
      .withColumn("hof", HofTwins.mergeSeqBatchHof(col("seq"), accepted))
      .filter(not(col("native") <=> col("hof")))
    // collect once — assert's clue is evaluated eagerly, so a
    // bad.collect() clue would re-run the comparison job on every call
    val rows = bad.take(3)
    assert(rows.isEmpty, rows.mkString("; "))
  }

  test("pinned cases: merge, flush, (a,a) run parity, trailing held") {
    val accepted = Seq(("a", "b"), ("c", "c"), ("x", "</w>"))
    compare(Seq(
      Seq("a", "b"),                          // plain merge
      Seq("a", "a", "b"),                     // held flushed by new left
      Seq("a", "c", "b"),                     // held flushed by non-partner
      Seq("c", "c", "c"),                     // (a,a) run: pairs from left
      Seq("c", "c", "c", "c"),                // even run: two merges
      Seq("b", "x"),                          // trailing held emitted
      Seq("x", "</w>", "x"),                  // merge then trailing held
      Seq("a", "b", "a", "b", "c", "c"),      // multiple pairs per word
      Seq.empty[String],                      // empty seq
      Seq("q"),                               // no-op symbol
      Seq("a")),                              // lone left, finish-flush
      accepted)
  }

  test("null symbols fall through as plain symbols (HOF falsy-null path)") {
    val accepted = Seq(("a", "b"))
    compare(Seq(
      Seq("a", null, "b"), // null breaks the pair: held flushed, null kept
      Seq(null, "a", "b"),
      Seq("a", "b", null)),
      accepted)
  }

  test("property: native == HOF on random seqs over a disjoint batch") {
    val rng = new scala.util.Random(15)
    // A realistic accepted batch: disjoint singles and one (a,a) pair.
    val accepted = Seq(("t", "h"), ("e", "</w>"), ("o", "o"), ("i", "n"),
      ("th", "e</w>"))
    val pool = accepted.flatMap(p => Seq(p._1, p._2)).distinct ++
      Seq("z", "q", "the", "</w>")
    val seqs = Seq.fill(500)(
      Seq.fill(rng.nextInt(14))(pool(rng.nextInt(pool.length))))
    compare(seqs, accepted)
  }

  test("corpus: one real training round rewrites identically") {
    // First-round accepted batch from the real corpus, replayed through
    // both automata over the real char-symbol vocab.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .select(col("word"), concat(
        filter(split(col("word"), ""), x => x =!= ""),
        array(lit("</w>"))).as("seq"))
    // Symbol-disjoint (the trainer's contract, now require-enforced):
    // no symbol appears in two pairs; (c,c) legally reuses its own.
    val accepted = Seq(("e", "</w>"), ("t", "h"),
      ("a", "n"), ("i", "o"), ("c", "c"), ("s", "d"))
    val bad = vocab
      .withColumn("native", BpeMergeExpr.bpeMergeSeq(col("seq"), accepted))
      .withColumn("hof", HofTwins.mergeSeqBatchHof(col("seq"), accepted))
      .filter(not(col("native") <=> col("hof")))
      .count()
    assert(bad === 0)
  }
}
