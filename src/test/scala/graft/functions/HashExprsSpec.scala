package graft.functions

import graft.{SparkSuite, Tables}
import graft.dedup.{MinHash, SimHash}
import org.apache.spark.sql.functions._

/** Native MinHashSig / SimHashFp must be bit-identical to the HOF
  * compositions they replace (same XXH64 family, same seed, same child
  * fold order as `functions.xxhash64`).
  */
class HashExprsSpec extends SparkSuite {

  private def toks = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), MinHash.tokenSet(col("text")).as("toks"))

  test("MinHashSig == HOF signature over the corpus") {
    val n = toks
      .withColumn("native", MinHash.signature(col("toks"), 64))
      .withColumn("hof", HofTwins.signatureHof(col("toks"), 64))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(n === 0)
  }

  test("SimHashFp == HOF fingerprint over the corpus") {
    val n = toks
      .withColumn("native", SimHash.fingerprint(col("toks")))
      .withColumn("hof", HofTwins.fingerprintHof(col("toks")))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(n === 0)
  }

  test("property: native == HOF on arbitrary unicode token lists") {
    import spark.implicits._
    // Adversarial token soup: empty strings, spaces, quotes, CJK,
    // astral-plane emoji, combining marks — the JVM base60 (digest of
    // UTF8String bytes) must agree with the built-in md5/conv composition
    // for any of them.
    val rng = new scala.util.Random(7)
    val pool = Seq("", " ", "a", "é", "的", "😀", "é",
      "tok:1", "\"q\"", "\\back", "\n", "longtoken" * 20)
    val docs = Seq.fill(200)(
      Seq.fill(1 + rng.nextInt(8))(pool(rng.nextInt(pool.length))))
    val df = docs.toDF("toks")
    val bad = df
      .withColumn("sig_n", MinHash.signature(col("toks"), 16))
      .withColumn("sig_h", HofTwins.signatureHof(col("toks"), 16))
      .withColumn("fp_n", SimHash.fingerprint(col("toks")))
      .withColumn("fp_h", HofTwins.fingerprintHof(col("toks")))
      .filter(col("sig_n") =!= col("sig_h") || col("fp_n") =!= col("fp_h"))
      .count()
    assert(bad === 0)
  }

  test("edge cases: empty and single-token arrays") {
    import spark.implicits._
    val df = Seq(Seq.empty[String], Seq("hello"), Seq("a", "b", "a"))
      .toDF("toks")
    val rows = df
      .withColumn("sig_n", MinHash.signature(col("toks"), 8))
      .withColumn("sig_h", HofTwins.signatureHof(col("toks"), 8))
      .withColumn("fp_n", SimHash.fingerprint(col("toks")))
      .withColumn("fp_h", HofTwins.fingerprintHof(col("toks")))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"sig mismatch for ${r.get(0)}")
      assert(r.getLong(3) === r.getLong(4), s"fp mismatch for ${r.get(0)}")
    }
  }
}
