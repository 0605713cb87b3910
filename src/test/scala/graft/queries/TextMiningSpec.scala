package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Semantic checks for the text-mining operators (TF-IDF keywords, PMI
  * collocations) beyond the cross-engine oracle: each test recomputes
  * the ground truth with a plain in-memory brute force (no Spark, no
  * SQL) and compares the operator's full output against it.
  */
class TextMiningSpec extends SparkSuite {

  private lazy val corpus: Map[Long, Array[String]] =
    graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("c4_tfidf matches an in-memory brute force") {
    val got = TextOps.c4Tfidf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.nonEmpty)
    val nDocs = corpus.size.toLong
    val df = corpus.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val want = corpus.toSeq.flatMap { case (id, toks) =>
      val nTok = toks.length.toLong
      val tf = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      tf.toSeq
        .map { case (t, c) =>
          (t, c, df(t), round6(c.toDouble * nDocs / (df(t) * nTok).toDouble))
        }
        .sortBy { case (t, _, _, s) => (-s, t) }
        .take(5).zipWithIndex
        .map { case ((t, c, d, s), i) => (id, i + 1, t, c, d, s) }
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq == want)
  }

  test("c4_vocab_growth matches an in-memory brute force") {
    val got = TextOps.c4VocabGrowth(spark, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
    assert(got.nonEmpty)
    val maxId = corpus.keys.max
    def firstDocs(terms: Map[Long, Seq[String]]): Map[String, Long] =
      terms.toSeq.flatMap { case (id, ts) => ts.map(_ -> id) }
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).min }
    val uni = firstDocs(corpus.view.mapValues(_.toSeq).toMap)
    val bi = firstDocs(corpus.view.mapValues(ts =>
      ts.toSeq.sliding(2).collect { case Seq(a, b) => s"$a $b" }.toSeq).toMap)
    def growth(gram: String, first: Map[String, Long]) = {
      val byBucket = first.values
        .groupBy(f => math.min(9L, f * 10 / (maxId + 1)))
        .view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      byBucket.scanLeft((("", 0L), (0L, 0L))) { case ((_, (_, cum)), (b, n)) =>
        ((gram, b), (n, cum + n))
      }.drop(1)
    }
    val want = growth("bi", bi) ++ growth("uni", uni)
    assert(got.toSeq == want.toSeq)
    // the curve is a proper cumsum ending at the full vocabulary size
    assert(got.filter(_._1._1 == "uni").map(_._2._2).max == uni.size.toLong)
    assert(got.filter(_._1._1 == "bi").map(_._2._2).max == bi.size.toLong)
  }

  test("c4_zipf matches an in-memory brute force") {
    val got = TextOps.c4Zipf(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.nonEmpty && got.length <= 50)
    val freq = corpus.values.flatten.groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val nTotal = freq.values.sum
    val top = freq.toSeq.sortBy { case (t, f) => (-f, t) }.take(50)
    val f1 = top.head._2
    val want = top.zipWithIndex
      .scanLeft(((0, "", 0L, 0.0, 0.0), 0L)) { case ((_, cum), ((t, f), i)) =>
        val c = cum + f
        ((i + 1, t, f, round6((f * (i + 1)).toDouble / f1),
          round6(c.toDouble / nTotal)), c)
      }.drop(1).map(_._1)
    assert(got.toSeq == want)
    // rank 1 normalizes to exactly 1; coverage is monotone and <= 1
    assert(got.head._4 == 1.0)
    assert(got.map(_._5).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    assert(got.last._5 <= 1.0)
  }

  test("c4_pmi matches an in-memory brute force") {
    val got = TextOps.c4Pmi(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.nonEmpty)
    val pairs = corpus.values.toSeq.flatMap { toks =>
      for {
        off <- 1 to 3
        i <- 0 until math.max(toks.length - off, 0)
      } yield {
        val (a, b) = (toks(i), toks(i + off))
        if (a <= b) (a, b) else (b, a)
      }
    }
    val cab = pairs.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val uni = corpus.values.flatten.groupBy(identity)
      .map { case (t, xs) => t -> xs.size.toLong }
    val n = uni.values.sum
    val p = cab.values.sum
    val want = cab.toSeq
      .filter(_._2 >= 5)
      .map { case ((w1, w2), c) =>
        // mirror the engine/oracle association order exactly
        val lift = round6(c.toDouble * n * n / (p.toDouble * uni(w1) * uni(w2)))
        (w1, w2, c, uni(w1), uni(w2), lift)
      }
      .sortBy { case (w1, w2, _, _, _, l) => (-l, w1, w2) }
      .take(50).zipWithIndex
      .map { case ((w1, w2, c, c1, c2, l), i) => (i + 1, w1, w2, c, c1, c2, l) }
    assert(got.toSeq == want)
  }

  /** Spark's string order: unsigned UTF-8 bytes. */
  private val sparkOrder: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  /** Space-joined bigrams of a text tokenized as the engine does (split
    * on " ", trailing empties kept): none below 2 tokens.
    */
  private def bigramsOf(text: String): Seq[String] =
    text.split(" ", -1).toSeq.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq

  /** c4_ngram_top reference over (lang, text): per language the top
    * NgramTopK bigrams by (count desc, bigram).
    */
  private def ngramTopRef(docs: Seq[(String, String)]): Seq[(String, Int, String, Long)] =
    docs.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
      ds.flatMap(d => bigramsOf(d._2)).groupBy(identity).toSeq
        .map { case (bg, xs) => (bg, xs.size.toLong) }
        .sortWith { case ((b1, c1), (b2, c2)) =>
          c1 > c2 || (c1 == c2 && sparkOrder.lt(b1, b2)) }
        .take(TextOps.NgramTopK).zipWithIndex
        .map { case ((bg, c), i) => (lang, i + 1, bg, c) }
    }.sortWith { case (x, y) =>
      sparkOrder.lt(x._1, y._1) || (x._1 == y._1 && x._2 < y._2) }

  /** c4_dup_ngrams reference over (doc_id, text): one row per doc with at
    * least one bigram.
    */
  private def dupNgramsRef(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Double)] =
    docs.flatMap { case (id, text) =>
      val counts = bigramsOf(text).groupBy(identity).values.map(_.size.toLong)
      if (counts.isEmpty) None
      else {
        val (n, dup) = (counts.sum, counts.filter(_ > 1).sum)
        Some((id, n, dup, dup.toDouble / n))
      }
    }.sortBy(_._1)

  private def ngramTop(dir: String) = TextOps.c4NgramTop(spark, dir).collect()
    .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
  private def dupNgrams(dir: String) = TextOps.c4DupNgrams(spark, dir).collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  test("c4_ngram_top and c4_dup_ngrams match an in-memory brute force") {
    val rows = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val top = ngramTop(sf)
    assert(top.nonEmpty)
    assert(top == ngramTopRef(rows.map(r => (r._2, r._3))))
    assert(dupNgrams(sf) == dupNgramsRef(rows.map(r => (r._1, r._3))))
  }

  test("c4_ngram_top and c4_dup_ngrams: docs below 2 tokens contribute no bigram") {
    import spark.implicits._
    val planted = Seq((1L, "", "en"), (2L, "solo", "en"), (3L, "a b", "en"),
      (4L, "a b a b a", "en"), (5L, "a b c", "en"), (6L, "x y x y", "de"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ngram").toString
    planted.toDF("doc_id", "text", "lang").write.parquet(s"$dir/documents.parquet")
    val top = ngramTop(dir)
    assert(top == ngramTopRef(planted.map(d => (d._3, d._2))))
    assert(top == Seq(("de", 1, "x y", 2L), ("de", 2, "y x", 1L),
      ("en", 1, "a b", 4L), ("en", 2, "b a", 2L), ("en", 3, "b c", 1L)))
    val dup = dupNgrams(dir)
    assert(dup == dupNgramsRef(planted.map(d => (d._1, d._2))))
    assert(dup == Seq((3L, 1L, 0L, 0.0), (4L, 4L, 4L, 1.0), (5L, 2L, 0L, 0.0),
      (6L, 3L, 2L, 2.0 / 3)))
  }

  /** Plain-Scala BATCHED Sennrich BPE reference: per round, count
    * adjacent pairs weighted by word freq, rank (count desc, lhs, rhs),
    * take the top `cap`, greedily keep the rank-order symbol-disjoint
    * subset, and apply all accepted merges in one simultaneous greedy
    * left-to-right pass. Returns (merge table, final word→symbols map).
    */
  private def refBpe(rounds: Int, cap: Int)
      : (Seq[(Int, Int, String, String, String, Long)], Map[String, Vector[String]]) = {
    val words = corpus.values.flatten.filter(_.nonEmpty).toSeq
    val freqs = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    var wordSyms: Map[String, Vector[String]] = words.distinct
      .map(w => w -> (w.map(_.toString).toVector :+ "</w>")).toMap
    val merges = Seq.newBuilder[(Int, Int, String, String, String, Long)]
    var k = 0
    var exhausted = false
    while (k < rounds && !exhausted) {
      k += 1
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((w, syms) <- wordSyms; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + freqs(w)
      val top = counts.toSeq
        .sortBy { case ((l, r), c) => (-c, l, r) }.take(TextOps.BpeCandCap)
      val used = scala.collection.mutable.Set[String]()
      var nAcc = 0
      val accepted = top.filter { case ((l, r), _) =>
        if (nAcc >= cap || used(l) || used(r)) false
        else { used += l; used += r; nAcc += 1; true }
      }
      if (accepted.isEmpty) exhausted = true
      else {
        accepted.zipWithIndex.foreach { case (((l, r), c), i) =>
          merges += ((k, i + 1, l, r, l + r, c))
        }
        val pairSet = accepted.map { case ((l, r), _) => (l, r) -> (l + r) }.toMap
        wordSyms = wordSyms.view.mapValues { syms =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && pairSet.contains((syms(i), syms(i + 1)))) {
              out += pairSet((syms(i), syms(i + 1))); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result()
        }.toMap
      }
    }
    (merges.result(), wordSyms)
  }

  test("bpe trainer vocab sizing: clamp function and small-corpus no-op") {
    // Clamp: never below the session width, ~25k types/partition,
    // growth capped at 4096 (the cap must never SHRINK a wide session).
    assert(TextOps.bpeShufflePartitions(0L, 32) === 32)
    assert(TextOps.bpeShufflePartitions(823000L, 32) === 32)    // sf1 sparse
    assert(TextOps.bpeShufflePartitions(10580000L, 32) === 423) // sf10 sparse
    assert(TextOps.bpeShufflePartitions(Long.MaxValue, 32) === 4096)
    assert(TextOps.bpeShufflePartitions(5000000L, 256) === 256)
    assert(TextOps.bpeShufflePartitions(Long.MaxValue, 8192) === 8192)
    // Below the sizing threshold the trainer must not touch the session
    // conf (the gate corpora keep their plans): train once and check the
    // setting is byte-identical after.
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val (m, _, last) = TextOps.bpeTrain(spark, sf, rounds = 2)
    last.foreach(_.unpersist(blocking = false))
    assert(m.nonEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("c4_bpe_merges matches an in-memory reference batched BPE; >= 100 effective merges") {
    val got = TextOps.c4BpeMerges(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5)))
    val (want, finalSyms) = refBpe(TextOps.BpeRounds, TextOps.BpeBatchCap)
    assert(got.toSeq == want)
    // the batched loop delivers production-scale merge counts: at least
    // 100 effective merges (the gate corpus exhausts — every word a
    // single token — at ~111)
    assert(got.length >= 100, s"only ${got.length} effective merges")
    assert(finalSyms.values.forall(_.length == 1),
      "gate corpus should train to full exhaustion")
    // disjointness within every round: no symbol appears in two
    // DIFFERENT accepted pairs (an (a,a) pair legitimately repeats its
    // own symbol)
    got.groupBy(_._1).foreach { case (round, ms) =>
      val syms = ms.flatMap(m => Seq(m._3, m._4).distinct)
      assert(syms.distinct.length == syms.length,
        s"round $round accepted symbol-sharing pairs")
    }
  }

  test("c4_chunk matches an in-memory sliding window and covers every token") {
    val got = TextOps.c4Chunk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(got.nonEmpty)
    val (window, stride) = (64, 48)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = corpus.toSeq.sortBy(_._1).flatMap { case (id, toks) =>
      if (toks.isEmpty) Seq.empty
      else {
        val n = toks.length
        val lastK = math.max(0, (math.max(n - window, 0) + stride - 1) / stride)
        (0 to lastK).map { k =>
          val chunk = toks.slice(k * stride, math.min(k * stride + window, n))
          (id, k + 1, k * stride + 1, chunk.length, md5hex(chunk.mkString(" ")))
        }
      }
    }
    assert(got.toSeq == want)
    // coverage: consecutive chunks overlap or touch, and the final chunk
    // reaches the document end — no token escapes every window
    corpus.foreach { case (id, toks) =>
      if (toks.nonEmpty) {
        val ch = want.filter(_._1 == id)
        assert(ch.head._3 == 1)
        ch.sliding(2).foreach {
          case Seq(a, b) => assert(b._3 <= a._3 + a._4, s"gap in doc $id")
          case _ => ()
        }
        assert(ch.last._3 + ch.last._4 - 1 == toks.length)
      }
    }
  }

  test("c4_pii_scrub: planted PII is counted and redacted exactly (java.util.regex reference)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pii").toString
    val rows = Seq(
      (1L, "contact jane.doe+spam@mail.example.org or bob@sub.domain.io today"),
      (2L, "server at 10.0.0.1 and 192.168.255.254 but not 1.2.3 or v1.2.3.4.5"),
      (3L, "ssn 123-45-6789 phone 555-123-4567 alt 555.987.6543 mixed 12-34-5678"),
      (4L, "clean document with no identifiers at all"),
      (5L, "edge a@b.co 999-99-9999999 trailing 123-45-6789x"),
      (6L, ""))
    rows.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = TextOps.c4PiiScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getLong(6)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = rows.map { case (id, text) =>
      val counts = TextOps.PiiPatterns.map { case (_, pat, _) =>
        pat.r.findAllMatchIn(text).length.toLong
      }
      val scrubbed = TextOps.PiiPatterns.foldLeft(text) {
        case (t, (_, pat, repl)) =>
          pat.r.replaceAllIn(t, java.util.regex.Matcher.quoteReplacement(repl))
      }
      (id, counts(0), counts(1), counts(2), counts(3), md5hex(scrubbed),
        counts.sum)
    }
    assert(got.toSeq == want)
    // the reference itself behaves as intended on the planted cases
    val byId = want.map(w => w._1 -> w).toMap
    assert(byId(1L)._2 == 2L, "two emails")
    // 10.0.0.1, 192.168.255.254, and the "2.3.4.5" tail of v1.2.3.4.5
    // (the dot before '2' is a word boundary); "1.2.3" stays unmatched
    assert(byId(2L)._3 == 3L, "full IPv4 shapes counted, partial excluded")
    assert(byId(3L)._4 == 1L && byId(3L)._5 == 2L, "one SSN, two phones")
    assert(byId(4L)._7 == 0L && byId(4L)._6 == md5hex(rows(3)._2),
      "clean doc untouched")
  }

  /** In-memory reference for [[TextOps.c4SubstringDup]]: exact window
    * strings as keys (no hashing — a 60-bit collision in the engine
    * would surface as a divergence here), same 2..maxOcc cap, same
    * diagonal run merging.
    */
  private def refSubstringDup(texts: Seq[(Long, String)], window: Int = 16,
      maxOcc: Int = 16): Seq[(Long, Int, Long, Int, Int, Long)] = {
    val occ = scala.collection.mutable.Map[String, Vector[(Long, Int)]]()
    texts.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      for (o <- 1 to toks.length - window + 1)
        occ(toks.slice(o - 1, o - 1 + window).mkString(" ")) =
          occ.getOrElse(toks.slice(o - 1, o - 1 + window).mkString(" "),
            Vector.empty) :+ (id, o)
    }
    val pairs = occ.values.filter(v => v.size >= 2 && v.size <= maxOcc)
      .flatMap { v =>
        for {
          (a, i) <- v.zipWithIndex; (b, j) <- v.zipWithIndex
          if a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
        } yield (a._1, b._1, b._2 - a._2, a._2)
      }.toSeq
    pairs.groupBy(p => (p._1, p._2, p._3)).toSeq.flatMap {
      case ((d1, d2, diag), ps) =>
        val os = ps.map(_._4).distinct.sorted
        // split into maximal consecutive runs
        val runs = os.foldLeft(Vector.empty[Vector[Int]]) { (acc, o) =>
          if (acc.nonEmpty && acc.last.last == o - 1)
            acc.init :+ (acc.last :+ o)
          else acc :+ Vector(o)
        }
        runs.map(r => (d1, r.head, d2, r.head + diag,
          r.last - r.head + window, r.size.toLong))
    }.sortBy(t => (t._1, t._2, t._3, t._4))
  }

  test("c4_substring_dup matches the in-memory maximal-span reference on the corpus") {
    val got = TextOps.c4SubstringDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getLong(5)))
    assert(got.nonEmpty, "gate corpus should contain repeated 16-token spans")
    val texts = corpus.toSeq.map { case (id, toks) => id -> toks.mkString(" ") }
    assert(got.toSeq == refSubstringDup(texts))
  }

  test("c4_substring_dup finds an UNALIGNED copied paragraph that chunk dedup misses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ssdup").toString
    val p = (1 to 20).map(i => s"p$i")
    val doc1 = ((1 to 10).map(i => s"f$i") ++ p ++ (1 to 10).map(i => s"g$i"))
      .mkString(" ")
    val doc2 = ((1 to 13).map(i => s"h$i") ++ p ++ (1 to 7).map(i => s"k$i"))
      .mkString(" ")
    Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // stride-aligned chunk dedup sees nothing (both docs are single
    // sub-64-token chunks that differ)...
    assert(TextOps.c4ChunkDedup(spark, dir).collect().isEmpty)
    // ...the every-offset analytic recovers the exact copied span:
    // doc1 positions 11..30, doc2 positions 14..33, 5 anchors of 16
    val got = TextOps.c4SubstringDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getLong(5)))
    assert(got.toSeq == Seq((1L, 11, 2L, 14, 20, 5L)))
  }

  /** In-memory scrub reference on top of [[refSubstringDup]]: remove
    * each span's LATER occurrence, merge intervals per doc, drop covered
    * tokens.
    */
  private def refScrub(texts: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long, Option[String])] = {
    val spans = refSubstringDup(texts)
    val byDoc = spans.map { case (_, _, db, sb, len, _) => (db, sb, sb + len - 1) }
      .distinct.groupBy(_._1)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    texts.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val ivs = byDoc.getOrElse(id, Seq.empty).map(t => (t._2, t._3))
        .sortBy(identity)
      val merged = ivs.foldLeft(Vector.empty[(Int, Int)]) { (acc, iv) =>
        if (acc.nonEmpty && iv._1 <= acc.last._2)
          acc.init :+ (acc.last._1, math.max(acc.last._2, iv._2))
        else acc :+ iv
      }
      val kept = toks.zipWithIndex.collect {
        case (t, i) if !merged.exists(m => i + 1 >= m._1 && i + 1 <= m._2) => t
      }
      id -> (toks.length.toLong, (toks.length - kept.length).toLong,
        merged.length.toLong,
        if (kept.isEmpty) None else Some(md5hex(kept.mkString(" "))))
    }.toMap
  }

  test("c4_substring_scrub: keep-first removal matches the in-memory reference; planted case") {
    val texts = corpus.toSeq.map { case (id, toks) => id -> toks.mkString(" ") }
    val want = refScrub(texts)
    val got = TextOps.c4SubstringScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getString(4)))).toMap
    assert(got == want)
    assert(got.values.exists(_._2 > 0), "corpus should have removals")
    // planted: doc2's copied paragraph is removed, doc1 keeps it
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sscrub").toString
    val p = (1 to 20).map(i => s"p$i")
    val doc1 = ((1 to 10).map(i => s"f$i") ++ p ++ (1 to 10).map(i => s"g$i"))
      .mkString(" ")
    val doc2 = ((1 to 13).map(i => s"h$i") ++ p ++ (1 to 7).map(i => s"k$i"))
      .mkString(" ")
    Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = TextOps.c4SubstringScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getString(4)))).toMap
    assert(out(1L) == ((40L, 0L, 0L, Some(md5hex(doc1)))), "first copy must survive intact")
    val doc2Scrubbed =
      ((1 to 13).map(i => s"h$i") ++ (1 to 7).map(i => s"k$i")).mkString(" ")
    assert(out(2L) == ((40L, 20L, 1L, Some(md5hex(doc2Scrubbed)))),
      "later copy's paragraph must be removed exactly")
  }

  test("c7_decontaminate_span: cross-split shared spans match the in-memory reference") {
    val texts = corpus.toSeq.map { case (id, toks) => id -> toks.mkString(" ") }
    val spans = refSubstringDup(texts)
    val (lo, hi) = ((0.8 * 4294967296L).toLong, (0.9 * 4294967296L).toLong)
    def bucket(id: Long) = (id * 2654435761L) % 4294967296L
    val cross = spans.flatMap { case (da, _, db, _, len, _) =>
      val (ba, bb) = (bucket(da), bucket(db))
      if (ba < lo && bb >= hi) Some((da, db, len))
      else if (ba >= hi && bb < lo) Some((db, da, len))
      else None
    }
    val want = cross.groupBy(_._1).toSeq.map { case (doc, xs) =>
      val worst = xs.minBy { case (_, td, len) => (-len, td) }._2
      (doc, xs.size.toLong, xs.map(_._3).max, xs.map(_._3.toLong).sum, worst)
    }.sortBy(_._1)
    val got = PipelineOps.c7DecontaminateSpan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == want)
    assert(got.nonEmpty, "gate corpus should show cross-split span leakage")
    // every reported doc is really train-side, every evidence doc test-side
    got.foreach { case (d, _, _, _, t) =>
      assert(bucket(d) < lo && bucket(t) >= hi)
    }
  }

  test("c4_lm_ppl matches an in-memory bigram add-1 LM reference") {
    val got = TextOps.c4LmPpl(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // brute-force model: bigram counts, context counts, vocab size
    val events = corpus.toSeq.flatMap { case (id, toks) =>
      toks.sliding(2).filter(_.length == 2).map(p => (id, (p(0), p(1)))).toSeq
    }
    val cUW = events.groupBy(_._2).map { case (p, xs) => p -> xs.size.toLong }
    val cU = cUW.toSeq.groupBy(_._1._1)
      .map { case (u, xs) => u -> xs.map(_._2).sum }
    val v = corpus.values.flatten.toSet.size.toLong
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sums = events.groupBy(_._1).map { case (id, evs) =>
      // Spark round() is HALF_UP (away from zero) on the double's
      // BigDecimal image — replay it exactly, not via rint (half-even)
      val s = evs.map { case (_, p) =>
        BigDecimal(1e6 * math.log(
          (cUW(p) + 1).toDouble / (cU(p._1) + v).toDouble))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      id -> (evs.size.toLong, s)
    }
    val want = corpus.keys.toSeq.sorted.map { id =>
      sums.get(id) match {
        case Some((n, s)) =>
          val nll = round6((0.0 - s.toDouble) / (n.toDouble * 1e6))
          (id, n, nll, round4(math.exp(nll)))
        case None => (id, 0L, 0.0, 1.0)
      }
    }
    assert(got.toSeq == want)
    // the signal orders documents: repeated/templated text scores lower
    // nll than the corpus median (sanity, not a hash property)
    val nlls = got.map(_._3)
    assert(nlls.distinct.length > 1, "perplexity is constant across docs")
  }

  test("c4_lm_ppl_ref: reference-trained LM matches brute force; OOV events score the add-1 floor") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Corpus: two clean docs (pass the rule gate: >=30 tokens, alpha
    // bounds, >=2 stopword types) that form the reference model, plus a
    // junk doc that FAILS the rule (short) and consists of tokens the
    // reference never saw — every one of its events must take the
    // add-1 OOV fallback p = 1/(0 + V).
    val stop = Seq("the", "of", "and", "to", "in", "is")
    def clean(seed: Int): String =
      (1 to 15).flatMap(i => Seq(s"tok${seed}x$i", stop(i % stop.length)))
        .mkString(" ") // 30 tokens, alternating content/stopword
    val junk = "zzq1 zzq2 zzq3 zzq4 zzq5"
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_ref").toString
    Seq((1L, clean(1), "en"), (2L, clean(2), "en"), (3L, junk, "en"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.c4LmPplRef(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toMap
    // brute force: model from docs 1,2 only
    val refToks = Seq(clean(1), clean(2)).map(_.split(" ").toSeq)
    val events = refToks.flatMap(ts => ts.sliding(2).map(p => (p(0), p(1))))
    val cUW = events.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val cU = cUW.toSeq.groupBy(_._1._1).map { case (u, xs) => u -> xs.map(_._2).sum }
    val v = refToks.flatten.toSet.size.toLong
    def li(p: (String, String)): Long =
      BigDecimal(1e6 * math.log(
        (cUW.getOrElse(p, 0L) + 1).toDouble /
          (cU.getOrElse(p._1, 0L) + v).toDouble))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def round6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def round4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq(1L -> clean(1), 2L -> clean(2), 3L -> junk).foreach { case (id, text) =>
      val evs = text.split(" ").toSeq.sliding(2).map(p => (p(0), p(1))).toSeq
      val nOov = evs.count(p => !cUW.contains(p)).toLong
      val s = evs.map(li).sum
      val nll = round6(-s.toDouble / (evs.size * 1e6))
      assert(got(id) == ((evs.size.toLong, nOov, nll, round4(math.exp(nll)))),
        s"doc $id: got ${got(id)}")
    }
    // the junk doc is 100% OOV and scores strictly worse (higher nll)
    // than the in-reference docs — the CCNet bucketing signal
    assert(got(3L)._2 == 4L, "junk doc events were not all OOV")
    assert(got(3L)._3 > got(1L)._3 && got(3L)._3 > got(2L)._3,
      "out-of-reference doc did not score worse than reference docs")
  }

  test("c4_lm_ppl3: stupid backoff matches brute force; every backoff level fires") {
    import spark.implicits._
    val stop = Seq("the", "of", "and", "to", "in", "is")
    def clean(seed: Int): String =
      (1 to 15).flatMap(i => Seq(s"tok${seed}x$i", stop(i % stop.length)))
        .mkString(" ")
    // doc 3: all-OOV (every event takes the unigram floor)
    // doc 4: novel context around a TRAINED bigram (tok1x1 of) — its
    // first event backs off to the bigram level, the rest to unigram
    val junk = "zzq1 zzq2 zzq3 zzq4 zzq5"
    val mixed = "zza tok1x1 of zzb zzc"
    val dir = java.nio.file.Files.createTempDirectory("graft_lm3").toString
    Seq((1L, clean(1), "en"), (2L, clean(2), "en"),
      (3L, junk, "en"), (4L, mixed, "en"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.c4LmPpl3(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    // brute-force model over the rule-keep slice {1, 2}
    val ref = Seq(clean(1), clean(2)).map(_.split(" ").toSeq)
    val c3 = ref.flatMap(_.sliding(3).filter(_.length == 3).map(s => (s(0), s(1), s(2))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c2 = ref.flatMap(_.sliding(2).filter(_.length == 2).map(s => (s(0), s(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = ref.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tTot = ref.map(_.size).sum.toLong
    val v = ref.flatten.toSet.size.toLong
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def round4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq(1L -> clean(1), 2L -> clean(2), 3L -> junk, 4L -> mixed).foreach {
      case (id, text) =>
        val evs = text.split(" ").toSeq.sliding(3).filter(_.length == 3)
          .map(s => (s(0), s(1), s(2))).toSeq
        var (bo1, bo2) = (0L, 0L)
        val s = evs.map { case (u, vv, w) =>
          val p =
            if (c3.contains((u, vv, w))) c3((u, vv, w)).toDouble / c2((u, vv)).toDouble
            else if (c2.contains((vv, w))) { bo1 += 1
              0.4 * (c2((vv, w)).toDouble / c1(vv).toDouble) }
            else { bo2 += 1
              0.4 * 0.4 * ((c1.getOrElse(w, 0L) + 1).toDouble / (tTot + v).toDouble) }
          BigDecimal(1e6 * math.log(p))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }.sum
        val nll = round6(-s.toDouble / (evs.size * 1e6))
        assert(got(id) == ((evs.size.toLong, bo1, bo2, nll, round4(math.exp(nll)))),
          s"doc $id: got ${got(id)}")
    }
    // every backoff level actually fired where engineered
    assert(got(1L)._2 == 0L && got(1L)._3 == 0L, "in-reference doc backed off")
    assert(got(3L)._3 == 3L, "all-OOV doc did not take the unigram floor")
    assert(got(4L)._2 >= 1L && got(4L)._3 >= 1L,
      s"mixed doc missed a backoff level: ${got(4L)}")
  }

  test("c4_lm_ppl3 count cutoff: singleton trigrams shift to backoff, repeated ones keep scoring") {
    import spark.implicits._
    val stop = Seq("the", "of", "and", "to", "in", "is")
    // Both docs end in the same 6-token tail, so the tail's trigrams
    // (incl. the bridge over the last stopword) have c3 = 2 and SURVIVE
    // the cutoff; every trigram touching a seed-specific token is a
    // singleton and must shift to a backoff level under minCount = 2.
    val tail = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def clean(seed: Int): String =
      ((1 to 12).flatMap(i => Seq(s"tok${seed}x$i", stop(i % stop.length)))
        ++ tail).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_lm3cut").toString
    Seq((1L, clean(1), "en"), (2L, clean(2), "en"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    def run(minC: Long) = TextOps.c4LmPpl3(spark, dir, minCount = minC)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    val (uncut, cut) = (run(1L), run(2L))
    // brute-force model over both docs, trigram table cut to c3 >= 2
    val ref = Seq(clean(1), clean(2)).map(_.split(" ").toSeq)
    val c3all = ref.flatMap(_.sliding(3).filter(_.length == 3).map(s => (s(0), s(1), s(2))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c3 = c3all.filter(_._2 >= 2L)
    val c2 = ref.flatMap(_.sliding(2).filter(_.length == 2).map(s => (s(0), s(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = ref.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tTot = ref.map(_.size).sum.toLong
    val v = ref.flatten.toSet.size.toLong
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def round4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq(1L -> clean(1), 2L -> clean(2)).foreach { case (id, text) =>
      val evs = text.split(" ").toSeq.sliding(3).filter(_.length == 3)
        .map(s => (s(0), s(1), s(2))).toSeq
      var (bo1, bo2) = (0L, 0L)
      val s = evs.map { case (u, vv, w) =>
        val p =
          if (c3.contains((u, vv, w))) c3((u, vv, w)).toDouble / c2((u, vv)).toDouble
          else if (c2.contains((vv, w))) { bo1 += 1
            0.4 * (c2((vv, w)).toDouble / c1(vv).toDouble) }
          else { bo2 += 1
            0.4 * 0.4 * ((c1.getOrElse(w, 0L) + 1).toDouble / (tTot + v).toDouble) }
        BigDecimal(1e6 * math.log(p))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.sum
      val nll = round6(-s.toDouble / (evs.size * 1e6))
      assert(cut(id) == ((evs.size.toLong, bo1, bo2, nll, round4(math.exp(nll)))),
        s"doc $id: got ${cut(id)}")
    }
    // the cutoff only ever SHIFTS events toward backoff: event counts
    // unchanged, total backoff strictly up (singletons exist), and the
    // uncut run scored those events at the trigram level
    Seq(1L, 2L).foreach { id =>
      assert(cut(id)._1 == uncut(id)._1, s"doc $id: event count changed")
      assert(cut(id)._2 + cut(id)._3 > uncut(id)._2 + uncut(id)._3,
        s"doc $id: no event shifted to backoff under the cutoff")
    }
    // non-vacuity of the survival arm: repeated trigrams exist, so the
    // cut run still scores SOME events at the trigram level
    val surviving = c3.size
    assert(surviving >= 2, s"fixture lost its repeated trigrams: $surviving")
    assert(c3all.size > surviving, "fixture has no singleton trigrams")
  }

  test("LM scorers: a single-token doc scores n_events = 0, nll = 0.0, ppl = 1.0") {
    import spark.implicits._
    // Two rule-keep docs, so the reference slice (and its model) exist,
    // next to a one-token doc that has no bigram and no trigram event.
    val stop = Seq("the", "of", "and", "to", "in", "is")
    def clean(seed: Int): String =
      (1 to 15).flatMap(i => Seq(s"tok${seed}x$i", stop(i % stop.length)))
        .mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_solo").toString
    Seq((1L, clean(1), "en"), (2L, clean(2), "en"), (3L, "solo", "en"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    def byDoc(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val ppl = byDoc(TextOps.c4LmPpl(spark, dir))
    val ref = byDoc(TextOps.c4LmPplRef(spark, dir))
    val ppl3 = byDoc(TextOps.c4LmPpl3(spark, dir))
    assert(ppl(3L) == Seq(3L, 0L, 0.0, 1.0), s"c4_lm_ppl: ${ppl(3L)}")
    assert(ref(3L) == Seq(3L, 0L, 0L, 0.0, 1.0), s"c4_lm_ppl_ref: ${ref(3L)}")
    assert(ppl3(3L) == Seq(3L, 0L, 0L, 0L, 0.0, 1.0), s"c4_lm_ppl3: ${ppl3(3L)}")
    // the 30-token rule-keep docs score 29 bigram / 28 trigram events
    Seq(ppl -> 29L, ref -> 29L, ppl3 -> 28L).foreach { case (m, n) =>
      assert(m(1L)(1) == n, s"events: ${m(1L)}") }
  }

  test("c4_quality_model: closed-form training and scoring match an in-memory reference") {
    val stop = Set("the", "a", "of", "to", "in", "and", "is")
    def feats(text: String): (Long, Long, Long, Long, Long) = {
      val toks = text.split(" ", -1)
      val nTok = toks.length.toLong
      val alpha = text.count(c => c >= 'a' && c <= 'z').toLong
      val types = toks.distinct
      val maxC = toks.groupBy(identity).values.map(_.length).max.toLong
      (nTok, alpha, types.length.toLong,
        types.count(stop.contains).toLong, maxC)
    }
    val texts = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val f = texts.map { case (id, t) =>
      val (a, b2, c, d, e) = feats(t)
      val keep = a >= 30 && a <= 10000 && b2 >= 2 * a && b2 <= 12 * a && d >= 2
      (id, Array(a, b2, c, d, e), keep)
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def mu(cls: Boolean): Array[Double] = {
      val rows = f.filter(_._3 == cls)
      (0 until 5).map(j => round6(rows.map(_._2(j)).sum.toDouble / rows.length))
        .toArray
    }
    val (mk, md) = (mu(true), mu(false))
    val w = mk.zip(md).map { case (x, y) => x - y }
    var acc = 0.0
    (0 until 5).foreach(j => acc = acc + w(j) * (mk(j) + md(j)))
    val b = -(acc / 2)
    val want = f.sortBy(_._1).map { case (id, x, keep) =>
      var s = 0.0
      (0 until 5).foreach(j => s = s + w(j) * x(j))
      s = s + b
      (id, x(0), x(1), x(2), x(3), x(4), round6(s), s > 0, keep, (s > 0) == keep)
    }
    val got = TextOps.c4QualityModel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getBoolean(7),
        r.getBoolean(8), r.getBoolean(9)))
    assert(got.toSeq == want.toSeq)
    // the model actually separates: it agrees with the rule label on a
    // solid majority (the centroid classifier trained ON that label)
    val agreeFrac = got.count(_._10).toDouble / got.length
    assert(agreeFrac > 0.7, s"model/rule agreement only $agreeFrac")
    // scoring plan is one narrow projection: no join/aggregate NODES
    // (the per-row HOF fold legitimately prints as `aggregate(...)`
    // inside a Project — only plan-node names are pinned)
    val nodes = TextOps.c4QualityModel(spark, sf)
      .queryExecution.optimizedPlan.collect { case n => n.nodeName }
    assert(!nodes.exists(n => n.contains("Join") || n.contains("Aggregate")),
      s"scoring plan is not a pure projection: $nodes")
  }

  test("c4_bpe_encode matches an in-memory apply of the learned merges") {
    // Re-learn the merge table with the same plain-Scala batched BPE,
    // apply it word-by-word, and price every document.
    val (_, wordSyms) = refBpe(TextOps.BpeRounds, TextOps.BpeBatchCap)
    val want = corpus.toSeq.map { case (id, toks) =>
      val ws = toks.filter(_.nonEmpty)
      val bpe = ws.map(w => wordSyms(w).length.toLong).sum
      val ratio =
        if (ws.isEmpty) null
        else BigDecimal(bpe.toDouble / ws.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, ws.length.toLong, bpe, ratio)
    }.sortBy(_._1)
    val got = TextOps.c4BpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"got $g want $w") }
  }
}
