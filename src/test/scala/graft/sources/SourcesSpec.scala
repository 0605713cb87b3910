package graft.sources

import graft.SparkSuite
import graft.mr.{JobTypeRegistry, MRJob}

import java.nio.file.Files

/** O1/O10 gateway parity: launch JSON in → MR job → JSON array out —
  * the reference's single_node.sh curl smoke, as library calls.
  */
class SourcesSpec extends SparkSuite {

  private def writeTemp(content: String, suffix: String = ".json"): String = {
    val f = Files.createTempFile("launch", suffix)
    Files.writeString(f, content)
    f.toString
  }

  test("launch JSON round-trip: ingest, run, sink (single_node.sh shape)") {
    val path = writeTemp(
      """{"name": "wc-test", "type": "wordcount", "mapper_num": 2,
        |"reducer_num": 2, "token": "ztorchan",
        |"kvs": [{"key": "k1", "value": "a b a"},
        |        {"key": "k2", "value": "b"},
        |        {"key": "k3", "value": "c a"}]}""".stripMargin)
    val Right(launch) = Sources.readLaunchJson(spark, path)
    assert(launch.name == "wc-test" && launch.jobType == "wordcount")
    assert(launch.mapperNum == 2 && launch.reducerNum == 2)
    val fns = JobTypeRegistry.lookup(launch.jobType).get
    import spark.implicits._
    val result = MRJob.run(spark, launch.kvs.toDS(), fns.mapFn, fns.reduceFn,
      launch.mapperNum, launch.reducerNum).collect().toSeq
    assert(MRJob.runLocal(launch.kvs, fns.mapFn, fns.reduceFn,
      launch.mapperNum, launch.reducerNum) == result)
    assert(result == Seq("3", "2", "1")) // a=3, b=2, c=1 in key order
    val out = Files.createTempFile("result", ".json").toString
    Sources.writeResultJson(result, out)
    assert(Files.readString(java.nio.file.Paths.get(out)) == """["3","2","1"]""")
  }

  test("validation: empty kvs rejected (master.cc:533-535)") {
    val path = writeTemp(
      """{"name": "x", "type": "wordcount", "mapper_num": 1,
        |"reducer_num": 1, "token": "t", "kvs": []}""".stripMargin)
    assert(Sources.readLaunchJson(spark, path) == Left("kvs must be non-empty"))
  }

  test("validation: missing field rejected (gateway.cc:15-51)") {
    val path = writeTemp(
      """{"name": "x", "mapper_num": 1, "reducer_num": 1, "token": "t",
        |"kvs": [{"key": "a", "value": "b"}]}""".stripMargin)
    val res = Sources.readLaunchJson(spark, path)
    assert(res.isLeft && res.swap.exists(_.contains("type")))
  }

  test("malformed JSON rejected") {
    val path = writeTemp("""{"name": oops""")
    assert(Sources.readLaunchJson(spark, path).isLeft)
  }

  /** The launch parse as it ran through the Spark JSON reader, with the
    * same checks: the reference the driver-side parse must reproduce.
    */
  private def readerParse(body: String): Either[String, Sources.Launch] = {
    import spark.implicits._
    import org.apache.spark.sql.Row
    try {
      val rows = spark.read.schema(Sources.launchSchema)
        .option("mode", "FAILFAST").json(Seq(body).toDS()).collect()
      if (rows.length != 1) Left(s"expected one launch document, got ${rows.length}")
      else {
        val r = rows(0)
        val bad = Sources.launchSchema.fieldNames.filter(f => r.isNullAt(r.fieldIndex(f)))
        if (bad.nonEmpty) Left(s"missing/invalid fields: ${bad.mkString(", ")}")
        else {
          val kvRows = r.getSeq[Row](r.fieldIndex("kvs"))
            .map(kv => (kv.getString(0), kv.getString(1)))
          if (kvRows.isEmpty) Left("kvs must be non-empty")
          else Right(Sources.Launch(r.getString(0), r.getString(1), r.getInt(2),
            r.getInt(3), r.getString(4), kvRows))
        }
      }
    } catch {
      case e: Exception => Left(s"malformed launch JSON: ${e.getMessage}")
    }
  }

  test("driver-side launch parse matches the Spark JSON reader, body by body") {
    def doc(name: String = "\"wc\"", mapperNum: String = "2",
        kvs: String = """[{"key": "k1", "value": "a b"}]""", extra: String = "") =
      s"""{"name": $name, "type": "wordcount", "mapper_num": $mapperNum,""" +
        s""" "reducer_num": 1, "token": "t", "kvs": $kvs$extra}"""
    val bs = "\\"     // one backslash: JSON escapes, kept out of Scala's
    val u = bs + "u"  // own unicode-escape processing
    val bodies = Seq(
      "well-formed" -> doc(),
      "missing field" -> """{"name": "x", "mapper_num": 1, "reducer_num": 1,
        | "token": "t", "kvs": [{"key": "a", "value": "b"}]}""".stripMargin,
      "mapper_num string" -> doc(mapperNum = "\"2\""),
      "mapper_num fraction" -> doc(mapperNum = "2.5"),
      "mapper_num past Int" -> doc(mapperNum = "3000000000"),
      "name a number" -> doc(name = "123"),
      "null kvs element" -> doc(kvs = """[{"key": "a", "value": "b"}, null]"""),
      "null key" -> doc(kvs = """[{"key": null, "value": "b"}]"""),
      "empty kvs" -> doc(kvs = "[]"),
      "extra fields" -> doc(extra = """, "priority": 3, "tags": {"a": [1]}"""),
      "duplicate fields" -> doc(extra = """, "name": "second", "kvs": [{"key": "z", "value": "y"}]"""),
      "array of one" -> s"[${doc()}]",
      "array of two" -> s"[${doc()}, ${doc()}]",
      "empty body" -> "",
      "not json" -> "not json",
      "text after the object" -> s"${doc()} trailing",
      "unicode escapes" -> doc(name = s""""w${u}00e9${bs}n${u}20ac"""",
        kvs = s"""[{"key": "${u}006b${u}d83d${u}de00", "value": "caf${u}00e9"}]"""),
      "non-ASCII text" -> doc(name = "\"wörd～\"",
        kvs = """[{"key": "😀", "value": "straße ü 日本"}]"""))
    bodies.foreach { case (label, body) =>
      val want = readerParse(body)
      val got = Sources.parseLaunchJson(spark, body)
      (want, got) match {
        case (Right(w), Right(g)) => assert(g == w, s"$label: fields differ")
        case (Left(w), Left(g)) =>
          // The reader's own parse failure arrives wrapped in a stage
          // failure; the kind of rejection must agree, the check
          // messages exactly.
          val malformed = "malformed launch JSON"
          if (w.startsWith(malformed)) assert(g.startsWith(malformed), s"$label: $g")
          else assert(g == w, label)
        case _ => fail(s"$label: reader gave $want, driver parse gave $got")
      }
    }
    // spot checks on what the shared parse accepts
    val Right(esc) = Sources.parseLaunchJson(spark, bodies.toMap.apply("unicode escapes"))
    assert(esc.name == "wé\n€" && esc.kvs == Seq(("k😀", "café")))
    val Right(nonAscii) = Sources.parseLaunchJson(spark, bodies.toMap.apply("non-ASCII text"))
    assert(nonAscii.name == "wörd～" && nonAscii.kvs == Seq(("😀", "straße ü 日本")))
    assert(Sources.parseLaunchJson(spark, bodies.toMap.apply("array of two")) ==
      Left("expected one launch document, got 2"))
  }

  test("escaped characters survive the result sink") {
    val out = Files.createTempFile("result", ".json").toString
    Sources.writeResultJson(Seq("a\"b", "c\\d", "e\nf"), out)
    assert(Files.readString(java.nio.file.Paths.get(out)) ==
      "[\"a\\\"b\",\"c\\\\d\",\"e\\nf\"]")
  }

  test("csv source reads into the documents shape with schema validation") {
    val path = writeTemp(
      """doc_id,text,lang,source,n_chars
        |1,hello world,en,web,11
        |2,hola mundo,es,web,10""".stripMargin, suffix = ".csv")
    val Right(df) = Sources.readDocuments(spark, path, format = "csv")
    val rows = df.orderBy("doc_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "hello world")
    assert(rows(1).getString(2) == "es" && rows(1).getLong(4) == 10L)
    // and the generic reader can feed the real query surface: the shape
    // matches the parquet documents table column-for-column
    assert(df.schema.fieldNames.toSeq ==
      graft.Tables.load(spark, sf, "documents").schema.fieldNames.toSeq)
  }

  test("csv source rejects rows with missing required fields (eager audit mode)") {
    val path = writeTemp(
      """doc_id,text,lang,source,n_chars
        |1,hello,en,web,5
        |,orphan,en,web,6""".stripMargin, suffix = ".csv")
    val res = Sources.readDocuments(spark, path, format = "csv", audit = true)
    assert(res.isLeft && res.swap.exists(_.contains("missing doc_id/text")))
  }

  test("default mode validates in a single scan: read is lazy, first action fails") {
    val bad = writeTemp(
      """doc_id,text,lang,source,n_chars
        |1,hello,en,web,5
        |,orphan,en,web,6""".stripMargin, suffix = ".csv")
    // No eager validation scan: the read returns Right even on a bad file
    // (the old two-scan audit would have returned Left here)...
    val res = Sources.readDocuments(spark, bad, format = "csv")
    assert(res.isRight)
    // ...and the consumer's FIRST action fails loudly on the bad row.
    val e = intercept[Exception](res.toOption.get.collect())
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      Option(t.getMessage).exists(_.contains("missing doc_id/text"))),
      s"unexpected failure: $e")
    // A clean file flows through the same guard untouched.
    val good = writeTemp(
      """doc_id,text,lang,source,n_chars
        |1,hello,en,web,5
        |2,hola,es,web,4""".stripMargin, suffix = ".csv")
    val Right(df) = Sources.readDocuments(spark, good, format = "csv")
    assert(df.count() == 2)
  }

  test("csv source FAILFAST rejects ill-typed rows") {
    val path = writeTemp(
      """doc_id,text,lang,source,n_chars
        |not_a_number,hello,en,web,5""".stripMargin, suffix = ".csv")
    assert(Sources.readDocuments(spark, path, format = "csv", audit = true).isLeft)
    // default (single-scan) mode surfaces the same FAILFAST error at the
    // consumer's action instead
    val lazyRes = Sources.readDocuments(spark, path, format = "csv")
    assert(lazyRes.isRight)
    intercept[Exception](lazyRes.toOption.get.collect())
  }

  test("jsonl source reads the documents shape") {
    val path = writeTemp(
      """{"doc_id": 7, "text": "bonjour", "lang": "fr", "source": "web", "n_chars": 7}""",
      suffix = ".json")
    val Right(df) = Sources.readDocuments(spark, path, format = "json")
    val r = df.collect()(0)
    assert(r.getLong(0) == 7L && r.getString(1) == "bonjour" && r.getString(2) == "fr")
  }

  test("text-lines source: one value row per line (word_count client shape)") {
    val path = writeTemp("line one\nline two\nline three", suffix = ".txt")
    val lines = Sources.readTextLines(spark, path)
      .collect().map(_.getString(0)).toSeq
    assert(lines == Seq("line one", "line two", "line three"))
  }
}
