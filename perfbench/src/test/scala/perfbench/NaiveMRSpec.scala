package perfbench

import org.scalatest.funsuite.AnyFunSuite

class NaiveMRSpec extends AnyFunSuite {
  private val kvs = Seq("1" -> "the cat saw the dog", "2" -> "A dog, 2 cats!")

  test("reference results follow the job types' definitions") {
    // keys ascending: "2", "A", "cat", "cats!", "dog", "dog,", "saw", "the"
    assert(NaiveMR.expected("wordcount", kvs) == Vector("1", "1", "1", "1", "1", "1", "1", "2"))
    assert(NaiveMR.expected("distinct", kvs) ==
      Vector("2", "A", "cat", "cats!", "dog", "dog,", "saw", "the"))
    assert(NaiveMR.expected("charcount", Seq("k" -> "Ab a1")) == Vector("1", "2", "1"))
    assert(NaiveMR.expected("identity", kvs) ==
      Vector("1\tthe cat saw the dog", "2\tA dog, 2 cats!"))
  }

  test("the checker accepts a correct result and flags a corrupted one") {
    val good = NaiveMR.expected("wordcount", kvs)
    assert(NaiveMR.mismatch("wordcount", kvs, good).isEmpty)
    assert(NaiveMR.mismatch("wordcount", kvs, good.updated(7, "3")).isDefined)
    assert(NaiveMR.mismatch("wordcount", kvs, good.dropRight(1)).isDefined)
    assert(NaiveMR.mismatch("distinct", kvs, NaiveMR.expected("distinct", kvs).reverse).isDefined)
  }

  test("gateway bodies parse back to their result strings; truncated ones do not") {
    val body = """{"ok":true,"message":"","result":["a\tb","q\"x\\y","é"]}"""
    assert(Json.resultArray(body).contains(Vector("a\tb", "q\"x\\y", "é")))
    assert(Json.resultArray(body.dropRight(2)).isEmpty)
    assert(Json.resultArray("""{"ok":true,"message":"","result":[]}""").contains(Vector()))
  }
}
