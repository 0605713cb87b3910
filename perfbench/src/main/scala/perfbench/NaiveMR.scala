package perfbench

/** Reference MapReduce for the gateway's job types, written directly from
  * their definitions (not through the engine): map each pair, group by key
  * in ascending key order, reduce each group over its sorted values.
  */
object NaiveMR {
  private def words(v: String): Iterator[String] = v.split(' ').iterator.filter(_.nonEmpty)

  private def chars(v: String): Iterator[String] =
    v.toLowerCase.iterator.filter(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))
      .map(_.toString)

  private def run(kvs: Seq[(String, String)], map: ((String, String)) => Iterator[(String, String)],
      reduce: (String, Seq[String]) => Iterator[String]): Vector[String] =
    kvs.iterator.flatMap(map).toVector.groupBy(_._1).toVector.sortBy(_._1)
      .flatMap { case (k, kvs) => reduce(k, kvs.map(_._2).sorted) }

  def expected(jobType: String, kvs: Seq[(String, String)]): Vector[String] = jobType match {
    case "wordcount" => run(kvs, kv => words(kv._2).map(_ -> "1"), (_, vs) => Iterator(vs.size.toString))
    case "charcount" => run(kvs, kv => chars(kv._2).map(_ -> "1"), (_, vs) => Iterator(vs.size.toString))
    case "distinct" => run(kvs, kv => words(kv._2).map(_ -> "1"), (k, _) => Iterator(k))
    case "identity" => run(kvs, kv => Iterator(kv), (k, vs) => vs.iterator.map(v => s"$k\t$v"))
    case other => throw new IllegalArgumentException(s"no reference for job type $other")
  }

  /** The first difference between a gateway result and the reference, or
    * None when they are equal element by element.
    */
  def mismatch(jobType: String, kvs: Seq[(String, String)], got: Seq[String]): Option[String] = {
    val want = expected(jobType, kvs)
    if (want == got) None
    else if (want.size != got.size) Some(s"${got.size} results, expected ${want.size}")
    else {
      val i = want.indices.find(i => want(i) != got(i)).get
      Some(s"result $i is ${Json.str(got(i).take(80))}, expected ${Json.str(want(i).take(80))}")
    }
  }
}
