package graft

/** Standalone gateway process: `runMain graft.GatewayServer [port]` gives
  * a reference user the same curl surface as `scripts/single_node.sh`
  * (reference default port 2335; see graft.mr.Gateway for the routes).
  */
object GatewayServer {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(2335)
    val spark = Graft.localSession()
    val gateway = new mr.Gateway(spark, new mr.JobStore(), port)
    val actual = gateway.start()
    println(s"graft gateway listening on :$actual")
    Thread.currentThread().join()
  }
}
