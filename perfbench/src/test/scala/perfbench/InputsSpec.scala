package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {
  private val panel = (1 to 30).map(i => s"q$i")
  private val params = GatewayParams(rate = 5.0, seconds = 20,
    mix = Seq("wordcount" -> 0.3, "charcount" -> 0.25, "distinct" -> 0.25, "identity" -> 0.2),
    maxDocs = 2000, identityMinDocs = 200, cancelShare = 0.05, cancelDelayMs = 20)

  test("the same seed gives the same query order and job plan") {
    assert(Inputs.queryOrder(panel, 7) == Inputs.queryOrder(panel, 7))
    assert(Inputs.gatewayPlan(params, 500, 7) == Inputs.gatewayPlan(params, 500, 7))
  }

  test("every seed runs the same amount of work") {
    def work(plan: Vector[JobPlan]) = plan.map(j => (j.jobType, j.docs.size, j.mappers, j.reducers)).sorted
    assert(work(Inputs.gatewayPlan(params, 500, 7)) == work(Inputs.gatewayPlan(params, 500, 8)))
  }

  test("a different seed changes the query order and the job plan") {
    assert(Inputs.queryOrder(panel, 7) != Inputs.queryOrder(panel, 8))
    assert(Inputs.queryOrder(panel, 8).sorted == panel.sorted)
    val (a, b) = (Inputs.gatewayPlan(params, 500, 7), Inputs.gatewayPlan(params, 500, 8))
    assert(a.map(_.dueMs) != b.map(_.dueMs))
    assert(a.map(_.docs) != b.map(_.docs))
  }

  test("the job plan has the declared shape") {
    val plan = Inputs.gatewayPlan(params, 500, 3)
    assert(plan.map(_.dueMs) == plan.map(_.dueMs).sorted)
    assert(plan.forall(j => j.dueMs < params.seconds * 1000L))
    assert(plan.size == 100) // rate * seconds
    assert(plan.count(_.cancelAfterMs.isDefined) == 5)
    assert(plan.count(_.jobType == "wordcount") == 30)
    assert(plan.forall(j => j.docs.nonEmpty && j.docs.size <= params.maxDocs))
    assert(plan.filter(_.jobType == "identity").forall(_.docs.size >= params.identityMinDocs))
    assert(plan.map(_.jobType).toSet == params.mix.map(_._1).toSet)
  }
}
