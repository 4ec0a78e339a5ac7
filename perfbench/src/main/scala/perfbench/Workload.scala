package perfbench

/** A closed loop of one client: each pass runs the workload's operations
  * once, in an order drawn from the run's seed. */
trait Workload {
  def name: String
  def pass(p: Pass): Unit
}

object Workload {
  val all: Seq[Workload] = Seq(RecsysWorkload, DataprepWorkload)
}
