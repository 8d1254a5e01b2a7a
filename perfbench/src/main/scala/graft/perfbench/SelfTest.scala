package graft.perfbench

/** The checks' own test: every workload feeds its check deliberately wrong
  * outputs, and a check that accepts one is a broken check — the run then
  * stops without a result rather than vouch for outputs it cannot judge. */
object SelfTest {
  final class CheckAcceptedWrongOutput(msg: String) extends RuntimeException(msg)

  def expectRejected(workload: String, verdicts: Seq[(String, Oracle.Problems)]): Unit = {
    val accepted = verdicts.collect { case (name, p) if p.isEmpty => name }
    if (accepted.nonEmpty)
      throw new CheckAcceptedWrongOutput(
        s"$workload check accepted deliberately wrong output: ${accepted.mkString(", ")}")
    Harness.log(s"$workload check rejected all ${verdicts.size} wrong outputs: " +
      verdicts.map(_._1).mkString(", "))
  }
}
