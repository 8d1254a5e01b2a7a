package graft.perfbench

/** One timed operation of a round: its span name; whether it is a
  * `request` (an answer or commit someone waits for, so it counts towards
  * latency) or a batch job; the items it completes (calls indexed, events
  * committed, documents curated, requests answered); and the call itself,
  * which returns its own time in ms. */
final case class Op(span: String, request: Boolean, items: Double, run: () => Double)

/** One part of the paper's path that a workload exercises. A phase builds
  * its inputs in `setUp`, offers the operations of round `i` (rounds below
  * zero are warm-up), checks what the timed rounds produced, and reports
  * its layers from a traced run. */
trait Phase {
  def setUp(): Unit
  def round(i: Int): Seq[Op]
  /** Problems with the outputs of the timed rounds; also feeds the check
    * deliberately wrong outputs (see [[SelfTest]]). */
  def check(): Seq[String]
  def layers(t: Tracer): Map[String, Double]
  /** Bytes on disk of the store this phase wrote. */
  def storeBytes: Long
  def close(): Unit = ()
}

/** A workload: phases whose operations interleave in fixed rounds. Set-up
  * builds every phase and runs `warmRounds` whole rounds untimed (a fixed
  * count, so every run measures the JVM at the same stage of its warm-up),
  * then whole rounds run for the run's length, at least `minRounds`. Spark's cache is cleared and
  * a full GC forced before every operation, outside its time. */
object Workload {

  def run(ctx: Ctx, phases: Seq[Phase], warmRounds: Int, minRounds: Int): Outcome =
    try {
      Harness.log(Harness.fmt("session up at %.1f s", Double.box(Main.elapsedS())))
      phases.foreach(_.setUp())
      Harness.log(Harness.fmt("inputs and stores ready at %.1f s", Double.box(Main.elapsedS())))
      def roundOps(i: Int): Seq[Op] = phases.flatMap(_.round(i))
      val warm = (1 to warmRounds).map(w => roundOps(-w).map { op => ctx.settle(); op.run() }.sum)
      Harness.log(Harness.fmt("warm-up rounds done at %.1f s", Double.box(Main.elapsedS())))
      val setupS = Main.elapsedS()
      ctx.tracer.foreach(_.timedRegion = true)
      val done = scala.collection.mutable.ArrayBuffer.empty[(Op, Double)]
      val rounds = Harness.rounds(ctx.seconds, minRounds) { i =>
        roundOps(i).foreach { op =>
          ctx.settle()
          done += ((op, ctx.timed(op.span)(op.run())._1))
        }
      }
      ctx.tracer.foreach(_.timedRegion = false)
      val heap = Harness.retainedHeapBytes()
      val problems = phases.flatMap(_.check())
      Outcome(
        attempted = done.size.toLong,
        failed = 0,
        problems = problems,
        setupS = setupS,
        requestMs = done.collect { case (op, ms) if op.request => op.span -> ms }.toSeq,
        opMs = done.map(_._2).toSeq,
        items = done.map(_._1.items).sum,
        storeBytes = phases.map(_.storeBytes).sum,
        heapBytes = heap,
        layers = ctx.tracer.map(t => phases.flatMap(_.layers(t)).toMap).getOrElse(Map.empty),
        notes = Map("rounds" -> rounds.toDouble, "warmup_rounds" -> warm.size.toDouble,
          "warmup_last_round_ms" -> warm.last, "warmup_first_round_ms" -> warm.head) ++
          done.groupBy(_._1.span).map { case (span, ds) => s"p50_ms.$span" -> Harness.median(ds.map(_._2).toSeq) })
    } finally phases.foreach(_.close())
}
