package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-level accounting for search_sparse_cosine: wall duration vs summed
  * executor run time per stage, over 3 warm reps — separates "the stages
  * compute more" from "the stages wait more" (scheduling/GC/host stalls). */
object ProbeSparseStages {
  def main(args: Array[String]): Unit = {
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Long, Int)]()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val wall = (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(-1L)
        stages.add((i.stageId, wall, i.taskMetrics.executorRunTime,
          i.taskMetrics.jvmGCTime, i.numTasks))
      }
    })
    val d = "/root/testdata/sf0.1"
    for (rep <- 1 to 3) {
      stages.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries("search_sparse_cosine")(s, d)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain
      println(f"REP$rep total $t%.2f s")
      val rows = stages.toArray(Array.empty[(Int, Long, Long, Long, Int)]).sortBy(_._1)
      val wallSum = rows.map(_._2).sum
      rows.filter(_._2 > 200).foreach { case (id, wall, run, gc, n) =>
        println(f"  stage$id wall=${wall / 1e3}%.2f s runSum=${run / 1e3}%.2f s gc=${gc / 1e3}%.2f s tasks=$n")
      }
      println(f"  wallSum(all stages)=${wallSum / 1e3}%.2f s")
    }
    s.stop()
  }
}
