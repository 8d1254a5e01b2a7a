package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark in this JVM and prints its result as
  * the last line of standard output:
  *
  * {{{
  * graft.perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <scratch dir> [--record <run record file>]
  * }}}
  *
  * `perfbench/run.py` builds the classpath and starts this JVM; see
  * `perfbench/README.md`.
  */
object Main {

  /** The write and batch side (batch ingest to the sink, follow-mode
    * ingest, corpus curation) and the read side (search requests). */
  val Workloads: Seq[String] = Seq("write_path", "read_path")

  /** Every settings value that changes the work a run does. */
  val Threads = 3
  val ShufflePartitions = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "store_mb" -> "MB", "retained_heap_mb" -> "MB")

  val SearchKinds: Seq[String] = Seq("semantic", "filtered", "by_id", "view_graph", "view_full", "hybrid")
  val CurationOps: Seq[String] = Seq("corpusFilter", "exactClusters", "minhash", "SetSimJoin", "SparseSim")

  val PerLayer: Seq[(String, String)] =
    Seq("catalog.validate.ms" -> "ms", "catalog.validate.rejects" -> "count",
      "model.sessionize.ms" -> "ms", "model.sessionize.shuffle_mb" -> "MB",
      "model.attachSequence.ms" -> "ms", "functions.embedText.ms" -> "ms",
      "ingest.writeStore.ms" -> "ms", "ingest.writeStore.files" -> "count",
      "sink.indexBatch.ms" -> "ms", "sink.indexBatch.requests" -> "count",
      "sink.indexBatch.wire_mb" -> "MB", "sink.indexBatch.points" -> "count") ++
      SearchKinds.flatMap(k => Seq(s"search.$k.ms" -> "ms", s"search.$k.plan_ms" -> "ms",
        s"search.$k.jobs" -> "count", s"search.$k.rows_scanned" -> "count",
        s"search.$k.mb_scanned" -> "MB")) ++
      Seq("streaming.batch.ms" -> "ms", "streaming.batch.addBatch_ms" -> "ms",
        "streaming.batch.getBatch_ms" -> "ms", "streaming.batch.queryPlanning_ms" -> "ms",
        "streaming.batch.walCommit_ms" -> "ms", "streaming.batch.jobs" -> "count",
        "streaming.batch.input_rows" -> "count", "streaming.batch.store_rows_read" -> "count") ++
      CurationOps.flatMap(o => Seq(s"operators.$o.ms" -> "ms", s"operators.$o.jobs" -> "count",
        s"operators.$o.shuffle_mb" -> "MB", s"operators.$o.pairs_out" -> "count")) ++
      Seq("operators.SetSimJoin.candidates" -> "count") ++
      Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_run_ms" -> "ms",
        "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_write_mb" -> "MB",
        "spark.spill_mb" -> "MB")

  private var mainStart = 0L

  /** Seconds since `main` began. */
  def elapsedS(): Double = (System.nanoTime() - mainStart) / 1e9

  private def session(work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$Threads]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.default.parallelism", Threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      // bound what Spark's status store keeps, so retained heap does not
      // grow with the number of jobs a run happens to fit
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    mainStart = System.nanoTime()
    val workload = arg(args, "workload").filter(Workloads.contains).getOrElse {
      System.err.println(s"--workload must be one of ${Workloads.mkString(", ")}"); sys.exit(2)
    }
    val seed = arg(args, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "trace").contains("1")
    val work = new File(arg(args, "work").getOrElse {
      System.err.println("--work <dir> is required"); sys.exit(2)
    }).getAbsoluteFile
    work.mkdirs()
    val (steal0, total0) = Harness.cpuSteal()

    val spark = session(work)
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, work, tracer)
    val out =
      try workload match {
        case "write_path" =>
          Workload.run(ctx, Seq(new IndexBatch(ctx), new StreamIngest(ctx), new CurateCorpus(ctx)),
            warmRounds = 1, minRounds = 1)
        case "read_path" => Workload.run(ctx, Seq(new SearchServe(ctx)), warmRounds = 1, minRounds = 2)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          spark.stop()
          sys.exit(1)
      }
    val (steal1, total1) = Harness.cpuSteal()
    val stealShare = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0

    val mb = 1024.0 * 1024.0
    val e2e: Map[String, Double] = Map(
      "setup_s" -> out.setupS,
      "throughput_per_s" -> out.items / (out.opMs.sum / 1000.0),
      "latency_p50_ms" -> Harness.kindsP50(out.requestMs),
      "store_mb" -> out.storeBytes / mb,
      "retained_heap_mb" -> out.heapBytes / mb)
    val layer: Map[String, Double] = tracer.map { t =>
      t.close()
      t.write(new File(work.getParentFile, s"traces/$workload-seed$seed.json"))
      val r = t.run
      PerLayer.map(_._1 -> 0.0).toMap ++ out.layers ++ Map(
        "spark.jobs" -> r.jobs.toDouble, "spark.tasks" -> r.tasks.toDouble,
        "spark.executor_run_ms" -> r.runMs, "spark.executor_cpu_ms" -> r.cpuMs,
        "spark.gc_ms" -> r.gcMs, "spark.shuffle_write_mb" -> r.shuffleWriteBytes / mb,
        "spark.spill_mb" -> r.spillBytes / mb)
    }.getOrElse(Map.empty)
    spark.stop()

    import Harness.{num, str}
    def metrics(names: Seq[(String, String)], values: Map[String, Double]): String =
      names.map { case (n, u) => s"${str(n)}:{\"value\":${num(values(n))},\"unit\":${str(u)}}" }
        .mkString("{", ",", "}")
    val correct = out.problems.isEmpty
    out.problems.foreach(p => Harness.log(s"CHECK FAILED: $p"))
    arg(args, "record").foreach { path =>
      val f = new File(path)
      f.getParentFile.mkdirs()
      val json =
        s"""{"workload":${str(workload)},"seed":$seed,"seconds":${num(seconds)},"trace":$trace,""" +
          s""""correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
          s""""cpu_steal_share":${num(stealShare)},"threads":$Threads,""" +
          s""""shuffle_partitions":$ShufflePartitions,"max_heap_mb":${num(Runtime.getRuntime.maxMemory / mb)},""" +
          s""""end_to_end":${metrics(EndToEnd, e2e)},""" +
          (if (trace) s""""per_layer":${metrics(PerLayer, layer)},""" else "") +
          s""""notes":{${out.notes.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")}},""" +
          s""""op_ms":[${out.opMs.map(num).mkString(",")}],"items":${num(out.items)},""" +
          s""""problems":[${out.problems.map(str).mkString(",")}]}"""
      Files.write(f.toPath, (json + "\n").getBytes(StandardCharsets.UTF_8))
    }
    Harness.log(Harness.fmt("%s seed %d: %d ops, cpu steal %.2f%%, correct=%s",
      workload, Long.box(seed), Long.box(out.attempted), Double.box(100 * stealShare), correct.toString))
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":${if (trace) metrics(PerLayer, layer) else metrics(EndToEnd, e2e)}}""")
    System.out.flush()
    sys.exit(0)
  }
}
