package graft.tools

/** Plan-only census: parquet-scan count per gate (no execution except
  * what gate construction itself does). High counts flag the
  * fan-out-re-evaluation bug class — a derived relation feeding N lazy
  * branches re-scans its raw input N times unless checkpointed
  * (graph_bfs_distances 4×, events_cusum 4×, madOutliers 3× were all
  * found this way). Streaming/staged gates execute real work on
  * construction, so they're skipped.
  */
object ScanCensus {
  def main(args: Array[String]): Unit = {
    val s = graft.GateSession()
    s.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val skip = Set("catalog_tool_schemas")
    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) =>
        n.startsWith("stream_") || n.startsWith("store_") ||
          n.startsWith("pipeline_") || n.startsWith("source_") ||
          skip(n)
      }
      .flatMap { case (n, fn) =>
        try {
          val p = fn(s, d).queryExecution.executedPlan.toString
          val scans = p.linesIterator.count(_.contains("Scan parquet"))
          val cached = p.linesIterator.count(_.contains("InMemoryTableScan"))
          // a cached relation's child plan prints once per reference, so
          // plans with InMemoryTableScans over-count raw scans wildly —
          // report both and only worry about high scans with ZERO caches
          Some((n, scans, cached))
        } catch { case e: Throwable =>
          println(s"CENSUS_ERR $n ${e.getClass.getSimpleName}"); None
        }
      }
    rows.filter(_._3 == 0).sortBy(-_._2).take(25).foreach { case (n, c, _) =>
      println(f"CENSUS_UNCACHED $c%3d  $n")
    }
    s.stop()
  }
}
