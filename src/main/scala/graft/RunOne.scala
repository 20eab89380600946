package graft


/** Focused timing loop for one query:
  * `runMain graft.RunOne <queryName> [sfDir] [reps]` — runs the query
  * `reps` times in one session (first run shows cold cost incl. JVM/
  * codegen warmup, later runs the warm cost), printing wall time, the
  * top stages by CPU ([[StageProbe]]) and the live-thread histogram
  * ([[ThreadProbe]]) each rep. The single-query complement to [[Bench]]
  * when iterating on one operator's plan — reads the SAME
  * `SPARK_GRAFT_CPUS` env with the same default, so its numbers are
  * comparable to the bench's.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Sessions.local(cpus)
    StageProbe.install(spark.sparkContext)
    (1 to reps).foreach { i =>
      StageProbe.reset()
      val t0 = System.nanoTime()
      // noop sink, not count() — the Bench r11+ convention: count() lets
      // Catalyst prune the very work being probed (unique-key left joins
      // eliminated, value arithmetic column-pruned), so probe numbers
      // here stay comparable to BENCH entries
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[graft] run $i: $name in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      StageProbe.printTop(s"run $i")
      ThreadProbe.printTop(s"run $i")
      System.gc()
    }
    spark.stop()
  }
}
