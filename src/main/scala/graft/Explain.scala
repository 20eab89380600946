package graft

/** Plan dumper: `runMain graft.Explain <outDir> [name...]` — writes each
  * named query's `explain("formatted")` output to `<outDir>/<name>.txt`,
  * every registered query when no name is given, in ONE JVM (one
  * sbt+JVM startup for a whole plan audit). Same session recipe as the
  * other mains; the corpus is `$SPARK_GRAFT_SF_DIR`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val plan =
        try {
          val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
          qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        } catch {
          case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}"
        }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$name.txt"), plan)
      println(s"[explain] wrote $name")
    }
    spark.stop()
  }
}
