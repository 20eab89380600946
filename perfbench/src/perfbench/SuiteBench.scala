package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.IndexEvents
import graft.queries.{Ext, Learn, Pipeline, Rel, Warehouse}

/** A fixed stride over the query registry on the oracle corpus, each query
  * written to the noop sink. With almost no data, a pass costs what each
  * query costs to construct, plan and schedule.
  *
  * Shared relations (the dedup pair ladder, the ANN exact rankings, the
  * graph edges) are not staged ahead: the stride's queries build them on
  * first use, in this run's own temporary directory, so the cold pass pays
  * for them and no run reuses what an earlier process left behind.
  */
final class SuiteBench(spark: SparkSession, dataDir: String, seed: Long, work: File)
    extends Workload {
  import SuiteBench._

  val names: Seq[String] = select(seed)
  override def queryNames: Seq[String] = names
  private val registry = SparkEntry.queries

  def setup(): Double = {
    System.err.println(s"[perfbench] suite_small: ${names.mkString(" ")}")
    0.0
  }

  def unit(tracer: Option[Tracer]): UnitOut = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var failed = 0
    var cpu = 0.0
    for (name <- names) {
      val c0 = Stats.cpuSeconds()
      val t0 = System.nanoTime()
      def build() = registry(name)(spark, dataDir)
      def run(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      try tracer match {
        case None => run(build())
        case Some(tr) =>
          val (_, sp) = tr.span(build())(run)
          val c = sp.counts
          val group = groupOf(name)
          Seq("build_s" -> sp.buildS, "exec_s" -> sp.runS,
            "eager_jobs" -> sp.buildJobs.toDouble,
            "analysis_s" -> c.analysisMs / 1e3, "optimization_s" -> c.optimizationMs / 1e3,
            "planning_s" -> c.planningMs / 1e3, "jobs" -> c.jobs.toDouble,
            "stages" -> c.stages.toDouble, "tasks" -> c.tasks.toDouble,
            "exec_cpu_s" -> c.cpuNs / 1e9, "shuffle_bytes" -> c.shuffleBytes.toDouble,
            "spill_bytes" -> c.spillBytes.toDouble, "gc_s" -> c.gcMs / 1e3)
            .foreach { case (k, v) => layers(s"queries.$k") += v }
          Seq("build_s" -> sp.buildS, "exec_s" -> sp.runS, "jobs" -> c.jobs.toDouble)
            .foreach { case (k, v) => layers(s"queries.$group.$k") += v }
      }
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
      }
      walls += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] query $name ${walls.last}%.3f s")
      cpu += Stats.cpuSeconds() - c0
      // between queries, as graft.Bench does: lets the ContextCleaner
      // release the finished query's shuffle and broadcast state
      System.gc()
    }
    if (tracer.isDefined) Groups.foreach { case (g, _) =>
      Seq("build_s", "exec_s", "jobs").foreach(k => layers(s"queries.$g.$k") += 0.0)
    }
    UnitOut(walls.sum, cpu, walls.toSeq, names.size, failed, layers.toMap)
  }

  override def runLayers: Map[String, Double] = Map(
    "queries.index_built" -> IndexEvents.built.size.toDouble,
    "queries.index_reused" -> IndexEvents.reused.size.toDouble)

  /** Dumps the stride to parquet, as `graft.DumpMany` does, with the
    * oracle SQL beside it, for `tools/check.py` to compare after the run.
    * Done before the warm passes, it is one more pass over the stride for
    * JIT compilation to settle in. */
  override def settle(): (Int, Int) = {
    val dump = new File(work, "dump")
    var failed = 0
    for (name <- names)
      try registry(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(new File(dump, name).getPath)
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] dump of $name failed: $e")
      }
    val sql = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
      .map { case (n, q) => s"${Stats.json(n)}: ${Stats.json(q)}" }.mkString("{", ", ", "}")
    java.nio.file.Files.writeString(new File(dump, "oracle_sql.json").toPath, sql)
    (names.size, failed)
  }

  def finish(): (Int, Int) = {
    spark.stop()
    (0, 0)
  }
}

object SuiteBench {
  /** Every `Stride`-th query of the sorted registry, plus the first query
    * of any registering object the stride misses. */
  val Stride = 56

  /** The stride, in an order drawn from `seed`. The seed does not choose
    * the queries: their costs differ tenfold, so a seed-chosen subset would
    * spread the pass time far wider than any regression bound. */
  def select(seed: Long): Seq[String] = {
    val sorted = SparkEntry.queries.keys.toSeq.sorted
    val stride = sorted.indices.filter(_ % Stride == 0).map(sorted)
    val missing = Groups.collect { case (_, names) if !names.exists(stride.contains) => names.min }
    new scala.util.Random(seed).shuffle(stride ++ missing)
  }

  val Groups: Seq[(String, Set[String])] = Seq(
    "Rel" -> Rel.all.keySet, "Ext" -> Ext.all.keySet, "Warehouse" -> Warehouse.all.keySet,
    "Learn" -> Learn.all.keySet, "Pipeline" -> Pipeline.all.keySet)

  def groupOf(name: String): String = Groups.find(_._2.contains(name)).fold("other")(_._1)
}
