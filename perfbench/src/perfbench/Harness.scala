package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.PhaseLog

import Stats.fullGc

/** One timed unit: a pipeline run on a fleet, a pass over the stride on the
  * query suite. `queryS` holds the wall time of each query in it. */
final case class UnitOut(wallS: Double, cpuS: Double, queryS: Seq[Double],
                         attempted: Int, failed: Int, layers: Map[String, Double])

trait Workload {
  /** Prepares the inputs; returns the seconds that preparation costs. */
  def setup(): Double
  def unit(tracer: Option[Tracer]): UnitOut
  /** Registry queries a unit runs, for the oracle check after the run. */
  def queryNames: Seq[String] = Nil
  /** Untimed work between the cold unit and the warm units, as
    * (attempted, failed). */
  def settle(): (Int, Int) = (0, 0)
  /** Per-layer figures that belong to the run rather than to a unit. */
  def runLayers: Map[String, Double] = Map.empty
  /** Untimed checks after the last unit, as (attempted, failed). Stops
    * the session. */
  def finish(): (Int, Int)
}

/** The benchmark process. Arguments (all required):
  * `--workload fleet_dense|suite_small --seed N --seconds S
  *  --trace 0|1 --cpus N --work DIR --state DIR --data DIR --out FILE`.
  *
  * Set-up is timed from JVM start to inputs ready; then come one cold
  * unit, the workload's untimed settling step, and warm units until
  * `--seconds` have passed since the cold unit began.
  * With `--trace 1` the warm units alternate untraced and traced, and the
  * per-layer figures come from the traced ones. Writes every figure as one
  * JSON object to `--out`.
  */
object Harness {
  /** Exits explicitly, so no lingering non-daemon thread can keep the JVM
    * alive past its result. */
  def main(args: Array[String]): Unit =
    try { run(args); sys.exit(0) }
    catch { case e: Throwable =>
      e.printStackTrace()
      sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val machineStart = Seq("machine.load_avg" -> Machine.loadAverage,
      "machine.alu_start_s" -> Machine.aluSeconds(cpus),
      "machine.mem_start_s" -> Machine.memSeconds(cpus))

    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.local(cpus.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val work = new File(opt("work"))
    val w: Workload = opt("workload") match {
      case "fleet_dense" => new FleetBench(spark, seed, work, new File(opt("state")))
      case "suite_small" => new SuiteBench(spark, opt("data"), seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = bootS + sessionS + w.setup()

    var attempted = 0
    var failed = 0
    val heapMb = mutable.ArrayBuffer.empty[Double]
    def runUnit(tracer: Option[Tracer]): Option[UnitOut] = {
      tracer.foreach(_.attach())
      val out =
        try Some(w.unit(tracer))
        catch { case e: Exception =>
          System.err.println(s"[perfbench] unit failed: $e")
          e.printStackTrace()
          None
        }
        finally tracer.foreach(_.detach())
      attempted += out.fold(1)(_.attempted)
      failed += out.fold(1)(_.failed)
      fullGc()
      heapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      out.foreach(o => System.err.println(
        f"[perfbench] unit ${if (tracer.isDefined) "traced" else "untraced"} wall ${o.wallS}%.3f s " +
          f"cpu ${o.cpuS}%.3f s heap ${heapMb.last}%.1f MB"))
      out
    }

    val measureStart = System.nanoTime()
    val cold = runUnit(None)
    val (settleAttempted, settleFailed) =
      try w.settle()
      catch { case e: Exception =>
        System.err.println(s"[perfbench] settling failed: $e")
        (1, 1)
      }
    attempted += settleAttempted
    failed += settleFailed
    fullGc()
    val warm = mutable.ArrayBuffer.empty[UnitOut]
    val warmTraced = mutable.ArrayBuffer.empty[UnitOut]
    val tracer = if (traced) Some(new Tracer(spark)) else None
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    var i = 0
    while (elapsed < seconds || i < (if (traced) 2 else 1)) {
      if (traced && i % 2 == 1) warmTraced ++= runUnit(tracer)
      else warm ++= runUnit(None)
      i += 1
    }
    val runLayers = w.runLayers
    val (chkAttempted, chkFailed) = w.finish()
    attempted += chkAttempted
    failed += chkFailed

    val machineEnd = Seq("machine.alu_end_s" -> Machine.aluSeconds(cpus),
      "machine.mem_end_s" -> Machine.memSeconds(cpus))
    val queryS = warm.flatMap(_.queryS).toSeq
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "cold_s" -> cold.fold(Double.NaN)(_.wallS),
      "warm_s" -> Stats.median(warm.map(_.wallS).toSeq),
      "warm_cpu_s" -> Stats.median(warm.map(_.cpuS).toSeq),
      "retained_heap_mb" -> heapMb.max,
      "query_p50_s" -> Stats.quantile(queryS, 0.5),
      "query_p95_s" -> Stats.quantile(queryS, 0.95))
    val layers = machineStart ++ machineEnd ++ (
      if (!traced) Seq.empty
      else {
        val keys = warmTraced.flatMap(_.layers.keys).distinct
        keys.map(k => k -> Stats.median(warmTraced.flatMap(_.layers.get(k)).toSeq)).toSeq ++
          runLayers :+
          ("trace.overhead_s" ->
            (Stats.median(warmTraced.map(_.wallS).toSeq) - Stats.median(warm.map(_.wallS).toSeq)))
      })
    val json = (endToEnd ++ layers).map { case (k, v) => s""""$k": ${Stats.num(v)}""" }
      .mkString("{", ", ", "}")
    val detail = s"""{"attempted": $attempted, "failed": $failed, "warm_units": ${warm.size}, """ +
      s""""traced_units": ${warmTraced.size}, "metrics": $json, """ +
      w.queryNames.map(Stats.json).mkString("\"queries\": [", ", ", "]}")
    java.nio.file.Files.writeString(new File(opt("out")).toPath, detail + "\n")
  }
}

object Stats {
  /** A full GC, a pause for Spark's ContextCleaner to release what the GC
    * freed (cached blocks, broadcasts), and a second full GC. */
  def fullGc(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
  }

  /** A JSON string literal. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between order statistics; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def cpuSeconds(): Double = PhaseLog.cpuNanos() / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}
