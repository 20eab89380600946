package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Stage
import graft.ops.{BlindZone, PatternExtraction, TrajectoryClustering}
import graft.sources.Csv

/** The paper's pipeline on a generated fleet. A unit runs from the CSV path
  * to the materialized graded result, the way `queries.Pipeline` stages
  * it: each stage's output is materialized before the next reads it.
  *
  * With a tracer, the CSV read is materialized as a layer of its own so
  * that ingest is timed apart from pattern extraction; that extra stage is
  * part of the measured tracing overhead.
  */
final class FleetBench(spark: SparkSession, seed: Long, work: File, state: File)
    extends Workload {
  import spark.implicits._
  import FleetBench._

  private val GpsSchema = StructType(Seq(
    StructField("id", StringType), StructField("linenumber", StringType),
    StructField("lng", DoubleType), StructField("lat", DoubleType),
    StructField("t", StringType)))
  private val ParamsSchema = StructType(Seq(
    StructField("new_linenumber", StringType), StructField("eps", DoubleType),
    StructField("min_samples", IntegerType)))

  private var dir: File = _
  private var truth: FleetTruth = _
  private val digests = mutable.LinkedHashSet.empty[String]

  /** Generates the fleet three times into fresh directories and keeps the
    * last; the median generation time is the set-up cost. */
  def setup(): Double = {
    val times = (0 until 3).map { k =>
      val d = new File(work, s"fleet-$k")
      val t0 = System.nanoTime()
      truth = Fleet.generate(Dense, seed, d)
      dir = d
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] fleet_dense: ${truth.rows} pings, " +
      s"${truth.segments.size} trajectories, ${truth.types.values.sum} segment types")
    Stats.median(times)
  }

  def unit(tracer: Option[Tracer]): UnitOut = {
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val stores = mutable.ArrayBuffer.empty[RDD[InternalRow]]
    def stage(layer: String)(build: => DataFrame): (DataFrame, Long) = {
      def run(df: DataFrame): (DataFrame, Long) = {
        val (frame, store) = Stage.materialize(df)
        stores += store
        (frame, store.count())
      }
      tracer match {
        case None => run(build)
        case Some(tr) =>
          val (out, sp) = tr.span(build)(run)
          layers ++= Seq(s"$layer.build_s" -> sp.buildS, s"$layer.run_s" -> sp.runS,
            s"$layer.eager_jobs" -> sp.buildJobs.toDouble,
            s"$layer.jobs" -> sp.counts.jobs.toDouble,
            s"$layer.tasks" -> sp.counts.tasks.toDouble,
            s"$layer.exec_cpu_s" -> sp.counts.cpuNs / 1e9,
            s"$layer.shuffle_bytes" -> sp.counts.shuffleBytes.toDouble,
            s"$layer.spill_bytes" -> sp.counts.spillBytes.toDouble,
            s"$layer.task_skew" -> sp.taskSkew)
          out
      }
    }

    val gc0 = Stats.gcSeconds()
    val c0 = Stats.cpuSeconds()
    val t0 = System.nanoTime()
    val gps = new File(dir, "gps").getPath
    val raw = tracer match {
      case None => Csv.read(spark, gps, GpsSchema)
      case Some(_) =>
        val (r, n) = stage("sources")(Csv.read(spark, gps, GpsSchema))
        layers("sources.rows") = n.toDouble
        r
    }
    val params = TrajectoryClustering.paramsFrom(
      Csv.read(spark, new File(dir, "params.csv").getPath, ParamsSchema))
    val (patterns, nPatternRows) = stage("pattern")(
      PatternExtraction.run(raw, busLine = None, cfg = PatternExtraction.Config(qualify = false)))
    val (clustered, _) = stage("cluster")(TrajectoryClustering.run(patterns, params))
    val (graded, nGraded) = stage("grade")(BlindZone.run(clustered))
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = Stats.cpuSeconds() - c0
    val gcS = Stats.gcSeconds() - gc0

    // untimed: outputs against the planted truth, and the output digest
    val problems = mutable.ArrayBuffer.empty[String]
    val perVehicle = patterns.groupBy("id").agg(countDistinct(col("patternID")))
      .as[(String, Long)].collect().toMap
    if (perVehicle.keySet != truth.gaps.keySet)
      problems += s"${perVehicle.size} vehicles out of ${truth.gaps.size}"
    val wrongPatterns = truth.gaps.count { case (id, g) => perVehicle.get(id).exists(_ != g + 1) }
    if (wrongPatterns > 0) problems += s"$wrongPatterns vehicles with patterns != gaps + 1"

    val segmentOf = truth.segments.map { case (l, id, p, s) => (l, id, p) -> s }.toMap
    val gradedTraj = graded.select("linenumber", "id", "patternID", "cluster").distinct()
      .as[(String, String, String, Int)].collect()
    val segsOfCluster = gradedTraj.groupBy(r => (r._1, r._4))
      .map { case (k, rs) => k -> rs.map(r => segmentOf.get((r._1, r._2, r._3))).distinct }
    val mixed = segsOfCluster.count(_._2.size != 1)
    if (mixed > 0) problems += s"$mixed qualified clusters mix segment types"
    val qualified = segsOfCluster.keys.groupBy(_._1).map { case (l, ks) => l -> ks.size }
    val wrongLines = truth.types.count { case (l, n) => qualified.getOrElse(l, 0) != n }
    if (wrongLines > 0) problems += s"$wrongLines lines without one qualified cluster per segment type"
    if (gradedTraj.length != truth.segments.size)
      problems += s"${gradedTraj.length} graded trajectories out of ${truth.segments.size}"

    val digest = graded.agg(count(lit(1)), sum(hash(col("linenumber"), col("id"),
      col("patternID"), col("t"), col("cluster"), col("signal"))))
      .as[(Long, Long)].head().toString
    digests += digest
    if (digests.size > 1) problems += s"output digest changed between units: ${digests.mkString(" ")}"
    problems.foreach(p => System.err.println(s"[perfbench] fleet_dense check failed: $p"))

    if (tracer.isDefined) {
      val trajectories = clustered.select("linenumber", "id", "patternID", "cluster").distinct()
        .as[(String, String, String, Int)].collect()
      val noiseRows = clustered.filter(col("cluster") === -1).count()
      val stats = TrajectoryClustering.lastStats
      def acc(f: TrajectoryClustering.PairScanStats => Long): Double =
        stats.fold(0.0)(f(_).toDouble)
      val pairs = acc(_.pairs.value)
      val evaluated = acc(_.evaluated.value)
      val coreStores = if (layers.contains("sources.rows")) stores.tail else stores
      layers("sources.read_s") =
        layers.getOrElse("sources.build_s", 0.0) + layers.getOrElse("sources.run_s", 0.0)
      layers ++= Seq(
        "pattern.rows_out" -> nPatternRows.toDouble,
        "pattern.patterns" -> perVehicle.values.sum.toDouble,
        "cluster.distributed" -> (if (stats.isDefined) 1.0 else 0.0),
        "cluster.trajectories" -> trajectories.length.toDouble,
        "cluster.pairs" -> pairs,
        "cluster.pairs_pruned" -> acc(_.pruned.value),
        "cluster.prune_ratio" -> (if (pairs == 0) 0.0 else acc(_.pruned.value) / pairs),
        "cluster.pairs_evaluated" -> evaluated,
        "cluster.edges" -> acc(_.edges.value),
        "cluster.edge_ratio" -> (if (evaluated == 0) 0.0 else acc(_.edges.value) / evaluated),
        "cluster.clusters" -> trajectories.filter(_._4 >= 0).map(r => (r._1, r._4)).distinct.length.toDouble,
        "cluster.noise_rows" -> noiseRows.toDouble,
        "grade.clusters_qualified" -> segsOfCluster.size.toDouble,
        "grade.rows_graded" -> nGraded.toDouble,
        "core.gc_s" -> gcS,
        "core.stored_bytes" -> coreStores.map(storedOf).sum.toDouble)
    }
    stores.foreach(_.unpersist(blocking = true))
    UnitOut(wallS, cpuS, Seq(wallS), attempted = 2, failed = if (problems.isEmpty) 0 else 1,
      layers.toMap)
  }

  private def storedOf(s: RDD[InternalRow]): Long =
    spark.sparkContext.getRDDStorageInfo.find(_.id == s.id).fold(0L)(i => i.memSize + i.diskSize)

  /** The digest must also match earlier runs of the same seed in this
    * checkout: the first run records it, later runs compare. */
  def finish(): (Int, Int) = {
    spark.stop()
    state.mkdirs()
    val f = new File(state, s"fleet_dense-$seed.digest")
    val mine = digests.mkString(" ")
    val ok =
      if (f.exists()) java.nio.file.Files.readString(f.toPath).trim == mine
      else { java.nio.file.Files.writeString(f.toPath, mine + "\n"); true }
    if (!ok) System.err.println(s"[perfbench] fleet_dense: digest differs from an earlier run of seed $seed")
    (1, if (ok) 0 else 1)
  }
}

object FleetBench {
  /** One long line whose 60 buses make 3,000 trajectories, so the pair
    * count (Σ T² = 9M) exceeds the clustering's local-path limit (4M) and
    * the salted distributed pair scan, DBSCAN and bin packing run; cluster
    * is then the costliest stage. */
  val Dense = FleetShape(lines = 1, buses = 60, trips = 10, interiorZones = 4, routeM = 6300)
}
