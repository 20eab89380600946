package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Size of a generated fleet. Every line runs `buses` vehicles, each driving
  * `trips` one-way trips (even, starting outbound) along a straight route
  * of `routeM` metres with `interiorZones` blind zones between the termini.
  */
final case class FleetShape(lines: Int, buses: Int, trips: Int,
                            interiorZones: Int, routeM: Double)

/** What the generator planted, in the terms the pipeline reports.
  *
  * @param gaps      planted signal-loss gaps per vehicle id
  * @param segments  one row per planted trajectory:
  *                  (linenumber, id, patternID, segment key)
  * @param types     distinct segment keys per line; each must come back as
  *                  exactly one qualified cluster
  * @param rows      pings written
  */
final case class FleetTruth(gaps: Map[String, Int],
                            segments: Seq[(String, String, String, String)],
                            types: Map[String, Int],
                            rows: Long)

/** Seeded, single-process GPS fleet generator with planted blind zones.
  *
  * Geometry. Each line is a straight route with two one-way lanes 600 m
  * apart. Blind zones (no pings) cover both lanes at each terminus, where
  * buses cross between lanes and lay over, and at `interiorZones` places
  * along the route. A bus starts its day inside the first terminus zone
  * and ends it on entering a terminus zone, so the pipeline's trajectories
  * are exactly the stretches between zones, travelled in one direction.
  *
  * The planted truth mirrors the pipeline's documented semantics rather
  * than re-running it:
  *  - a gap is the first ping after a suppressed stretch; ping intervals
  *    (3–7 s) and speeds (4.5–6 m/s) keep every ordinary step below the
  *    stage-1 distance guard, while every zone displaces a bus by more
  *    than it, and gaps stay under 5% of a vehicle's pings so the 95th
  *    percentile threshold is an ordinary interval;
  *  - the gap ping closes the pattern it interrupts, so a trajectory runs
  *    from the second ping after one zone to the first ping after the
  *    next. A trip's last stretch therefore ends on the other lane, except
  *    at the end of the day, which makes the day's final stretch a segment
  *    type of its own;
  *  - coordinates are unique per vehicle, so stage 1's dedup drops nothing.
  * Same-type trajectories lie within ~0.25 km of each other in the
  * TRACLUS distance and different types more than 0.59 km apart, so with
  * eps in [0.35, 0.5] km each type is one DBSCAN cluster that every bus of
  * the line visits, which the 75% coverage gate qualifies.
  */
object Fleet {
  private val LaneOffsetM = 300.0
  private val TerminusM = 300.0
  /** CSV part files, so the scan has several input partitions. */
  private val Files = 8
  private val MPerDegLat = 111194.93 // great circle, R = 6371.009 km

  /** Writes `gps/part-NNN.csv` (id, linenumber, lng, lat, t; mixed `yy-` and
    * `yyyy-` timestamps) and `params.csv` (new_linenumber, eps, min_samples)
    * under `dir`, and returns the planted truth. */
  def generate(shape: FleetShape, seed: Long, dir: File): FleetTruth = {
    require(shape.trips >= 4 && shape.trips % 2 == 0, "trips must be even and >= 4")
    val master = new SplittableRandom(seed)
    val gpsDir = new File(dir, "gps")
    gpsDir.mkdirs()
    val outs = Array.tabulate(Files) { f =>
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(gpsDir, f"part-$f%03d.csv")), StandardCharsets.UTF_8),
        1 << 16)
      w.write("id,linenumber,lng,lat,t\n")
      w
    }
    val params = new StringBuilder("new_linenumber,eps,min_samples\n")
    val gaps = Map.newBuilder[String, Int]
    val segments = Seq.newBuilder[(String, String, String, String)]
    var rows = 0L
    var vehicle = 0
    val sb = new java.lang.StringBuilder(64)

    for (l <- 0 until shape.lines) {
      val rng = master.split()
      val line = f"L$l%04d"
      val lat0 = 22.45 + rng.nextDouble() * 0.2
      val lng0 = 113.85 + rng.nextDouble() * 0.3
      val heading = rng.nextDouble() * 2 * math.Pi
      val (ux, uy) = (math.cos(heading), math.sin(heading))
      val mPerDegLng = MPerDegLat * math.cos(math.toRadians(lat0))
      val zones = (1 to shape.interiorZones).map { i =>
        val c = shape.routeM * i / (shape.interiorZones + 1) + (rng.nextDouble() - 0.5) * 300
        val half = 175 + rng.nextDouble() * 100
        (c - half, c + half)
      }
      def interiorPassed(s: Double, outbound: Boolean): Int =
        if (outbound) zones.count(_._2 < s) else zones.count(_._1 > s)
      def inZone(s: Double): Boolean = zones.exists { case (a, b) => s >= a && s <= b }
      val eps = 0.35 + rng.nextInt(151) / 1000.0
      // every bus contributes one day-end stretch, so a line's smallest
      // segment type has `buses` members
      val minSamples = 2 + rng.nextInt(math.min(3, shape.buses - 1))
      params.append(line).append(',').append(eps).append(',').append(minSamples).append('\n')

      for (b <- 0 until shape.buses) {
        val id = f"V$l%04d$b%03d"
        val out = outs(vehicle % Files)
        vehicle += 1
        val seen = new java.util.HashSet[java.lang.Long]()
        var t = 5 * 3600L + b * 45L + rng.nextInt(60)
        var afterGap = false
        var first = true
        var prevAfterGap = false
        val keys = scala.collection.mutable.ArrayBuffer.empty[String]
        var nGaps = 0
        for (trip <- 0 until shape.trips) {
          val outbound = trip % 2 == 0
          val lane = if (outbound) LaneOffsetM else -LaneOffsetM
          val v = 4.5 + rng.nextDouble() * 1.5
          val tripM = shape.routeM - 2 * TerminusM
          var d = 0.0
          var running = true
          while (running) {
            val dt = 3 + rng.nextInt(5)
            t += dt
            d += v * dt
            if (d >= tripM) running = false
            else {
              val s = if (outbound) TerminusM + d else shape.routeM - TerminusM - d
              if (inZone(s)) afterGap = !first
              else {
                // pattern numbering as stage 1 does it: a new pattern starts
                // at an ordinary ping that follows a gap ping
                if (first || (!afterGap && prevAfterGap))
                  keys += s"${if (outbound) "out" else "in"}-${interiorPassed(s, outbound)}"
                if (afterGap) nGaps += 1
                var lngE6, latE6 = 0L
                var fresh = false
                while (!fresh) {
                  val off = lane + (rng.nextDouble() - 0.5) * 8
                  val x = s * ux - off * uy
                  val y = s * uy + off * ux
                  lngE6 = math.round((lng0 + x / mPerDegLng) * 1e6)
                  latE6 = math.round((lat0 + y / MPerDegLat) * 1e6)
                  fresh = seen.add(lngE6 * 1000000000L + latE6)
                }
                sb.setLength(0)
                sb.append(id).append(',').append(line).append(',')
                appendE6(sb, lngE6).append(',')
                appendE6(sb, latE6).append(',')
                appendTime(sb, t, twoDigitYear = rng.nextInt(10) < 3).append('\n')
                out.write(sb.toString)
                rows += 1
                prevAfterGap = afterGap
                afterGap = false
                first = false
              }
            }
          }
          // terminus zone: lay over, cross lanes; the next ping is a gap
          afterGap = true
          t += 120 + rng.nextInt(180)
        }
        // no gap ping closes the day's last stretch, so it is a type of its own
        keys(keys.size - 1) += "-dayend"
        keys.zipWithIndex.foreach { case (k, i) =>
          segments += ((line, id, (i + 1).toString, k))
        }
        gaps += id -> nGaps
      }
    }
    outs.foreach(_.close())
    java.nio.file.Files.writeString(new File(dir, "params.csv").toPath, params.toString)
    val segs = segments.result()
    FleetTruth(gaps.result(), segs,
      segs.groupBy(_._1).map { case (l, ss) => l -> ss.map(_._4).distinct.size }, rows)
  }

  private def appendE6(sb: java.lang.StringBuilder, v: Long): java.lang.StringBuilder = {
    val a = math.abs(v)
    if (v < 0) sb.append('-')
    sb.append(a / 1000000).append('.')
    val frac = (a % 1000000).toString
    var pad = 6 - frac.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(frac)
  }

  /** 2021-03-15 plus `secs`, as `yy-MM-dd HH:mm:ss` or `yyyy-MM-dd HH:mm:ss`. */
  private def appendTime(sb: java.lang.StringBuilder, secs: Long,
                         twoDigitYear: Boolean): java.lang.StringBuilder = {
    require(secs < 86400L, "a fleet day must end before midnight")
    def two(n: Long): Unit = { if (n < 10) sb.append('0'); sb.append(n) }
    sb.append(if (twoDigitYear) "21-03-15 " else "2021-03-15 ")
    two(secs / 3600); sb.append(':'); two(secs / 60 % 60); sb.append(':'); two(secs % 60)
    sb
  }
}
