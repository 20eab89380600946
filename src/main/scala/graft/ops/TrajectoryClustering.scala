package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stage 2 — per-line trajectory clustering, re-expressed Spark-first.
  *
  * The reference runs this as PySpark: trajectories assembled with an
  * order-dependent `collect_list` (`Parallel/Trajectory
  * Clustering.py:143–145`), pairwise distances through a Python row UDF,
  * and per-line sklearn DBSCAN inside a pandas grouped-map UDF
  * (`Standalone/Trajectory Clustering.py:143–191`) — every row crossing
  * JVM↔Python. Here the whole stage is native:
  *
  *  - assembly sorts the collected points by time (`array_sort` on a
  *    (t,lng,lat) struct) — the reference silently depends on read order,
  *    a latent nondeterminism fixed, not copied (SURVEY.md §7.4);
  *  - per-line grouping is `groupByKey(...).flatMapGroups` with the
  *    distance matrix + [[Dbscan]] computed in-JVM;
  *  - per-line (eps, minSamples) parameters ride a broadcast map instead
  *    of a driver dict captured in Python closures.
  *
  * Scale: the O(T²) matrix is per line (T = trajectories of ONE bus line
  * on one day — hundreds, not millions). Lines differ wildly in T, so at
  * cluster scale pair this with [[Balance.costBalancedRepartition]] keyed
  * on T² so one executor doesn't serialize all heavy lines.
  */
object TrajectoryClustering {

  /** Per-line DBSCAN parameters (reference `lines95_parameter.csv`). */
  final case class Params(eps: Double, minSamples: Int)

  /** Instrumentation of the distributed pair scan (r9 verdict #1: "does
    * the trig-free bound actually fire at sf1g?" must be answerable from
    * a log line, not a guess). Accumulators double-count recomputed or
    * retried tasks BY DESIGN — `pairs` drifting above the Σ T²/2 floor is
    * itself the diagnostic for lineage recompute of the pair grid. */
  final class PairScanStats(sc: org.apache.spark.SparkContext)
      extends Serializable {
    val summaries = sc.longAccumulator("bz_summaries")
    val pairs = sc.longAccumulator("bz_pairs")
    val pruned = sc.longAccumulator("bz_pruned")
    val evaluated = sc.longAccumulator("bz_evaluated")
    val edges = sc.longAccumulator("bz_edges")
    val nans = sc.longAccumulator("bz_nan_pairs")
    def line: String = {
      val p = pairs.value
      val hit = if (p == 0) 0.0 else pruned.value.toDouble / p
      f"summaries=${summaries.value} pairs=$p pruned=${pruned.value} " +
        f"(hit=$hit%.3f) evaluated=${evaluated.value} " +
        f"edges=${edges.value} nan=${nans.value}"
    }
  }

  /** Stats of the most recent [[cluster]] call in this JVM (None when the
    * small-input local path ran) — read AFTER an action has consumed the
    * clustering, e.g. by the pipeline's PhaseLog. */
  @volatile var lastStats: Option[PairScanStats] = None

  /** The parameter-table ingestion the reference does inline — params CSV
    * collected into a driver dict (TC-S:36–39, TC-P:43–46) — as a
    * reusable helper: any `(linenumber|new_linenumber, eps, min_samples)`
    * frame becomes the broadcastable map [[cluster]] consumes. Rows with
    * null eps/min_samples are dropped here; lines absent from the map
    * are skipped at use time exactly like the reference (TC-S:157).
    * Driver-sized by contract: one row per bus line. */
  def paramsFrom(df: org.apache.spark.sql.DataFrame): Map[String, Params] = {
    val key =
      if (df.columns.contains("linenumber")) "linenumber" else "new_linenumber"
    df.select(col(key).cast("string"), col("eps").cast("double"),
        col("min_samples").cast("int"))
      .na.drop()
      .collect()
      .map(r => r.getString(0) -> Params(r.getDouble(1), r.getInt(2)))
      .toMap
  }

  /** Assemble time-ordered trajectories:
    * (linenumber, id, patternID) → array<struct<lng,lat>>. */
  def assemble(patterns: DataFrame): DataFrame =
    patterns
      .groupBy(col("linenumber"), col("id"), col("patternID").cast("string").as("patternID"))
      .agg(array_sort(collect_list(struct(col("t"), col("lng"), col("lat")))).as("_tpts"))
      .withColumn("points",
        transform(col("_tpts"), p => struct(
          p.getField("lng").cast("double").as("lng"),
          p.getField("lat").cast("double").as("lat"))))
      .drop("_tpts")

  /** Ways the distributed pair scan salts each line (see [[cluster]]). */
  private val PairSalts = 16

  /** Cluster each line's trajectories; returns
    * `(linenumber, id, patternID, cluster)` with −1 = noise.
    *
    * Reference behaviors preserved: lines with no parameters are skipped
    * (their rows get null cluster after [[attach]], TC-S:153–155); a
    * line whose clustering throws falls back to all-zeros
    * (TC-P:309–312); non-finite pair distances are clamped to 2× the max
    * finite distance (TC-P:298–303).
    *
    * Scale design (round-2 rework — parallelism used to be capped at
    * #lines by a single `groupByKey(line).flatMapGroups`):
    *
    *  1. The TRACLUS total distance reads only each trajectory's chord
    *     endpoints and polyline length ([[TrajectoryDistance]] — endpoint
    *     projection + angular term), so each trajectory reduces to a
    *     7-field summary before any pairing. Point arrays never enter the
    *     pair stage.
    *  2. The O(T²) pair grid is a SALTED equi-join over those summaries
    *     (probe keyed by `tid % PairSalts`, build side replicated
    *     `PairSalts` ways): one giant line's pair work spreads over
    *     `PairSalts` tasks instead of serializing in one — the "sub-split
    *     oversized lines" the reference's driver-side bin-packing
    *     (TC-P:60–136) could not do. Replication is of 56-byte summary
    *     rows, not data.
    *  3. Only the DBSCAN scan itself — irreducibly whole-line state under
    *     the reference's semantics — runs per line, fed by a cogroup.
    *     Round 3: the cogroup is keyed by COST-BALANCED BIN, not raw
    *     line — per-line pair counts (T²) feed [[Balance.plan]] and the
    *     bins map to hash-distinct labels
    *     ([[Balance.hashDistinctLabels]]), so a hot line gets a dedicated
    *     shuffle partition instead of hash-colliding behind other heavy
    *     lines. Round 7: the cogroup receives the eps-NEIGHBORHOOD GRAPH,
    *     not the full T×T matrix — the pair scan drops finite d > eps
    *     before the shuffle (plus NaN pairs and per-partition max-finite
    *     sentinels so the non-finite clamp rule is decided exactly), and
    *     [[Dbscan.fitAdjacency]] consumes adjacency lists with semantics
    *     identical to the matrix scan. At 10× trajectories the old
    *     matrix path moved and scanned 100× the bytes through ≤#lines
    *     tasks; the graph path moves only real edges.
    *
    * Small-input hybrid (same reasoning as
    * `Dedup.connectedComponents`'s union-find branch): when the total
    * pair count — known from a cheap per-line count over the (cached,
    * per the class contract) input — is at most `maxLocalPairs`, the
    * salted join + cogroup machinery would spend ~4 shuffle barriers
    * orchestrating work that fits comfortably in one task per line, so
    * a direct `groupByKey(line).flatMapGroups` computes the identical
    * summaries/distances/DBSCAN in-JVM. Same tid order (UTF8 binary,
    * matching the window sort), same 2-point-summary distances —
    * `TrajectoryClusteringSpec` asserts both paths bit-equal.
    */
  def cluster(patterns: DataFrame, params: Map[String, Params],
              maxLocalPairs: Long = 4000000L): DataFrame = {
    val assembled = assemble(patterns)
    val spark = assembled.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(params)

    // per-line trajectory counts (one pass over the cached input): drives
    // the small-input branch AND the DBSCAN-stage bin placement. Collected
    // set is O(#lines) — per-key aggregate scale, the Balance contract.
    val lineCounts: Array[(String, Long)] = patterns
      .select(col("linenumber").cast("string").as("line"),
        col("id").cast("string").as("id"),
        col("patternID").cast("string").as("patternID"))
      .groupBy(col("line"))
      .agg(countDistinct(col("id"), col("patternID")).as("t"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .filter { case (l, _) => params.contains(l) }
      .sortBy(_._1)
    val totalPairs = lineCounts.map { case (_, t) => t * t }.sum

    if (totalPairs <= maxLocalPairs) {
      lastStats = None
      return clusterLocal(assembled, bc)
    }
    val stats = new PairScanStats(spark.sparkContext)
    lastStats = Some(stats)

    // dense per-line trajectory index in deterministic (id, patternID)
    // order — the reference relies on pandas groupby order; this pins it
    val byLine = Window.partitionBy(col("line")).orderBy(col("id"), col("patternID"))
    // roster branches twice (summaries + the DBSCAN-side roster) and
    // summaries branches twice more (probe + build), so the assemble +
    // window lineage is scanned up to 4×. Deliberately NOT persisted here:
    // a Dataset-level persist inside a library operator pins CacheManager
    // entries the caller can never release (every call would leak cached
    // blocks). Callers running the stage repeatedly should persist the
    // PATTERNS input (as queries.Pipeline does), which bounds the rescans
    // to the cheap assemble+summarize projections.
    val roster = assembled.select(
        col("linenumber").cast("string").as("line"),
        col("id").cast("string").as("id"),
        col("patternID"), col("points"))
      .withColumn("tid", (row_number().over(byLine) - 1).cast("int"))

    // O(1)-per-pair summary: chord endpoints + polyline length; lines
    // without parameters drop out before any pair is formed (TC-S:153)
    val summaries = roster
      .select(col("line"), col("tid"),
        transform(col("points"), p => p.getField("lng")).as("lngs"),
        transform(col("points"), p => p.getField("lat")).as("lats"))
      .as[(String, Int, Seq[Double], Seq[Double])]
      .flatMap { case (line, tid, lngs, lats) =>
        if (!bc.value.contains(line)) None
        else {
          val pts = lngs.lazyZip(lats).map { (g, a) =>
            TrajectoryDistance.P(g, a) }.toIndexedSeq
          stats.summaries.add(1L)
          Some((line, tid, pts.head.lng, pts.head.lat,
            pts.last.lng, pts.last.lat, TrajectoryDistance.lengthKm(pts)))
        }
      }
      .toDF("line", "tid", "hlng", "hlat", "llng", "llat", "len")

    def packed(side: String) = array(
      col(s"$side.hlng"), col(s"$side.hlat"),
      col(s"$side.llng"), col(s"$side.llat"), col(s"$side.len"))
    // EXPLICIT user-numbered repartition on the pair-join key (r9): the
    // summaries relation is byte-TINY while the join's output is
    // QUADRATIC in it, so AQE's byte-based partition coalescing folds
    // the (line × salt) cells into one or two tasks and serializes the
    // whole pair scan (measured at 10× data: stage wall 37 s at
    // parallelism ~1.5 → 10.6 s at ~9 once the shuffle keeps its
    // width). REPARTITION_BY_NUM is the one shuffle origin AQE never
    // coalesces — the salt fan-out keeps its task grid, and the join
    // needs no further exchange since both sides arrive partitioned on
    // exactly the join key.
    val numParts = spark.sessionState.conf.numShufflePartitions
    val probe = summaries.withColumn("salt", pmod(col("tid"), lit(PairSalts)))
      .repartition(numParts, col("line"), col("salt"))
    val build = summaries.withColumn("salt",
      explode(sequence(lit(0), lit(PairSalts - 1))))
      .repartition(numParts, col("line"), col("salt"))
    // DBSCAN's output depends only on each point's eps-NEIGHBORHOOD set
    // (see Dbscan.fitAdjacency), so only pairs that can be edges cross
    // the wire: the pair scan keeps (i) finite d <= eps — real edges —
    // (ii) non-finite pairs (whose edge-ness is the clamp rule, decided
    // per line downstream), and (iii) one per-partition max-finite-d
    // sentinel row per line (i = -1), from which the cogroup task
    // reconstructs the line's global maxFinite for that clamp. Dropping
    // the d > eps majority here is what turns the cogroup's O(T²) matrix
    // feed into an O(edges) graph feed.
    // SHUFFLED-HASH, not sort-merge (r10, found by StageProbe): every
    // (line, salt) cell is ONE duplicate-heavy join key, and SMJ buffers
    // the whole build group per key in an ExternalAppendOnlyUnsafeRowArray
    // that it re-scans once per probe row — if the buffer tips into a
    // disk spill (execution memory still held by a previous query's
    // blocks — nondeterministic in a warm JVM), every one of the T·T/salt
    // rescans deserializes from disk and the stage's CPU explodes ~20×
    // on IDENTICAL work (measured 48 vs 965 CPU-s rep to rep at 10×
    // data, same accumulator counts). The hash build holds the cell's
    // tiny summary rows in one per-task map, probes stream — no per-key
    // buffer, no rescan, no spill cliff.
    val triples = probe.as("a")
      .join(build.as("b").hint("shuffle_hash"),
        col("a.line") === col("b.line") && col("a.salt") === col("b.salt") &&
          col("a.tid") < col("b.tid"))
      .select(col("a.line").as("line"), col("a.tid").as("i"),
        col("b.tid").as("j"), packed("a").as("sa"), packed("b").as("sb"))
      .as[(String, Int, Int, Seq[Double], Seq[Double])]
      .mapPartitions { it =>
        // HAND-ROLLED iterator, not flatMap/Option/++ (r10): this is the
        // hottest loop in the pipeline (one call per grid pair), and the
        // Scala Iterator combinators route every element through
        // dispatch sites a many-query JVM has made megamorphic — plus an
        // Option allocation per pair. One while-loop advance keeps the
        // body monomorphic and allocation-free on the (majority) pruned
        // and dropped paths. Semantics identical: kept pairs in input
        // order, then one max-finite sentinel per line (emitted only
        // after the input is exhausted, as the old by-name `++` did).
        new scala.collection.AbstractIterator[(String, Int, Int, Double)] {
          private val maxFin =
            scala.collection.mutable.HashMap.empty[String, Double]
          private var sentinels: Iterator[(String, Int, Int, Double)] = null
          private var nxt: (String, Int, Int, Double) = null
          private def advance(): Unit = {
            nxt = null
            while (nxt == null && it.hasNext) {
              val (line, i, j, sa, sb) = it.next()
              stats.pairs.add(1L)
              val eps = bc.value(line).eps
              // trig-free sound lower bound first (r9): a pair that
              // provably exceeds eps skips the full trig evaluation. Its
              // lb still feeds the max-finite tracker — lb ≤ d, and the
              // only consumer is the `2·maxFinite ≤ eps` clamp test,
              // where ANY witness > eps pins the same (false) outcome as
              // the true maximum; with zero pruned pairs the tracker is
              // exactly the old one. NaN coords make lb NaN → never
              // pruned → the clamp path sees them unchanged.
              val lb = TrajectoryDistance.lowerBoundKm(
                sa(0), sa(1), sa(2), sa(3), sb(0), sb(1), sb(2), sb(3))
              if (lb > eps) {
                stats.pruned.add(1L)
                if (lb > maxFin.getOrElse(line, 0.0)) maxFin(line) = lb
              } else {
                stats.evaluated.add(1L)
                // 2-point summary trajectories reproduce the full
                // distance bit-for-bit: every term reads head/last/length
                val tr1 = IndexedSeq(
                  TrajectoryDistance.P(sa(0), sa(1)),
                  TrajectoryDistance.P(sa(2), sa(3)))
                val tr2 = IndexedSeq(
                  TrajectoryDistance.P(sb(0), sb(1)),
                  TrajectoryDistance.P(sb(2), sb(3)))
                val d = TrajectoryDistance.totalWithLengths(
                  tr1, tr2, sa(4), sb(4))
                if (java.lang.Double.isFinite(d)) {
                  if (d > maxFin.getOrElse(line, 0.0)) maxFin(line) = d
                  if (d <= eps) { stats.edges.add(1L); nxt = (line, i, j, d) }
                } else { stats.nans.add(1L); nxt = (line, i, j, Double.NaN) }
              }
            }
            if (nxt == null) {
              if (sentinels == null)
                sentinels = maxFin.iterator
                  .map { case (l, m) => (l, -1, -1, m) }
              if (sentinels.hasNext) nxt = sentinels.next()
            }
          }
          advance()
          def hasNext: Boolean = nxt != null
          def next(): (String, Int, Int, Double) = {
            val r = nxt; advance(); r
          }
        }
      }

    // cost-balanced DBSCAN placement: per-line pair cost T² bin-packed
    // (outlier lines get dedicated bins), bins mapped to hash-distinct
    // labels so the cogroup's ordinary hash shuffle realizes the exact
    // placement. AQE may still coalesce byte-SMALL bins' partitions —
    // acceptable by construction: this operator's compute is the matrix
    // scan, O(triple rows), so cost is proportional to shuffle bytes and
    // partitions merged under the advisory size are cheap ones; bins
    // whose work matters exceed it and keep their dedicated task.
    val costs = lineCounts.map { case (l, t) => l -> (t.toDouble * t) }
      .sortBy { case (l, c) => (-c, l) }.toSeq // deterministic plan input
    // Balance.plan adds dedicated outlier bins ON TOP of targetBins, so
    // a first plan can exceed the partition count; shrink the normal-bin
    // target by the overflow and re-plan (outlier count depends only on
    // the cost distribution, not targetBins, so one correction lands
    // unless outliers alone exceed the partitions — then label reuse
    // degrades round-robin, which no placement can avoid).
    var targetBins = math.max(1, math.min(numParts, costs.size))
    var assignment = Balance.plan(costs, targetBins)
    var nBins = if (assignment.isEmpty) 1 else assignment.values.max + 1
    if (nBins > numParts && targetBins > 1) {
      targetBins = math.max(1, targetBins - (nBins - numParts))
      assignment = Balance.plan(costs, targetBins)
      nBins = if (assignment.isEmpty) 1 else assignment.values.max + 1
    }
    val labels = Balance.hashDistinctLabels(nBins, numParts)
    val labelOf: Map[String, Int] =
      assignment.map { case (l, b) => l -> labels(b) }
    val bcLabel = spark.sparkContext.broadcast(labelOf)

    // lines without parameters are dropped BEFORE the shuffle (the old
    // per-line keying at least spread them; a shared "skip" key would
    // funnel every dropped row through one task just to discard it)
    val rosterLite = roster.select(col("line"), col("tid"), col("id"), col("patternID"))
      .as[(String, Int, String, String)]
      .filter(r => bcLabel.value.contains(r._1))
    rosterLite.groupByKey(r => bcLabel.value(r._1))
      .cogroup(triples.groupByKey(t => bcLabel.value(t._1))) {
        (bin, rs, ds) =>
          {
            // a bin holds whole lines (one, or several small ones packed
            // together). Roster rows are tiny; adjacency buffers are
            // preallocated per line so the edge stream fills them without
            // buffering — O(edges) memory, never the T×T matrix. The
            // buffers are PRIMITIVE (r11): boxed ArrayBuffer[Int] cost
            // ~20 B/edge-end and OOM'd the 32 g heap at the 100× probe's
            // ~700 M edge-ends; IntVec keeps the bound at 4 B/end
            // (nanPairs packs (i, j) as two adjacent entries).
            val byLine = rs.toArray.groupBy(_._1)
            final class LineBuf(val rows: Array[(String, Int, String, String)]) {
              val adj: Array[graft.core.IntVec] =
                Array.fill(rows.length)(new graft.core.IntVec(4))
              val nanPairs = new graft.core.IntVec(8)
              var maxFinite = 0.0
            }
            val bufs = byLine.map { case (line, rows) =>
              line -> new LineBuf(rows.sortBy(_._2))
            }
            ds.foreach { case (line, i, j, d) =>
              val b = bufs(line)
              if (i < 0) { // per-partition max-finite sentinel
                if (d > b.maxFinite) b.maxFinite = d
              } else if (d.isNaN) { b.nanPairs.add(i); b.nanPairs.add(j) }
              else { b.adj(i).add(j); b.adj(j).add(i) } // finite d <= eps
            }
            bufs.toArray.sortBy(_._1).iterator.flatMap { case (line, b) =>
              val p = bc.value(line)
              val n = b.rows.length
              // non-finite pairs clamp to 2×max finite (TC-P:298–303):
              // an edge exactly when the clamped value clears eps
              if (2 * b.maxFinite <= p.eps) {
                var k = 0
                while (k < b.nanPairs.size) {
                  val i = b.nanPairs(k); val j = b.nanPairs(k + 1)
                  b.adj(i).add(j); b.adj(j).add(i)
                  k += 2
                }
              }
              val labels =
                try Dbscan.fitNeighborhoods(b.adj, p.minSamples)
                catch { case _: Exception => Array.fill(n)(0) } // TC-P:309–312
              b.rows.iterator.map { case (_, tid, id, pid) =>
                (line, id, pid, labels(tid))
              }
            }
          }
      }
      .toDF("linenumber", "id", "patternID", "cluster")
  }

  /** Small-input path: whole-line clustering in one task per line —
    * identical summaries (chord endpoints + polyline length), identical
    * 2-point-summary distances, identical tid order (UTF8 binary, the
    * window sort's collation) as the distributed path. */
  private def clusterLocal(
      assembled: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Map[String, Params]]): DataFrame = {
    val spark = assembled.sparkSession
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    assembled
      .select(col("linenumber").cast("string").as("line"),
        col("id").cast("string").as("id"), col("patternID"), col("points"))
      .groupByKey(_.getString(0))
      .flatMapGroups { (line, it) =>
        bc.value.get(line) match {
          case None => Iterator.empty // no params → skip line (TC-S:153)
          case Some(p) =>
            val rows = it.map { r =>
              val pts = r.getSeq[org.apache.spark.sql.Row](3)
                .map(pr => TrajectoryDistance.P(pr.getDouble(0), pr.getDouble(1)))
                .toIndexedSeq
              (r.getString(1), r.getString(2), pts)
            }.toArray
            // (id, patternID) in UTF8-binary order = the window's sort
            java.util.Arrays.sort(rows,
              new java.util.Comparator[(String, String, IndexedSeq[TrajectoryDistance.P])] {
                def compare(a: (String, String, IndexedSeq[TrajectoryDistance.P]),
                            b: (String, String, IndexedSeq[TrajectoryDistance.P])): Int = {
                  val c = UTF8String.fromString(a._1)
                    .compareTo(UTF8String.fromString(b._1))
                  if (c != 0) c
                  else UTF8String.fromString(a._2)
                    .compareTo(UTF8String.fromString(b._2))
                }
              })
            val n = rows.length
            val sums = rows.map { case (_, _, pts) =>
              (pts.head, pts.last, TrajectoryDistance.lengthKm(pts))
            }
            val dist = Array.ofDim[Double](n, n)
            var maxFinite = 0.0
            var i = 0
            while (i < n) {
              var j = i + 1
              while (j < n) {
                val (h1, l1, len1) = sums(i)
                val (h2, l2, len2) = sums(j)
                val d = TrajectoryDistance.totalWithLengths(
                  IndexedSeq(h1, l1), IndexedSeq(h2, l2), len1, len2)
                val dd = if (java.lang.Double.isFinite(d)) d else Double.NaN
                dist(i)(j) = dd; dist(j)(i) = dd
                if (!dd.isNaN && dd > maxFinite) maxFinite = dd
                j += 1
              }
              i += 1
            }
            i = 0
            while (i < n) {
              var j = 0
              while (j < n) {
                if (dist(i)(j).isNaN) dist(i)(j) = 2 * maxFinite
                j += 1
              }
              i += 1
            }
            val labels =
              try Dbscan.fit(dist, p.eps, p.minSamples)
              catch { case _: Exception => Array.fill(n)(0) } // TC-P:309–312
            rows.iterator.zipWithIndex.map { case ((id, pid, _), tid) =>
              (line, id, pid, labels(tid))
            }
        }
      }
      .toDF("linenumber", "id", "patternID", "cluster")
  }

  /** Join cluster labels back onto the point-level frame (TC-S:201); rows
    * of skipped lines keep a null cluster. */
  def attach(patterns: DataFrame, clustered: DataFrame): DataFrame =
    patterns
      .withColumn("patternID", col("patternID").cast("string"))
      .join(clustered, Seq("linenumber", "id", "patternID"), "left")

  /** Full stage 2. */
  def run(patterns: DataFrame, params: Map[String, Params]): DataFrame =
    attach(patterns, cluster(patterns, params))
}
