package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Ext, ExtOracle, Learn, LearnOracle, Pipeline, PipelineOracle, Rel, RelOracle, Warehouse, WarehouseOracle}

/** Registry consistency, without a session: `SparkEntry.queries` joins
  * the family maps with `++`, which silently keeps only the last of two
  * entries sharing a name. */
class SparkEntrySpec extends AnyFunSuite {
  private val families = Seq(
    "Rel" -> Rel.all.keySet, "Ext" -> Ext.all.keySet,
    "Pipeline" -> Pipeline.all.keySet, "Warehouse" -> Warehouse.all.keySet,
    "Learn" -> Learn.all.keySet)

  test("family query maps have disjoint names") {
    val clashes = for {
      ((a, ka), i) <- families.zipWithIndex
      (b, kb) <- families.drop(i + 1)
      name <- ka intersect kb
    } yield s"$name in $a and $b"
    assert(clashes.isEmpty, clashes.mkString(", "))
    assert(SparkEntry.queries.size == families.map(_._2.size).sum)
  }

  test("every oracle names a registered query, and no oracle is dropped") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, orphans.toSeq.sorted.mkString(", "))
    val oracles = Seq(RelOracle.all, ExtOracle.all, WarehouseOracle.all,
      PipelineOracle.all, LearnOracle.all)
    assert(SparkEntry.oracleSql.size == oracles.map(_.size).sum)
  }
}
