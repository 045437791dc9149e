package graft

import org.scalatest.funspec.AnyFunSpec

/** The registry is the union of its query sets, each name defined once. */
class SparkEntrySuite extends AnyFunSpec {

  /** Names defined by more than one query set. */
  private def shared(names: Seq[String]): Map[String, Int] =
    names.groupBy(identity).collect {
      case (n, copies) if copies.size > 1 => n -> copies.size
    }

  describe("SparkEntry") {
    it("registers 380 queries, none defined by two query sets") {
      val names = SparkEntry.querySets.flatMap(_.queries.keys)
      assert(shared(names).isEmpty, "a later set would shadow these")
      assert(names.size == 380)
      assert(SparkEntry.queries.keySet == names.toSet)
    }

    it("defines each oracle once, for a registered query") {
      val static = SparkEntry.querySets.flatMap(_.oracleSql.keys)
      val dynamic = SparkEntry.querySets.flatMap(_.dynamicOracleSql.keys)
      assert(shared(static).isEmpty && shared(dynamic).isEmpty)
      assert((static ++ dynamic).toSet.subsetOf(SparkEntry.queries.keySet))
    }
  }
}
