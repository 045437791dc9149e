package graft.engine

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.SparkSpec

class WarehouseSuite extends SparkSpec {

  it("bucketed tables join without any Exchange") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    Seq("wh_lineitem", "wh_orders").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(s"spark-warehouse/$t")
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.delete)
      }
    }
    Warehouse.writeBucketed(li, "wh_lineitem", "l_orderkey", 4)
    Warehouse.writeBucketed(ord, "wh_orders", "l_orderkey", 4)
    // at test scale Catalyst would broadcast instead (hiding the bucket
    // layout); disable that to observe the large-table plan shape
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Warehouse.bucketedJoin(spark, "wh_lineitem", "wh_orders",
        "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in:\n$plan")
      // and the result is still correct
      assert(joined.count() ==
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // the shared session installs GraftExtensions, so these specs first
  // drop the injected function to test registerFunctions on its own
  private def dropInjected(name: String): Unit = {
    val id = FunctionIdentifier(name)
    spark.sessionState.functionRegistry.dropFunction(id)
    assert(!spark.sessionState.functionRegistry.functionExists(id))
  }

  it("the session builds with the engine's SQL functions injected") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 11.0)
  }

  it("SQL surface exposes graft_dot after registration") {
    dropInjected("graft_dot")
    GraftSession.registerFunctions(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 11.0)
  }

  it("SQL surface exposes graft_int_dot after registration") {
    dropInjected("graft_int_dot")
    GraftSession.registerFunctions(spark)
    val r = spark.sql(
      "SELECT graft_int_dot(array(1L, -2L), array(3L, 4L)) AS d")
      .collect()(0).getLong(0)
    assert(r == -5L)
  }
}
