package graft

import graft.engine.GraftSession

/** Plan-inspection utility: prints the formatted physical plan of selected
  * queries (all, if no names given) so shuffle/broadcast/pushdown choices
  * can be reviewed. Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    // the bench's session (cores + shuffle partitions), so the printed
    // plans are the ones the bench costs: a different core count
    // re-decides broadcast/exchange choices
    val spark = GraftSession.local("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.run(spark, sfDir, n)(_.explain("formatted"))
    }
    spark.stop()
  }
}
