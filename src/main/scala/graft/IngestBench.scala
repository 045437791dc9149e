package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.engine.{GraftSession, Pipeline, Tenancy}

/** End-to-end upload->transform throughput vs the reference's only stated
  * performance numbers (BASELINE.md: ~30-60s for <10MB, ~1-3min for
  * 10-100MB, single-process + global upload mutex). Generates a synthetic
  * corporate payroll CSV of the requested size, runs the full ingest path
  * (auth -> gate -> raw archive -> stg -> fct, FULL materialization), and
  * prints one JSON line. Usage: runMain graft.IngestBench [sizeMb]
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val sizeMb = args.headOption.map(_.toInt).getOrElse(10)
    val spark = GraftSession.local("graft-ingest-bench")
    spark.sparkContext.setLogLevel("WARN")
    val (sec, nRows) = run(spark, sizeMb)
    println(s"""{"metric":"ingest_${sizeMb}mb","value":$sec,"unit":"sec","rows":$nRows,"reference_claim_sec":"30-60 (<10MB) / 60-180 (10-100MB)"}""")
    spark.stop()
  }

  /** One warmed, timed upload→transform ingest of a generated `sizeMb`
    * CSV; returns (seconds, fact rows). Callable from [[Bench]] so every
    * round's artifact carries the ingest number the reference actually
    * publishes (BASELINE.md's only stated performance figures), not just
    * the round-1 measurement. Runs in a fresh temp storage dir, removed
    * on return.
    */
  def run(spark: SparkSession, sizeMb: Int): (Double, Long) = {
    val storage = Files.createTempDirectory("graft_ingest_bench")
    try runIn(spark, storage, sizeMb)
    finally Pipeline.deleteRecursively(storage)
  }

  private def runIn(spark: SparkSession, storage: Path, sizeMb: Int)
  : (Double, Long) = {
    val csv = storage.resolve("src.csv")
    val w = Files.newBufferedWriter(csv)
    w.write("Row ID,Year,Department Title,Job Class Title,Employment Type," +
      "Base Pay,Overtime Pay,Longevity Bonus Pay,Average Benefit Cost\n")
    val targetBytes = sizeMb.toLong * 1024 * 1024
    var written = 0L
    var i = 0
    while (written < targetBytes) {
      val cents = f"${i % 100}%02d"
      val row = s"""$i,2013,Department ${i % 40},Job Title ${i % 500},FT,""" +
        s""""$$${60000 + i % 90000}.$cents","$$${i % 9000}.00",""" +
        s""""$$${i % 2000}.00","$$${10000 + i % 15000}.00"\n"""
      w.write(row)
      written += row.length
      i += 1
    }
    w.close()

    val users = Seq(Tenancy.Tenant("Bench_Tenant",
      Tenancy.sha256Hex("pw"), "corporate"))
    // warm the JVM/codegen on a tiny ingest first (the reference's numbers
    // are steady-state service numbers, not cold-JVM numbers)
    val warmCsv = storage.resolve("warm.csv")
    val reader = Files.newBufferedReader(csv)
    val warmWriter = Files.newBufferedWriter(warmCsv)
    try {
      var line = reader.readLine()
      var k = 0
      while (line != null && k < 100) {
        warmWriter.write(line); warmWriter.write("\n")
        line = reader.readLine(); k += 1
      }
    } finally { reader.close(); warmWriter.close() }
    Pipeline.ingest(spark, storage, users, "Bench_Tenant", "pw",
      "corporate_warm.csv", warmCsv)

    val t0 = System.nanoTime()
    val built = Pipeline.ingest(spark, storage, users, "Bench_Tenant", "pw",
      "corporate_bench.csv", csv)
    val fct = built("corporate.fct_corporate")
    val nRows = fct.count()
    val sec = (System.nanoTime() - t0) / 1e9
    // self-check: the parse path must actually succeed, or the timing is
    // measuring a pipeline that nulls every metric
    val nBadPay = fct.filter(fct("total_amount").isNull).count()
    require(nBadPay == 0, s"$nBadPay rows failed money parsing")
    (sec, nRows)
  }
}
