package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types._

/** Order-insensitive content hash of a query result: the row count and the
  * 64-bit sum of per-row hashes of a canonical text form. Doubles and
  * floats are rounded to 10 significant digits first, so the last-bit
  * jitter of a floating-point sum whose order depends on task timing does
  * not read as a wrong answer.
  */
object RowHash {
  private val Mc = new java.math.MathContext(10)

  private def num(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Mc).stripTrailingZeros.toPlainString

  private def canon(v: Any, dt: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append("\u0000N")
    else dt match {
      case DoubleType => sb.append(num(v.asInstanceOf[Double]))
      case FloatType => sb.append(num(v.asInstanceOf[Float].toDouble))
      case BinaryType => v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case s: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        s.fields.indices.foreach { i =>
          canon(if (r.isNullAt(i)) null else r.get(i, s(i).dataType), s(i).dataType, sb)
          sb.append('\u0001')
        }
        sb.append('}')
      case a: ArrayType =>
        val arr = v.asInstanceOf[ArrayData]
        sb.append('[')
        (0 until arr.numElements()).foreach { i =>
          canon(if (arr.isNullAt(i)) null else arr.get(i, a.elementType), a.elementType, sb)
          sb.append('\u0002')
        }
        sb.append(']')
      case m: MapType =>
        val md = v.asInstanceOf[MapData]
        val ks = md.keyArray(); val vs = md.valueArray()
        val entries = (0 until md.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          canon(ks.get(i, m.keyType), m.keyType, e)
          e.append('=')
          canon(if (vs.isNullAt(i)) null else vs.get(i, m.valueType), m.valueType, e)
          e.toString
        }.sorted
        sb.append('<').append(entries.mkString("\u0003")).append('>')
      case _ => sb.append(v.toString)
    }

  def rowHash(row: InternalRow, schema: StructType): Long = {
    val sb = new java.lang.StringBuilder
    canon(row, schema, sb)
    val s = sb.toString
    (scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 0x1234abcd).toLong & 0xffffffffL)
  }

  /** (rows, hash hex) of `df`, computed from its own physical plan. */
  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += rowHash(r, schema) }
      Iterator((n, h))
    }.collect()
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }
}

/** Shared execution path of the two query workloads and the calibration:
  * build + plan + `toRdd` drain + `Checkpoints.release`, as `graft.Bench`
  * times it.
  */
object QueryExec {
  /** Exchanges in the final (post-AQE) physical plan, subqueries included. */
  def exchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => 1 + walk(s.plan match {
        case e: Exchange => e.child
        case other => other
      })
      case e: Exchange => 1 + walk(e.child)
      case other =>
        other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(plan)
  }

  final case class Run(name: String, pass: Int, seconds: Double,
                       rootId: Long, exchanges: Int,
                       compileNs: Long, compiles: Long)

  def once(spark: SparkSession, tracer: Tracer, name: String, pass: Int,
           fn: (SparkSession, String) => DataFrame, sfDir: String): Run = {
    val c0 = Codegen.compileNs; val k0 = Codegen.compiles
    var rootId = 0L
    var ex = 0
    val t0 = System.nanoTime()
    tracer.span("query", s"$name#$pass") {
      rootId = tracer.here.map(_._2).getOrElse(0L)
      val df = tracer.span("queries.build")(fn(spark, sfDir))
      tracer.span("execute")(df.queryExecution.toRdd.foreach(_ => ()))
      tracer.span("checkpoints.release")(graft.ext.Checkpoints.release(df))
      if (tracer.on) {
        val here = tracer.here.get
        df.queryExecution.tracker.phases.foreach { case (phase, s) =>
          tracer.record(here._1, here._2, s"catalyst.$phase",
            tracer.msToNs(s.startTimeMs), tracer.msToNs(s.endTimeMs))
        }
        ex = scala.util.Try(exchanges(df.queryExecution.executedPlan)).getOrElse(0)
      }
    }
    val t = (System.nanoTime() - t0) / 1e9
    Run(name, pass, t, rootId, ex, Codegen.compileNs - c0, Codegen.compiles - k0)
  }
}

/** `queries_floor` / `queries_heavy`: a seed-drawn sample of the registry
  * run once cold, then in warm passes until the run's seconds are spent,
  * then checked (untimed) against the expected table.
  */
final class Queries(opts: Opts) extends Workload {
  private val sfDir = opts.sfDir.getOrElse(
    throw new IllegalArgumentException("--sf is required")).toString
  private var fns: Seq[(String, (SparkSession, String) => DataFrame)] = Nil
  private var expected: Map[String, (Long, String)] = Map.empty

  def prepare(spark: SparkSession, rep: Int): Unit = {
    val reg = graft.SparkEntry.queries
    val missing = opts.sample.filterNot(reg.contains)
    require(missing.isEmpty, s"sampled queries not in the registry: ${missing.mkString(",")}")
    require(opts.sample.nonEmpty, "empty query sample")
    fns = opts.sample.map(n => n -> reg(n))
    val table = Main.Mapper.readTree(opts.expected.getOrElse(
      throw new IllegalArgumentException("--expected is required")).toFile)
    // a query whose two calibration hashes differed is checked by row count
    expected = table.get("queries").properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (v.get("rows").asLong,
        if (v.get("stable").asBoolean) v.get("hash").asText else "")
    }.toMap
  }

  def measure(spark: SparkSession, tracer: Tracer, probe: Probe): Measured = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val runs = scala.collection.mutable.ArrayBuffer.empty[QueryExec.Run]
    var attempted = 0L
    val failedNames = scala.collection.mutable.Set.empty[String]
    def exec(name: String, fn: (SparkSession, String) => DataFrame, pass: Int): Unit =
      if (!failedNames.contains(name)) {
        attempted += 1
        try runs += QueryExec.once(spark, tracer, name, pass, fn, sfDir)
        catch {
          case e: Throwable =>
            failedNames += name
            failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
    // one cold pass, then warm passes while another fits in the seconds
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    fns.foreach { case (n, f) => exec(n, f, 0) }
    HeapWatch.sample()
    var pass = 1
    var last = 0.0
    while (pass == 1 || elapsed + last <= opts.seconds) {
      val p0 = elapsed
      fns.foreach { case (n, f) => exec(n, f, pass) }
      last = elapsed - p0
      HeapWatch.sample()
      pass += 1
    }
    // correctness: one untimed execution per query, hashed
    val checks = new java.util.LinkedHashMap[String, AnyRef]()
    fns.foreach { case (n, fn) =>
      if (!failedNames.contains(n)) {
        attempted += 1
        try {
          val df = fn(spark, sfDir)
          val (rows, hash) = try RowHash.of(df) finally graft.ext.Checkpoints.release(df)
          checks.put(n, s"$rows:$hash")
          expected.get(n) match {
            case Some((r, h)) if r == rows && (h == hash || h.isEmpty) => ()
            case Some((r, h)) =>
              failures += s"$n: wrong result: rows=$rows hash=$hash, expected rows=$r hash=$h"
            case None => failures += s"$n: no expected row count/hash in the table"
          }
        } catch {
          case e: Throwable =>
            failures += s"$n: check failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
    }

    val cold = runs.filter(_.pass == 0)
    val warm = runs.filter(_.pass > 0)
    val warmByQuery: Map[String, Double] = warm.groupBy(_.name).map { case (n, rs) =>
      n -> Main.median(rs.map(_.seconds).toSeq) }
    // cold path: first execution of each sampled query in a warmed JVM;
    // warm path: per-query median over the warm passes, summed
    val e2e = Seq(
      "cold_path_s" -> cold.map(_.seconds).sum,
      "warm_path_s" -> warmByQuery.values.sum)

    val layers = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    layers += "codegen.compile_s" -> cold.map(_.compileNs).sum / 1e9
    layers += "codegen.compiles" -> cold.map(_.compiles).sum.toDouble
    layers += "codegen.warm_compiles" -> warm.filter(_.pass == 1).map(_.compiles).sum.toDouble
    layers += "queries.warm_passes" -> (pass - 1).toDouble
    if (tracer.on) {
      // per-layer figures come from the first warm pass: steady state
      val w1 = warm.filter(_.pass == 1)
      val roots = w1.map(_.rootId).toSet
      // the same executions as timed outside the tracer: the wall that the
      // self times must add up to
      layers += "queries.warm1_wall_s" -> w1.map(_.seconds).sum
      val spans = tracer.all.filter(s => roots.contains(s.root))
      def spanSum(name: String): Double =
        spans.filter(_.name == name).map(_.durNs).sum / 1e9
      layers += "queries.build_s" -> spanSum("queries.build")
      layers += "catalyst.analysis_s" -> spanSum("catalyst.analysis")
      layers += "catalyst.optimization_s" -> spanSum("catalyst.optimization")
      layers += "catalyst.planning_s" -> spanSum("catalyst.planning")
      layers += "checkpoints.release_s" -> spanSum("checkpoints.release")
      val k = new Counters
      roots.foreach(r => k.add(probe.countersOf(r)))
      layers ++= Layers.counters(k)
      layers += "plan.exchanges" -> w1.map(_.exchanges).sum.toDouble
      layers += "scheduler.driver_gap_s" -> Layers.driverGap(spans, roots)
      layers ++= Layers.selfAndReconcile(tracer.all, roots)
    }
    val detail = new java.util.LinkedHashMap[String, AnyRef]()
    detail.put("sf_dir", sfDir)
    detail.put("cold_s", cold.map(r => r.name -> Double.box(r.seconds)).toMap.asJava)
    detail.put("warm_median_s", warmByQuery.map { case (k, v) => k -> Double.box(v) }.asJava)
    detail.put("checks", checks)
    Measured(attempted, failures.toSeq, e2e, layers.toSeq, detail)
  }
}

/** Measures what the expected table holds, for every query of the pool:
  *  - reference seconds in the benchmark's own context: a cold pass over
  *    the whole pool, then a warm pass, both in name order, so each
  *    query runs after many others as it does inside a sample;
  *  - unless `--results 0`: its result parquet (for `tools/compare.py`),
  *    and row count and hash, twice, to catch non-determinism.
  */
final class Calibrate(opts: Opts) extends Workload {
  private val sfDir = opts.sfDir.get.toString

  def prepare(spark: SparkSession, rep: Int): Unit = ()

  def measure(spark: SparkSession, tracer: Tracer, probe: Probe): Measured = {
    val reg = graft.SparkEntry.queries
    // names may be given in full or by their `qNNN` prefix
    val byShort = reg.keys.map(k => k.takeWhile(_ != '_') -> k).toMap
    val names =
      if (opts.sample.nonEmpty) opts.sample.map(n => if (reg.contains(n)) n else byShort(n)).sorted
      else reg.keys.toSeq.sorted
    val outDir = opts.work.resolve("verify")
    Files.createDirectories(outDir)
    val table = new java.util.TreeMap[String, java.util.LinkedHashMap[String, AnyRef]]()
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def guarded(n: String)(body: => Unit): Unit =
      if (!failures.exists(_.startsWith(s"$n:"))) {
        try body catch { case e: Throwable => failures += s"$n: $e" }
      }
    Seq("cold_s", "warm_s").zipWithIndex.foreach { case (key, pass) =>
      names.foreach { n => guarded(n) {
        val t = QueryExec.once(spark, tracer, n, pass, reg(n), sfDir).seconds
        table.computeIfAbsent(n, _ => new java.util.LinkedHashMap[String, AnyRef]())
          .put(key, Double.box(t))
        System.err.println(f"[calibrate] $n%-40s $key=$t%.3f")
      }}
    }
    if (opts.calibrateResults) names.foreach { n => guarded(n) {
      val fn = reg(n)
      val w = fn(spark, sfDir)
      try w.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(n).toString)
      finally graft.ext.Checkpoints.release(w)
      val hashes = (1 to 2).map { _ =>
        val df = fn(spark, sfDir)
        try RowHash.of(df) finally graft.ext.Checkpoints.release(df)
      }
      val e = table.get(n)
      e.put("rows", Long.box(hashes.head._1))
      e.put("hash", hashes.head._2)
      e.put("stable", Boolean.box(hashes.distinct.size == 1))
      e.put("oracle", Boolean.box(graft.SparkEntry.oracleSql.contains(n) ||
        graft.SparkEntry.dynamicOracleSql.contains(n)))
    }}
    val oracle = new java.util.TreeMap[String, String]()
    names.foreach { n =>
      graft.SparkEntry.oracleSql.get(n).foreach(oracle.put(n, _))
      graft.SparkEntry.dynamicOracleSql.get(n).foreach(r => oracle.put(n, r(spark, sfDir)))
    }
    Main.Mapper.writeValue(outDir.resolve("oracle_sql.json").toFile, oracle)
    Measured(names.size.toLong, failures.toSeq, Nil, Nil, table)
  }
}
