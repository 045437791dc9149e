package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Options handed over by `perfbench/run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, cpus: Int, work: Path,
                      out: Path, sample: Seq[String], sfDir: Option[Path],
                      expected: Option[Path], calibrateResults: Boolean)

object Opts {
  /** Parse `--key value` pairs. The CPU count is validated here, before any
    * Spark object exists, so a bad value fails with its own message rather
    * than as an invalid master URL.
    */
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs, got: ${args.mkString(" ")}")
    val kv = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"not an option: $k")
      k.drop(2) -> v
    }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") match {
        case "0" => false
        case "1" => true
        case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$o'")
      },
      cpus = parseCpus(get("cpus")),
      work = Paths.get(get("work")).toAbsolutePath,
      out = Paths.get(get("out")).toAbsolutePath,
      sample = kv.get("sample").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
      sfDir = kv.get("sf").map(Paths.get(_).toAbsolutePath),
      expected = kv.get("expected").map(Paths.get(_).toAbsolutePath),
      calibrateResults = kv.get("results").forall(_ == "1"))
  }

  def parseCpus(raw: String): Int = {
    val n = scala.util.Try(raw.trim.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"CPU count must be a whole number, got '$raw'"))
    val avail = Runtime.getRuntime.availableProcessors
    require(n >= 1 && n <= avail,
      s"CPU count must be between 1 and the $avail processors this JVM sees, got $n")
    n
  }
}

/** Benchmark entry point: one workload, one seed, one mode (traced or not).
  * Writes the run's artifact (metrics, per-layer figures, config record,
  * sample, correctness detail) as JSON to `--out`, and its spans beside it.
  */
object Main {
  val Mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val jvmStartMs = ManagementStart.jvmStartMs
    val result =
      try run(opts, jvmStartMs)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          sys.exit(3)
      }
    Files.createDirectories(opts.out.getParent)
    Mapper.writerWithDefaultPrettyPrinter().writeValue(opts.out.toFile, result)
    sys.exit(0)
  }

  /** Build the measured session. The config is the shipped one:
    * [[graft.engine.GraftSession.builder]] with `local[cpus]`; the harness
    * adds only paths that keep every file inside the run's scratch dir.
    */
  def session(opts: Opts): SparkSession = {
    val spark = graft.engine.GraftSession.builder("perfbench", opts.cpus)
      .master(s"local[${opts.cpus}]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fixed warm-up: one aggregate job, one shuffle through a parquet
    * round trip (this loads the compression codecs, which unpack native
    * libraries into java.io.tmpdir once per JVM), one parquet footer read.
    */
  def warmUp(spark: SparkSession, work: Path, sfDir: Option[Path]): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val p = work.resolve("warmup.parquet").toString
    spark.range(100000L).selectExpr("id % 100 AS k", "id AS v").groupBy("k").count()
      .write.mode("overwrite").parquet(p)
    spark.read.parquet(p).selectExpr("sum(count)").collect()
    sfDir.foreach(d => spark.read.parquet(d.resolve("lineitem.parquet").toString)
      .limit(1).collect())
  }

  /** Box control: a fixed pure-JVM loop and a fixed `spark.range` job.
    * Their seconds say how fast this box ran in this window; they are not
    * a property of the code under test.
    */
  def boxControl(spark: SparkSession): (Double, Double) = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val t1 = System.nanoTime()
    val s = spark.range(0L, 20000000L, 1L, 4).selectExpr("sum(id % 7)").collect()
    val t2 = System.nanoTime()
    require(x != 0L && s.nonEmpty)
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  private def listTmp(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala.map(_.getFileName.toString).toSet
      finally ls.close()
    }

  def run(opts: Opts, jvmStartMs: Long): java.util.Map[String, AnyRef] = {
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(tmpDir)
    HeapWatch.install()
    val workload: Workload = opts.workload match {
      case "service_mixed" => new Service(opts)
      case "queries_floor" | "queries_heavy" => new Queries(opts)
      case "calibrate" => new Calibrate(opts)
      case o => throw new IllegalArgumentException(s"unknown workload '$o'")
    }
    // Set-up is repeated: the reported setup_s is the JVM's start-up up to
    // the first session plus the median of three full set-ups (session,
    // warm-up, input generation), so one slow repetition cannot move it.
    val firstSetupMs = System.currentTimeMillis()
    val jvmToMainS = (firstSetupMs - jvmStartMs) / 1e3
    val setupReps = if (opts.workload == "calibrate") 1 else 3
    var spark: SparkSession = null
    // per repetition: (session, warm-up, input generation) seconds
    val setupParts = (1 to setupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(opts)
      val t1 = System.nanoTime()
      warmUp(spark, opts.work, opts.sfDir)
      val t2 = System.nanoTime()
      workload.prepare(spark, rep)
      val t3 = System.nanoTime()
      Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
    }
    val setupS = setupParts.map(_.sum)
    val tracer = new Tracer(opts.trace, Some(spark.sparkContext))
    val probe = new Probe(tracer)
    if (opts.trace) spark.sparkContext.addSparkListener(probe)
    val boxBefore = boxControl(spark)
    val tmpBefore = listTmp(tmpDir)
    HeapWatch.reset()
    val measured = workload.measure(spark, tracer, probe)
    HeapWatch.sample()
    if (opts.trace) {
      org.apache.spark.sql.perfbenchshim.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
    }
    val leakedRdds = spark.sparkContext.getPersistentRDDs.size +
      org.apache.spark.sql.perfbenchshim.Bus.cachedRelations(spark)
    val leakedTmp = (listTmp(tmpDir) -- tmpBefore).size
    val boxAfter = boxControl(spark)

    val e2e = new java.util.LinkedHashMap[String, AnyRef]()
    e2e.put("setup_s", Double.box(jvmToMainS + median(setupS)))
    e2e.put("live_heap_peak_mb", Double.box(HeapWatch.livePeakMb))
    measured.endToEnd.foreach { case (k, v) => e2e.put(k, Double.box(v)) }

    val layers = new java.util.LinkedHashMap[String, AnyRef]()
    layers.put("box.control_s", Double.box(
      boxBefore._1 + boxBefore._2 + boxAfter._1 + boxAfter._2))
    layers.put("jvm.gc_peak_mb", Double.box(HeapWatch.gcPeakMb))
    layers.put("checkpoints.leaked_rdds", Long.box(leakedRdds.toLong))
    layers.put("tmp.leaked_dirs", Long.box(leakedTmp.toLong))
    measured.perLayer.foreach { case (k, v) => layers.put(k, Double.box(v)) }

    val spans = tracer.all
    if (opts.trace) {
      val spansPath = Paths.get(opts.out.toString.replaceAll("\\.json$", "") + ".spans.jsonl")
      val w = Files.newBufferedWriter(spansPath)
      try spans.foreach { s =>
        w.write(s"""{"id":${s.id},"parent":${s.parent},"root":${s.root},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"tag":"${s.tag.replace("\"", "'")}"}""")
        w.write('\n')
      } finally w.close()
    }

    val conf = new java.util.TreeMap[String, String](spark.conf.getAll.asJava)
    spark.stop()

    val out = new java.util.LinkedHashMap[String, AnyRef]()
    out.put("workload", opts.workload)
    out.put("seed", Long.box(opts.seed))
    out.put("seconds", Double.box(opts.seconds))
    out.put("trace", Boolean.box(opts.trace))
    out.put("attempted", Long.box(measured.attempted))
    out.put("failed", Long.box(measured.failures.size.toLong))
    out.put("failures", measured.failures.asJava)
    out.put("end_to_end", e2e)
    out.put("per_layer", layers)
    out.put("setup_reps_s", setupS.map(Double.box).asJava)
    out.put("setup_parts_s", setupParts.map(_.map(Double.box).asJava).asJava)
    out.put("jvm_to_main_s", Double.box(jvmToMainS))
    out.put("box_control", Seq(boxBefore._1, boxBefore._2, boxAfter._1, boxAfter._2)
      .map(Double.box).asJava)
    out.put("detail", measured.detail)
    val cfg = new java.util.LinkedHashMap[String, AnyRef]()
    cfg.put("nproc", Int.box(opts.cpus))
    cfg.put("available_processors", Int.box(Runtime.getRuntime.availableProcessors))
    cfg.put("jvm_flags", ManagementStart.jvmFlags.asJava)
    cfg.put("java_version", System.getProperty("java.version"))
    cfg.put("spark_version", spark.version)
    cfg.put("spark_conf", conf)
    out.put("config", cfg)
    out.put("sample", opts.sample.asJava)
    out
  }
}

/** What one workload's measured phase produced. */
final case class Measured(attempted: Long, failures: Seq[String],
                          endToEnd: Seq[(String, Double)],
                          perLayer: Seq[(String, Double)],
                          detail: AnyRef)

trait Workload {
  /** Generate inputs; called once per set-up repetition on a fresh session. */
  def prepare(spark: SparkSession, rep: Int): Unit
  def measure(spark: SparkSession, tracer: Tracer, probe: Probe): Measured
}

object ManagementStart {
  private def rt = java.lang.management.ManagementFactory.getRuntimeMXBean
  def jvmStartMs: Long = rt.getStartTime
  def jvmFlags: Seq[String] = rt.getInputArguments.asScala.toSeq
}
