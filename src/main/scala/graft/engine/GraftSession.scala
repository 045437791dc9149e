package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProduct, IntDotProduct}

/** Session construction for the engine: the one place a `SparkSession` is
  * built, so the config that gets measured is the config that ships.
  *
  * [[GraftExtensions]] registers the custom Catalyst expressions as SQL
  * functions via `SparkSessionExtensions` (`spark.sql.extensions=
  * graft.engine.GraftExtensions`), so `SELECT graft_dot(a, b)` works from
  * pure SQL. [[GraftSession.registerFunctions]] does the same injection on
  * an already-built session (the driver hands us its own session, so both
  * paths are supported). Both read [[GraftSession.functions]].
  *
  * [[GraftSession.builder]] encodes the defaults this engine assumes;
  * every knob is overridable by the caller afterwards:
  *  - AQE on with coalescing + skew-join splitting (hot keys in the
  *    dedup inverted-index joins are split at runtime);
  *  - shuffle partitions sized to the cores, not Spark's legacy 200;
  *  - 128m scan partitions so executor memory bounds hold on wide rows
  *    (binary media columns);
  *  - broadcast threshold left at default — joins that MUST broadcast say
  *    so in code (`broadcast()`), size-based choices stay Catalyst's;
  *  - the generated-class cache holds [[CodegenCacheEntries]] classes, not
  *    Spark's 100. The cache is LRU, so a working set larger than the
  *    bound misses on every pass and each warm re-execution pays Janino
  *    again; the 7-query sf0.001 perfbench sample alone fills about 170
  *    entries per pass. Each entry costs about 35 KB of heap plus 10 KB
  *    of Metaspace, which is why the bound is not sized for a full
  *    380-query sweep (5706 entries). `CodeGenerator` reads the size
  *    once, when it first initializes, so it is a build-time conf: a
  *    session the driver hands over ([[registerFunctions]]) keeps
  *    whatever size its JVM started with. Measurements: "The recompile
  *    nobody saw" in `docs/PLANS.md`.
  *
  * [[GraftSession.local]] is that builder on `local[cpus]` with the UI
  * off; every main and the test session are built through it.
  */
object GraftSession {

  /** Environment variable that sets a local session's core count. */
  val CpusVar = "SPARK_GRAFT_CPUS"

  /** The core count for a local session: `raw` (the value of
    * [[CpusVar]]) when set, else the processors the JVM sees. A blank,
    * non-integer or non-positive value fails with a message naming the
    * variable, before any Spark object exists.
    */
  def cpuCount(raw: Option[String] = sys.env.get(CpusVar)): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) =>
      val n = v.toIntOption.filter(_ > 0)
      require(n.isDefined, s"$CpusVar must be a positive integer, got '$v'")
      n.get
  }

  /** Generated-class cache bound (`spark.sql.codegen.cache.maxEntries`). */
  val CodegenCacheEntries = 2000

  def builder(appName: String = "graft",
              parallelism: Int = Runtime.getRuntime.availableProcessors)
  : SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)

  /** The [[builder]] session on `local[cpus]` with the UI off. */
  def local(appName: String, cpus: Int = cpuCount()): SparkSession =
    builder(appName, cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The engine's SQL functions as (name, info, builder). Only the
    * expressions constructible from child expressions alone are
    * SQL-facing; the reference-object probes — NearestCentroid,
    * BloomMightContain, CmsEstimateLong — carry runtime state and are
    * reached through their typed Scala wrappers.
    */
  private[engine] val functions
  : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      binary("graft_dot", classOf[DotProduct], DotProduct(_, _)),
      binary("graft_int_dot", classOf[IntDotProduct], IntDotProduct(_, _)))

  private def binary(name: String, cls: Class[_],
                     make: (Expression, Expression) => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"$name(a, b) takes 2 arguments")
        make(children.head, children(1))
      })

  /** Register the engine's SQL functions on an existing session. */
  def registerFunctions(spark: SparkSession): Unit =
    functions.foreach { case (id, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, build, "scala_udf")
    }
}

/** `spark.sql.extensions` entry point: injects the engine's functions at
  * session build time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSession.functions.foreach(ext.injectFunction)
}
