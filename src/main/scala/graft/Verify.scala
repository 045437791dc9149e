package graft
import graft.engine.GraftSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names (fast local iteration).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.keys.filter(name => only.forall(_.contains(name)))
      .foreach { name =>
      try SparkEntry.run(spark, sfDir, name)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val dynamic = SparkEntry.dynamicOracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, render) => name -> render(spark, sfDir) }
    val static = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // A filtered run ("only") MERGES into an existing oracle_sql.json
    // instead of truncating it: re-dumping one query into a full sweep
    // directory must not shrink the oracle map the sf1 gate resumes
    // from (this truncated a 376-entry map to 2 in round 17).
    // Fail LOUD if the existing file cannot be parsed: silently falling
    // back to Map.empty would truncate the merged map — the exact
    // regression the merge exists to prevent (r17 advice). Stale keys for
    // renamed/deleted queries are dropped by intersecting with the live
    // query map.
    val path = Paths.get(s"$outDir/oracle_sql.json")
    val existing: Map[String, String] =
      if (only.isDefined && Files.exists(path)) {
        val parsed =
          try {
            val node = new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(path.toFile)
            import scala.jdk.CollectionConverters._
            node.properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap
          } catch { case e: Throwable =>
            System.err.println(
              s"[verify] FATAL: existing $path is unparseable " +
                s"(${e.getMessage}); refusing to truncate the oracle map. " +
                "Delete the file or run an unfiltered dump.")
            spark.stop()
            sys.exit(2)
          }
        parsed.filter { case (k, _) => SparkEntry.queries.contains(k) }
      } else Map.empty
    val json = (existing ++ static ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(path, json)
    spark.stop()
  }
}
