package graft.queries

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funspec.AnyFunSpec

/** The oracle vocabulary has one home: every oracle tokenizes `text`
  * through [[OracleSql.tokSql]], so the DuckDB twin of the Spark
  * tokenizer cannot drift in one copy.
  */
class OracleSqlSuite extends AnyFunSpec {

  describe("the DuckDB tokenizer") {
    it("is spelled only in queries/OracleSql.scala") {
      // split so this file does not match itself
      val needle = "string_split_regex(" + "trim(text)"
      val home = Paths.get("src/main/scala/graft/queries/OracleSql.scala")
      def sources(root: String): Seq[Path] = {
        val walk = Files.walk(Paths.get(root))
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".scala")).toList
        finally walk.close()
      }
      val main = sources("src/main")
      assert(main.contains(home))
      assert(Files.readString(home).contains(needle))
      val offenders = (main ++ sources("src/test"))
        .filter(p => p != home && Files.readString(p).contains(needle))
      assert(offenders.isEmpty,
        s"$needle outside $home: ${offenders.mkString(", ")}")
    }
  }
}
