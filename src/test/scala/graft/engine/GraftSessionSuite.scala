package graft.engine

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import graft.SparkSpec

class GraftSessionSuite extends SparkSpec {

  describe("GraftSession.cpuCount") {
    it("rejects a blank, non-integer or non-positive value, naming the variable") {
      for (bad <- Seq("", "abc", "0", "-1")) {
        val e = intercept[IllegalArgumentException](
          GraftSession.cpuCount(Some(bad)))
        assert(e.getMessage.contains(GraftSession.CpusVar), bad)
      }
    }
    it("accepts a positive integer") {
      assert(GraftSession.cpuCount(Some("4")) == 4)
    }
    it("falls back to the processors the JVM sees when unset") {
      assert(GraftSession.cpuCount(None) ==
        Runtime.getRuntime.availableProcessors)
    }
  }

  describe("session construction") {
    it("builds sessions only in engine/GraftSession.scala") {
      // split so this file does not match itself
      val needle = "SparkSession" + ".builder"
      val home = Paths.get("src/main/scala/graft/engine/GraftSession.scala")
      def sources(root: String): Seq[Path] = {
        val walk = Files.walk(Paths.get(root))
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".scala")).toList
        finally walk.close()
      }
      val main = sources("src/main")
      assert(main.contains(home))
      val offenders = (main ++ sources("src/test"))
        .filter(p => p != home && Files.readString(p).contains(needle))
      assert(offenders.isEmpty,
        s"$needle outside $home: ${offenders.mkString(", ")}")
    }
  }

  describe("the generated-class cache") {
    it("keeps a working set past Spark's default 100 classes, so a warm pass compiles nothing") {
      // The bound only takes effect if it was set before the JVM's first
      // compile, so this checks the behavior, not the conf string. Each
      // plan inlines distinct literals, so each generates distinct code;
      // a fresh Dataset per pass re-plans and re-generates, as a warm
      // query run does.
      def pass(): Long = {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        (1 to 150).foreach { i =>
          spark.range(4).selectExpr(s"id * $i + ${1000 + i} AS v").collect()
        }
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      val cold = pass()
      assert(cold > 100, s"the cold pass compiled only $cold classes")
      assert(pass() == 0)
    }
  }
}
