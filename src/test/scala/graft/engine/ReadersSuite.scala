package graft.engine

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{LongType, StructType}
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** The parquet schema catalog behind [[Readers.parquet]]. */
class ReadersSuite extends SparkSpec {

  private val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Restores `key` to its value before `body`, set or unset. */
  private def withConf[A](key: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** An `events.parquet` whose `ts` is TIMESTAMP(NANOS), the vintage whose
    * Spark type depends on `nanosAsLong`. Spark cannot write that type, so
    * parquet's own example writer does.
    */
  private def writeNanosEvents(dir: Path): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(
        dir.resolve("events.parquet").toString))
      .withType(schema)
      .build()
    val rows = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      writer.write(rows.newGroup()
        .append("event_id", i.toLong)
        .append("ts", 1700000000000000000L + i))
    } finally writer.close()
  }

  it("serves a repeat Readers.table from the catalog, with no Spark job") {
    val dir = tempDir("readers_repeat")
    spark.range(20).selectExpr("id", "id * 2 AS v")
      .write.parquet(dir.resolve("t.parquet").toString)
    // the first read infers, which is a job: this is what the count sees
    assert(jobsDuring(Readers.table(spark, dir.toString, "t").schema) >= 1)
    assert(jobsDuring(Readers.table(spark, dir.toString, "t").schema) == 0)
    val again = Readers.table(spark, dir.toString, "t")
    assert(again.schema ==
      spark.read.parquet(dir.resolve("t.parquet").toString).schema)
    assert(again.selectExpr("sum(v)").head().getLong(0) == 380L)
  }

  it("serves a path's first read from a pinned schema, with no Spark job") {
    val dir = tempDir("readers_pin")
    val path = dir.resolve("t.parquet").toString
    spark.range(7).selectExpr("id", "id * 3 AS v").write.parquet(path)
    // the schema a writer read back from these files under another name
    val known = spark.read.parquet(path).schema
    Readers.pinSchema(spark, path, known)
    assert(jobsDuring(Readers.parquet(spark, path).schema) == 0)
    assert(Readers.parquet(spark, path).selectExpr("sum(v)").head()
      .getLong(0) == 63L)
  }

  it("infers again when the same path is rewritten with an extra column") {
    val dir = tempDir("readers_rewrite")
    val path = dir.resolve("t.parquet").toString
    spark.range(5).selectExpr("id").write.parquet(path)
    assert(Readers.table(spark, dir.toString, "t").columns.toSeq == Seq("id"))
    spark.range(5).selectExpr("id", "id + 100 AS extra")
      .write.mode("overwrite").parquet(path)
    val back = Readers.table(spark, dir.toString, "t")
    assert(back.columns.toSeq == Seq("id", "extra"))
    assert(back.selectExpr("sum(extra)").head().getLong(0) == 510L)
  }

  it("re-infers events ts when nanosAsLong flips") {
    val dir = tempDir("readers_nanos")
    writeNanosEvents(dir)
    def tsType() = Readers.table(spark, dir.toString, "events").schema("ts")
      .dataType
    withConf(nanosConf) {
      spark.conf.set(nanosConf, "true")
      assert(tsType() == LongType)
      // without the conf Spark has no type for TIMESTAMP(NANOS): the read
      // must fail as inference does, not serve the pinned long
      spark.conf.set(nanosConf, "false")
      val e = intercept[Exception](tsType())
      assert(e.getMessage.contains("NANOS"), e.getMessage)
      spark.conf.set(nanosConf, "true")
      assert(tsType() == LongType)
      assert(Readers.eventsNanos(spark, dir.toString)
        .selectExpr("max(ts)").head().getLong(0) == 1700000000000000003L)
    }
  }

  it("gives 8 concurrent readers of 3 tables the inferred schema every time") {
    val dir = tempDir("readers_threads")
    val names = Seq("a", "b", "c")
    names.zipWithIndex.foreach { case (n, i) =>
      spark.range(10).selectExpr(
        "id" +: (0 to i).map(j => s"CAST(id AS STRING) AS ${n}_$j"): _*)
        .write.parquet(dir.resolve(s"$n.parquet").toString)
    }
    val inferred = names.map(n =>
      n -> spark.read.parquet(dir.resolve(s"$n.parquet").toString).schema)
      .toMap
    val pool = Executors.newFixedThreadPool(8)
    try {
      val reads = (0 until 8).map { thread =>
        pool.submit(new Callable[Seq[(String, StructType)]] {
          def call(): Seq[(String, StructType)] = (0 until 12).map { i =>
            val n = names((thread + i) % names.size)
            n -> Readers.table(spark, dir.toString, n).schema
          }
        })
      }
      val seen = reads.flatMap(_.get(120, TimeUnit.SECONDS))
      assert(seen.size == 96)
      seen.foreach { case (n, schema) => assert(schema == inferred(n), n) }
    } finally pool.shutdownNow()
  }

  describe("the all-varchar CSV read's driver header") {
    /** Spark's own header pass over the same file: the read it replaces. */
    def sparkPass(path: String) =
      spark.read.options(Readers.CsvDialect).csv(path)
    def csv(name: String, content: String): String = {
      val p = tempDir("readers_csv").resolve(name)
      Files.write(p, content.getBytes("UTF-8"))
      p.toString
    }
    val cases = Seq(
      "quoted.csv" -> ("\"a, b\",\"say \"\"hi\"\"\",plain\n" +
        "1,2,3\n\"x, y\",\"q\"\"\",\n"),
      "cased.csv" -> "Name,name,NAME,other\n1,2,3,4\n",
      "emptyname.csv" -> "a,,c,\"\"\n1,2,3,4\n",
      "hospital.csv" -> (" Provider Name , Total Discharges ,Average Total Payments \n" +
        "General, 10 ,1000.5\n"),
      "crlf.csv" -> "k,v\r\n1,2\r\n",
      "headeronly.csv" -> "Row ID,Year,Job Class Title\n",
      "blankfirst.csv" -> "\n  \nk,v\n1,2\n")

    it("names the columns as Spark's header pass does, and reads the same rows") {
      cases.foreach { case (name, content) =>
        val path = csv(name, content)
        val ours = Readers.csvAllVarchar(spark, path)
        val theirs = sparkPass(path)
        assert(ours.schema == theirs.schema, name)
        assert(ours.collect().toSeq == theirs.collect().toSeq, name)
        assert(Readers.normalizeColumns(ours).columns.toSeq ==
          Readers.normalizeColumns(theirs).columns.toSeq, name)
      }
      // duplicates that differ only in case get their index, as in Spark
      assert(Readers.csvAllVarchar(spark, csv("c.csv", cases(1)._2)).columns
        .toSeq == Seq("Name0", "name1", "NAME2", "other"))
    }

    it("runs no Spark job to name the columns") {
      val path = csv("jobs.csv", cases.head._2)
      assert(jobsDuring(sparkPass(path).schema) >= 1)
      assert(jobsDuring(Readers.csvAllVarchar(spark, path).schema) == 0)
    }

    it("fails an empty file's model as Spark's header pass does") {
      val path = csv("empty.csv", "")
      def outcome(raw: => org.apache.spark.sql.DataFrame) =
        try Right(graft.engine.models.Corporate.stg(raw).schema)
        catch { case e: org.apache.spark.sql.AnalysisException =>
          Left(e.getCondition) }
      val theirs = outcome(sparkPass(path))
      assert(theirs.isLeft)
      assert(outcome(Readers.csvAllVarchar(spark, path)) == theirs)
    }
  }

  it("reads no CSV in src/main without a schema") {
    // a CSV read given no schema runs Spark's header pass, one job per read
    val read = """(?s)\.read(Stream)?\b((?!\.write)[^;{}])*?(\.csv\(|"csv"\))""".r
    val walk = Files.walk(Paths.get("src/main"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val reads = sources.flatMap(p =>
      read.findAllIn(Files.readString(p)).map(p.getFileName.toString -> _))
    assert(reads.exists(_._1 == "Readers.scala"))
    val bare = reads.filterNot(_._2.contains(".schema("))
    assert(bare.isEmpty, s"CSV reads without a schema: $bare")
  }

  it("keeps parquet reads in Readers, apart from named scratch round trips") {
    // Each allowed site reads a path that is unique per run or replaced
    // right after, so a catalog entry for it would only grow the map.
    val allowed = Map(
      "engine/Warehouse.scala" ->
        (3, "compaction input, and durable-MV generation dirs (two reads)"),
      "queries/Round7Queries.scala" -> (2, "q121 and q122 temp dirs"),
      "queries/Round8Queries.scala" -> (1, "q144 temp dir"))
    val home = Paths.get("src/main/scala/graft/engine/Readers.scala")
    val read = """\.read\s*\.parquet\(""".r
    val walk = Files.walk(Paths.get("src/main"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.contains(home))
    val found = sources.filter(_ != home).flatMap { p =>
      val n = read.findAllMatchIn(Files.readString(p)).size
      if (n == 0) None
      else Some(p.toString.stripPrefix("src/main/scala/graft/") -> n)
    }.toMap
    assert(found == allowed.map { case (f, (n, _)) => f -> n },
      "parquet reads outside Readers must go through Readers.parquet, " +
        "or be a scratch round trip named in this allowlist")
  }
}
