package graft.functions

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}
import graft.SparkSpec

/** Every custom expression in `graft.functions` gives the same result
  * through its generated code and through interpreted eval. Each spec
  * evaluates one expression on fixed inputs twice — as the default
  * whole-stage codegen'd plan, then with codegen off for both the
  * whole stage and the projection factories — and requires the two
  * results to be equal bit for bit (doubles compared by their bits).
  * A source scan keeps the shape that makes this hold: generated code
  * calls a Scala kernel, and no `doGenCode` writes a loop of its own.
  */
class ExpressionParitySuite extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(16)
  private def vec(n: Int): Seq[Double] =
    Seq.fill(n)(math.rint(rnd.nextGaussian() * 1e3) / 1e3)

  /** Rows as an RDD-backed frame in one partition: no LocalRelation, so
    * the optimizer cannot fold the projection before the plan runs.
    */
  private def frame[T <: Product : scala.reflect.ClassTag :
      org.apache.spark.sql.Encoder](
      rows: Seq[T], names: String*): DataFrame =
    spark.sparkContext.parallelize(rows, 1).toDF(names: _*)

  /** Doubles as their raw bits, so -0.0, NaN and last-ulp differences
    * all count.
    */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  private def interpreted[A](body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** `q` collected under codegen and under interpreted eval; the results
    * must agree and be non-empty. With `staged`, the codegen run's plan
    * must hold the expression inside a whole-stage codegen subtree.
    */
  private def parity(name: String, staged: Boolean = true)(
      q: => DataFrame): Unit = {
    val gen = q
    val genRows = gen.collect().toSeq
    if (staged) {
      val stages = gen.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w
      }
      assert(stages.exists(_.toString.contains(name)),
        s"$name is not in a codegen stage:\n${gen.queryExecution.executedPlan}")
    }
    val intRows = interpreted(q.collect().toSeq)
    assert(genRows.nonEmpty)
    assert(bits(genRows) == bits(intRows), s"$name: codegen $genRows " +
      s"vs interpreted $intRows")
  }

  describe("generated code and interpreted eval agree") {
    it("graft_dot") {
      val rows = Seq((vec(8), vec(8)), (vec(5), vec(7)), (vec(0), vec(3)),
        (null, vec(2)))
      parity("graft_dot") {
        frame(rows, "a", "b").select(VectorFunctions.dot(col("a"), col("b")))
      }
    }

    it("graft_int_dot") {
      val rows = Seq((Seq(1L, -2L, 3L), Seq(4L, 5L, -6L)),
        (Seq(Long.MaxValue, 7L), Seq(2L, 3L, 9L)), (Seq.empty[Long], Seq(1L)),
        (null, Seq(1L)))
      parity("graft_int_dot") {
        frame(rows, "a", "b")
          .select(VectorFunctions.intDot(col("a"), col("b")))
      }
    }

    it("graft_nearest_centroid") {
      val cents = Seq.fill(6)(vec(4)) :+ Seq(0.0, 0.0, 0.0, 0.0) :+
        Seq(0.0, 0.0, 0.0, 0.0)
      val rows = (Seq.fill(12)(vec(4)) ++ Seq(vec(3), vec(6),
        Seq(0.0, 0.0, 0.0, 0.0))).map(Tuple1(_))
      parity("graft_nearest_centroid") {
        frame(rows, "v").select(VectorFunctions.nearestCentroid(col("v"),
          cents))
      }
    }

    val books = Seq.fill(3)(Seq.fill(5)(vec(2)))
    val vecs = (Seq.fill(10)(vec(6)) ++ Seq(vec(5), vec(1), vec(0)))
      .map(Tuple1(_))

    it("graft_pq_encode") {
      parity("graft_pq_encode") {
        frame(vecs, "v").select(PqFunctions.pqCodes(col("v"), books))
      }
    }

    it("graft_pq_adc_lut") {
      parity("graft_pq_adc_lut") {
        frame(vecs, "v").select(PqFunctions.pqAdcLut(col("v"), books))
      }
    }

    it("graft_pq_adc_dist") {
      val lut = Seq.tabulate(3 * 5)(i => (i * 7919L) % 1000 - 300)
      val rows = Seq(Seq(0L, 4L, 2L), Seq(1L, 1L, 1L), Seq(3L, 0L),
        Seq.empty[Long]).map((_, lut))
      parity("graft_pq_adc_dist") {
        frame(rows, "codes", "lut")
          .select(PqFunctions.pqAdcDist(col("codes"), col("lut"), 5))
      }
    }

    it("graft_pq_adc_dist_batch") {
      val luts = Array.tabulate(2 * 3 * 5)(i => (i * 104729L) % 997 - 400)
      val rows = Seq((Seq(0L, 4L, 2L), 0), (Seq(0L, 4L, 2L), 1),
        (Seq(1L, 3L, 3L), 1), (Seq(2L, 2L, 0L), 0))
      parity("graft_pq_adc_dist_batch") {
        frame(rows, "codes", "qi").select(PqFunctions.pqAdcDistBatch(
          col("codes"), col("qi"), luts, 3, 5))
      }
    }

    it("graft_vec_permute") {
      val rows = Seq(vec(5), vec(7), vec(4)).map(Tuple1(_))
      parity("graft_vec_permute") {
        frame(rows, "v").select(PqFunctions.vecPermute(col("v"),
          Seq(3, 0, 2, 1)))
      }
    }

    it("graft_winnow_select") {
      val rows = Seq("a b c d e f g h i j k l", "one two three", "x",
        "the cat the cat the cat the cat", "").map(s =>
        Tuple1(if (s.isEmpty) Seq.empty[String] else s.split(" ").toSeq))
      parity("graft_winnow_select") {
        frame(rows, "w").select(WinnowFunctions.winnowSelect(col("w"), 2, 3))
      }
    }

    val merges = Seq(("t", "h"), ("th", "e"), ("a", "n"), ("e", "r"),
      ("an", "d"))
    val texts = Seq("the band and the other", "thethe", "", "zzz",
      "andanother").map(Tuple1(_))

    it("graft_bpe_segment") {
      parity("graft_bpe_segment") {
        frame(texts, "t").select(BpeFunctions.bpeSegment(col("t"), merges))
      }
    }

    it("graft_bpe_apply_merges") {
      parity("graft_bpe_apply_merges") {
        frame(texts, "t").select(BpeFunctions.bpeApplyMerges(
          split(col("t"), ""), Seq(("t", "h"), ("a", "n"), ("h", "e"))))
      }
    }

    val keys = Seq(1L, 2L, 3L, 5L, 8L, 13L, 2L, 2L, 21L, 3L)

    it("graft_bloom_might_contain") {
      val filter = BloomFilter.create(64, 0.03)
      keys.take(5).foreach(filter.putLong(_))
      parity("graft_bloom_might_contain") {
        frame((0L until 40L).map(Tuple1(_)), "k")
          .select(BloomFunctions.mightContainLong(col("k"), filter))
      }
    }

    it("graft_cms_estimate") {
      val sketch = CountMinSketch.create(0.1, 0.9, 16)
      keys.foreach(k => sketch.add(java.lang.Long.valueOf(k)))
      parity("graft_cms_estimate") {
        frame((0L until 30L).map(Tuple1(_)), "k")
          .select(BloomFunctions.cmsEstimateLong(col("k"), sketch))
      }
    }

    // the two aggregates have no generated code of their own; their
    // specs pin that turning codegen off leaves the result alone
    it("graft_misra_gries") {
      parity("graft_misra_gries", staged = false) {
        frame(keys.map(k => (k % 2, k)), "g", "k").groupBy("g")
          .agg(MgFunctions.misraGries(col("k"), 3).as("s")).orderBy("g")
      }
    }

    it("graft_topk_pairs") {
      parity("graft_topk_pairs", staged = false) {
        frame(keys.zipWithIndex.map { case (k, i) => (k % 2, k, i.toLong) },
            "g", "k", "id").groupBy("g")
          .agg(TopKFunctions.topkPairs(col("k"), col("id"), 3).as("t"))
          .orderBy("g")
      }
    }
  }

  /** The `doGenCode` bodies in `text`: each from its `def` line up to the
    * next non-blank line indented no deeper than that line.
    */
  private def genCodeBodies(text: String): Seq[String] = {
    val lines = text.split("\n", -1).toSeq
    def indent(l: String): Int = l.takeWhile(_ == ' ').length
    lines.indices.filter(i => lines(i).contains("def doGenCode(")).map { i =>
      val rest = lines.drop(i + 1).takeWhile(l =>
        l.trim.isEmpty || indent(l) > indent(lines(i)))
      (lines(i) +: rest).mkString("\n")
    }
  }

  private val loop = """\b(for|while) \(""".r

  describe("the one-kernel rule") {
    it("finds a loop written into a doGenCode body") {
      val src = """case class E(child: Expression) extends UnaryExpression {
        |  override protected def doGenCode(ctx: CodegenContext,
        |      ev: ExprCode): ExprCode =
        |    nullSafeCodeGen(ctx, ev, v => s\"\"\"
        |       |for (int i = 0; i < 3; i++) {}
        |     \"\"\".stripMargin)
        |
        |  override def nullSafeEval(input: Any): Any = {
        |    var i = 0
        |    while (i < 3) i += 1
        |    i
        |  }
        |}""".stripMargin
      val bodies = genCodeBodies(src)
      assert(bodies.size == 1 && loop.findFirstIn(bodies.head).isDefined)
      assert(!bodies.head.contains("while"))
    }

    it("keeps every loop under src/main out of doGenCode bodies") {
      val walk = Files.walk(Paths.get("src/main"))
      val sources =
        try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        finally walk.close()
      val bodies = sources.flatMap(p =>
        genCodeBodies(Files.readString(p)).map(p -> _))
      assert(bodies.size >= 12, s"found only ${bodies.size} doGenCode bodies")
      val offenders = bodies.collect {
        case (p, b) if loop.findFirstIn(b).isDefined => p.toString
      }
      assert(offenders.isEmpty, "move the loop into a Scala kernel the " +
        "expression's eval also calls: " + offenders.mkString(", "))
    }
  }
}
