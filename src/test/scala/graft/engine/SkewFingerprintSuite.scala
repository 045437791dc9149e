package graft.engine

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SkewFingerprintSuite extends SparkSpec {
  import spark.implicits._

  describe("Skew.saltedJoin") {
    it("matches the plain join result on skewed data") {
      // 90% of rows share one hot key
      val large = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i))
        .toDF("k", "payload")
      val small = Seq((1L, "hot"), (950L, "cold")).toDF("k", "name")
      val salted = Skew.saltedJoin(large, small, "k", f = 8)
        .orderBy("payload").collect()
      val plain = large.join(small, "k").orderBy("payload").collect()
      assert(salted.length == plain.length)
      assert(salted.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
      // the hot key actually spreads across salts
      val nSalts = large.withColumn("__salt",
        Skew.salt(8, large.columns.map(col).toSeq: _*))
        .filter($"k" === 1L).select("__salt").distinct().count()
      assert(nSalts > 1)
    }
  }

  describe("Pipeline.ingestIfChanged (M5 fingerprint cache)") {
    it("skips the rebuild when input and models are unchanged") {
      val storage = tempDir("graft_fp")
      val users = Tenancy.parseUsersJson(
        s"""{"T": {"password": "${Tenancy.sha256Hex("p")}", "industry_type": "corporate"}}""")
      val csv = storage.resolve("src.csv")
      Files.write(csv,
        ("Row ID,Year,Department Title,Job Class Title,Employment Type,Base Pay,Overtime Pay,Longevity Bonus Pay,Average Benefit Cost\n" +
          "1,2013,D,J,FT,$100.00,,,\n").getBytes("UTF-8"))
      val frozen = lit("2020-01-01 00:00:00").cast("timestamp")

      val first = Pipeline.ingestIfChanged(spark, storage, users, "T", "p",
        "corporate_a.csv", csv, frozen)
      val warehouse = storage.resolve("T/Clean/T_corporate_corporate_a")
      val mtime1 = Files.getLastModifiedTime(
        warehouse.resolve("corporate.fct_corporate"))
      assert(first("corporate.fct_corporate").count() == 1)

      Thread.sleep(20)
      val second = Pipeline.ingestIfChanged(spark, storage, users, "T", "p",
        "corporate_a.csv", csv, frozen)
      val mtime2 = Files.getLastModifiedTime(
        warehouse.resolve("corporate.fct_corporate"))
      assert(mtime2 == mtime1) // untouched: rebuild skipped
      assert(second("corporate.fct_corporate").count() == 1)

      // changed input -> rebuild happens
      Files.write(csv,
        ("Row ID,Year,Department Title,Job Class Title,Employment Type,Base Pay,Overtime Pay,Longevity Bonus Pay,Average Benefit Cost\n" +
          "1,2013,D,J,FT,$100.00,,,\n2,2013,D,J,FT,$200.00,,,\n").getBytes("UTF-8"))
      val third = Pipeline.ingestIfChanged(spark, storage, users, "T", "p",
        "corporate_a.csv", csv, frozen)
      assert(third("corporate.fct_corporate").count() == 2)
    }
  }

  describe("Pipeline.inputFingerprint") {
    it("streams the upload to the same SHA-256 as hashing its bytes at once") {
      val dir = tempDir("graft_fp_stream")
      val rnd = new scala.util.Random(7)
      val models = Seq("corporate.stg_corporate", "corporate.fct_corporate")
      // empty, under one chunk, and several chunks with a ragged tail
      Seq(0, 1000, (3 << 16) + 123).foreach { size =>
        val bytes = new Array[Byte](size)
        rnd.nextBytes(bytes)
        val src = Files.write(dir.resolve(s"u$size.csv"), bytes)
        val md = java.security.MessageDigest.getInstance("SHA-256")
        md.update(models.mkString(",").getBytes("UTF-8"))
        md.update(size.toString.getBytes("UTF-8"))
        md.update(bytes)
        val reference = md.digest().map("%02x".format(_)).mkString
        assert(Pipeline.inputFingerprint(src, models) == reference, s"$size B")
      }
    }
  }
}
