package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit
import graft.SparkSpec
import graft.engine.models.{Corporate, Education, Hospital}

/** Semantic-edge tests for the three industry column programs
  * (SURVEY.md §5.2): cast-of-garbage -> null, fte default 1.0, CASE branch
  * order, zero-denominator -> null ratio, seniority boundary.
  */
class ModelSpecSuite extends SparkSpec {
  import spark.implicits._

  private val frozen = lit("2020-01-01 00:00:00").cast("timestamp")

  describe("Corporate stg/fct") {
    val raw = Seq(
      // (rowId, year, dept, job, empType, base, ot, bonus, benefit)
      ("1", "2013", "Police", "Officer", "FT", "$75,253.12", "$1,024.00", null, "$18,000.50"),
      ("2", "2013", "Fire", "Chief", "FT", "$100,000.00", "$30,000.00", "$5,000.00", "$0.00"),
      ("3", "2013", "Lib", "Clerk", "PT", "garbage", null, null, null),
      ("4", "2013", "Lib", "Aide", "PT", "$0.00", null, "$10.00", null)
    ).toDF("Row ID", "Year", "Department Title", "Job Class Title",
      "Employment Type", "Base Pay", "Overtime Pay", "Longevity Bonus Pay",
      "Average Benefit Cost")

    val stg = Corporate.stg(raw, frozen)
    val fct = Corporate.fct(stg)
    val rows = fct.orderBy("row_id").collect()

    it("strips currency symbols and casts to double") {
      assert(rows(0).getAs[Double]("base_pay") == 75253.12)
    }
    it("null-fills optional money columns but NOT base_pay") {
      val stgRows = stg.orderBy("row_id").collect()
      assert(stgRows(2).isNullAt(stgRows(2).fieldIndex("base_pay"))) // garbage -> null
      assert(stgRows(2).getAs[Double]("overtime_pay") == 0.0)
      assert(stgRows(0).getAs[Double]("longevity_bonus") == 0.0)
    }
    it("computes total_amount as the 4-component sum") {
      assert(rows(0).getAs[Double]("total_amount") ==
        75253.12 + 1024.00 + 0.0 + 18000.50)
    }
    it("categorizes overtime with High before Regular (branch order)") {
      assert(rows(0).getAs[String]("overtime_status") == "Regular Overtime") // 1024 <= 0.25*75253
      assert(rows(1).getAs[String]("overtime_status") == "High Overtime")    // 30000 > 0.25*100000
      assert(rows(3).getAs[String]("overtime_status") == "No Overtime")
    }
    it("yields null loyalty ratio on zero base_pay (NULLIF guard)") {
      val r4 = rows(3)
      assert(r4.isNullAt(r4.fieldIndex("loyalty_bonus_percentage")))
      assert(rows(1).getAs[Double]("loyalty_bonus_percentage") == 5.0)
    }
  }

  describe("Education stg/fct") {
    val raw = Seq(
      ("Smith", "Ann", "Newark", "Lincoln", "Teacher", null, "17", "Std", "64000"),
      ("Lee", "Bo", "Newark", "Lincoln", "Aide", "0.5", "15", "Std", "30000"),
      ("Kim", "Cy", "Trenton", "Central", "Teacher", "1.0", "16", "Std", "50000"),
      ("Day", "Di", "Trenton", "Central", "Sub", "0.2", null, "Temp", null)
    ).toDF("last_name", "first_name", "district", "school", "primary_job",
      "fte", "experience_total", "certificate", "salary")

    val fct = Education.fct(Education.stg(raw, frozen))
    val rows = fct.orderBy("base_salary").collect() // 0, 30000, 50000, 64000

    it("defaults missing fte to 1.0 -> Full Time") {
      assert(rows(3).getAs[Double]("fte_ratio") == 1.0)
      assert(rows(3).getAs[String]("employment_status") == "Full Time")
      assert(rows(1).getAs[String]("employment_status") == "Part Time / Adjunct")
    }
    it("grants seniority bonus strictly above 15 years") {
      assert(rows(1).getAs[Double]("seniority_bonus") == 0.0)      // 15 -> none
      assert(rows(2).getAs[Double]("seniority_bonus") == 2500.0)   // 16 -> 5%
      assert(rows(3).getAs[Double]("total_amount") == 64000 * 1.05) // 17y
    }
    it("yields null cost_per_experience_year at zero experience") {
      val r = rows(0) // Day, experience null -> 0.0
      assert(r.isNullAt(r.fieldIndex("cost_per_experience_year")))
    }
  }

  describe("Hospital stg/fct via normalize_names") {
    val raw = Seq(
      ("General", "LA", "CA", "DRG 1", "10", "1000.5", "800.25"),
      ("Mercy", "SF", "CA", "DRG 2", "bad", "500.0", "400.0")
    ).toDF("Provider Name", "Provider City", "Provider State",
      "DRG Definition", " Total Discharges ", " Average Total Payments ",
      "Average Medicare Payments")

    val fct = Hospital.fct(Hospital.stg(Readers.normalizeColumns(raw), frozen))
    val rows = fct.orderBy("hospital_name").collect()

    it("normalizes messy headers and renames per contract") {
      assert(fct.columns.contains("job_title")) // service_description -> job_title
      assert(rows(0).getAs[String]("job_title") == "DRG 1")
    }
    it("computes total_amount = patients * avg payment (int * double)") {
      assert(rows(0).getAs[Double]("total_amount") == 10 * 1000.5)
    }
    it("nulls non-numeric patient counts (non-ANSI cast parity)") {
      val r = rows(1)
      assert(r.isNullAt(r.fieldIndex("total_patients")))
      assert(r.isNullAt(r.fieldIndex("total_amount"))) // null * x -> null
    }
  }

  describe("Readers.normalizeName") {
    it("reproduces DuckDB normalize_names") {
      assert(Readers.normalizeName(" Total Discharges ") == "total_discharges")
      assert(Readers.normalizeName("Average Covered Charges") == "average_covered_charges")
      assert(Readers.normalizeName("Retail$Price") == "retail_price")
      assert(Readers.normalizeName("  a//b  ") == "a_b")
      assert(Readers.normalizeName("123abc") == "_123abc")
      assert(Readers.normalizeName("") == "_")
    }
    it("dedupes colliding names") {
      val df = spark.range(1).selectExpr("1 as a", "2 as b", "3 as c")
        .toDF("A B", "a_b", "a  b")
      assert(Readers.normalizeColumns(df).columns.toSeq ==
        Seq("a_b", "a_b_1", "a_b_2"))
    }
  }

  describe("Reports on a contract fact table") {
    val fct = Seq(
      ("Officer", 100.0), ("Officer", 50.0), ("Chief", 500.0), (null, 10.0)
    ).toDF("job_title", "total_amount")

    it("budget report ranks by total budget desc") {
      val r = Reports.budgetReport(fct).collect()
      assert(r.head.getAs[String]("job_title") == "Chief")
      assert(r.head.getAs[Long]("total_employee") == 1L)
      assert(r(1).getAs[Double]("total_budget") == 150.0)
    }
    it("budget report breaks tied totals by job_title, nulls last") {
      val tied = Seq(("C", 60.0), (null, 100.0), ("B", 100.0), ("A", 40.0),
        ("C", 40.0), ("A", 60.0), ("D", 500.0)).toDF("job_title", "total_amount")
        .repartition(4)
      val r = Reports.budgetReport(tied).collect()
      assert(r.map(_.getAs[String]("job_title")).toSeq ==
        Seq("D", "A", "B", "C", null))
    }
    it("full export sorts nulls last (DuckDB parity)") {
      val r = Reports.fullExport(fct).select("job_title").collect()
      assert(r.last.isNullAt(0))
    }
    it("kpis guard the zero-employee average") {
      val empty = Seq.empty[(String, Double)].toDF("job_title", "total_amount")
      val k = Reports.kpis(Reports.budgetReport(empty)).collect()(0)
      assert(k.getAs[Double]("avg_budget_per_employee") == 0.0)
    }
    it("rejects non-contract tables") {
      val bad = Seq((1, 2)).toDF("x", "y")
      assertThrows[IllegalArgumentException](Reports.budgetReport(bad))
    }
  }
}
