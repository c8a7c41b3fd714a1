package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.Fidelity
import graft.sources.CsvSource

/** Golden-file fidelity against the reference's exact input/output format
  * (FIXTURES.md §1; golden role = `/root/reference/D/bin/Debug/result.csv`).
  */
class FidelitySpec extends GraftSuite with AdaptiveSparkPlanHelper {

  private def res(name: String): String =
    getClass.getResource(s"/fidelity/$name").getPath

  private lazy val donors    = CsvSource.donors(spark, res("donors.csv"))
  private lazy val donations = CsvSource.donations(spark, res("donations.csv"))

  test("golden: donation total by state matches hand-checked expected") {
    val got = Fidelity.donationTotalByState(donors, donations)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got === Seq(("California", 125.75), ("New York", 10.10), ("Texas", 56.00)))
  }

  test("golden: matches committed expected_result.csv after parse") {
    val expected = spark.read.option("header", "true").csv(res("expected_result.csv"))
      .select(col("State"), col("Total Donation Amount").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val got = Fidelity.donationTotalByState(donors, donations)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got === expected)
  }

  test("empty amount field defaults to 0.0, not dropped (O6, D/Program.cs:451)") {
    // D002 donated once with an empty amount; the row must survive the join
    // (California total counts D001's 125.75 + D002's 0.0).
    assert(donations.filter($"amount" === 0.0).count() === 1)
    assert(donations.count() === 7)
  }

  test("strict join throws on orphan donation (O12, D/Program.cs:310)") {
    val orphans = CsvSource.donations(spark, res("donations_orphan.csv"))
    val ex = intercept[Exception] {
      Fidelity.donationTotalByStateStrict(donors, orphans).collect()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("orphan donation: donor_id=D999"))
  }

  test("strict join equals plain join on FK-clean data") {
    val strict = Fidelity.donationTotalByStateStrict(donors, donations).collect().toSeq
    val plain  = Fidelity.donationTotalByState(donors, donations).collect().toSeq
    assert(strict === plain)
  }

  test("strict join does NOT throw on a donor with a blank state (only on a missing key)") {
    // a blank 'Donor State' field parses as null; the reference aggregates it
    // as a value (D/Program.cs:310 throws only on a missing donor_id key)
    val blankStateDonors = donors.select($"donor_id", lit(null).cast("string").as("donor_state"))
    val rows = Fidelity.donationTotalByStateStrict(blankStateDonors, donations).collect()
    assert(rows.length === 1, "all donations group under the single null state")
    assert(rows(0).isNullAt(0))
  }

  test("CSV sink writes header + F2 amounts (O15, D/Program.cs:475-484)") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/result"
    val result = Fidelity.donationTotalByState(donors, donations).coalesce(1)
    CsvSource.writeResultCsv(result, "donor_state", "total", out)
    val lines = spark.read.textFile(out).collect().toSeq
    assert(lines.head === "State,Total Donation Amount")
    assert(lines.tail.toSet === Set("California,125.75", "New York,10.10", "Texas,56.00"))
  }

  test("CSV quoting: Spark parser is a strict superset of the reference tokenizer (SURVEY §7.4)") {
    // the reference splits naively on commas (D/Program.cs:563) and would
    // break "Los Angeles, CA" into two fields; our reader must not
    val dir = java.nio.file.Files.createTempDirectory("graft_quoted")
    val f = dir.resolve("donors_quoted.csv")
    java.nio.file.Files.writeString(f,
      """Donor ID,Donor City,Donor State,Donor Is Teacher,Donor Zip
        |D001,"Los Angeles, CA area",California,No,90001
        |""".stripMargin)
    val d = CsvSource.donors(spark, f.toString).collect()
    assert(d.length === 1)
    assert(d(0).getString(0) === "D001")
    assert(d(0).getString(1) === "California") // col 2 survives the quoted comma in col 1
  }

  test("O16: chunked CSV re-export carries original headers and round-trips through the readers") {
    val base = java.nio.file.Files.createTempDirectory("graft_chunks").toString
    CsvSource.writeDonorChunks(donors, 3, s"$base/donors")
    CsvSource.writeDonationChunks(donations, 3, s"$base/donations")
    // every non-empty chunk file restates the reference's original header
    val donorFiles = new java.io.File(s"$base/donors").listFiles()
      .filter(f => f.getName.endsWith(".csv") && f.length > 0)
    assert(donorFiles.nonEmpty)
    donorFiles.foreach { f =>
      val src = scala.io.Source.fromFile(f)
      try assert(src.getLines().next() === "Donor ID,Donor City,Donor State,Donor Is Teacher,Donor Zip")
      finally src.close()
    }
    // chunks re-read through the same scan operators reproduce the inputs
    val donorsBack = CsvSource.donors(spark, s"$base/donors").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(donorsBack === donors.collect().map(r => (r.getString(0), r.getString(1))).toSet)
    val donationsBack = CsvSource.donations(spark, s"$base/donations").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(donationsBack === donations.collect().map(r => (r.getString(0), r.getDouble(1))).toSet)
  }

  /** A skewed donor/donation pair written in the reference's CSV layout:
    * one hot donor with 400 donations, a donor with a blank state, and
    * donations with an empty amount.
    */
  private lazy val skewedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_skewed")
    val rnd = new scala.util.Random(7)
    val states = Seq("Alaska", "Ohio", "Texas", "Utah")
    val ids = (0 until 40).map(i => f"K$i%03d")
    val donorLines = ids.zipWithIndex.map { case (id, i) =>
      val state = if (i == 39) "" else states(i % states.size)
      s"$id,City,$state,No,00000"
    }
    val donationLines = ids.zipWithIndex.flatMap { case (id, i) =>
      Seq.fill(if (i == 0) 400 else rnd.nextInt(3) + 1) {
        val amount = if (rnd.nextInt(10) == 0) "" else f"${rnd.nextInt(100000) / 100.0}%.2f"
        s"P,X,$id,No,$amount,1"
      }
    }
    java.nio.file.Files.writeString(dir.resolve("donors.csv"),
      ("Donor ID,Donor City,Donor State,Donor Is Teacher,Donor Zip" +: donorLines)
        .mkString("", "\n", "\n"))
    val donationHeader = "Project ID,Donation ID,Donor ID,Donation Included Optional Donation," +
      "Donation Amount,Donor Cart Sequence"
    java.nio.file.Files.writeString(dir.resolve("donations.csv"),
      (donationHeader +: donationLines).mkString("", "\n", "\n"))
    dir.toString
  }

  for ((name, strict) <- Seq("donationTotalByState" -> false, "donationTotalByStateStrict" -> true))
    test(s"$name is a shuffled hash join building donors, with no range exchange, " +
        "and equals its sort-merge build") {
      val skewedDonors = CsvSource.donors(spark, s"$skewedDir/donors.csv")
      val skewedDonations = CsvSource.donations(spark, s"$skewedDir/donations.csv")
      assert(skewedDonors.filter($"donor_state".isNull).count() === 1)
      assert(skewedDonations.filter($"amount" === 0.0).count() > 0)
      for ((d, dn) <- Seq((donors, donations), (skewedDonors, skewedDonations))) {
        val hashed =
          if (strict) Fidelity.donationTotalByStateStrict(d, dn)
          else Fidelity.donationTotalByState(d, dn)
        val merged = Fidelity.totalByState(d, dn, strict, "merge")
        assert(hashed.collect().toSeq === merged.collect().toSeq)
        val plan = hashed.queryExecution.executedPlan
        assert(plan.toString.contains("isFinalPlan=true"), plan)
        assert(collect(plan) { case j: ShuffledHashJoinExec => j.buildSide } === Seq(BuildRight),
          plan)
        assert(collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, plan)
        assert(collect(plan) {
          case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
        }.isEmpty, plan)
        // the merge build is a sort-merge join, so two different plans agree
        assert(collect(merged.queryExecution.executedPlan) { case j: SortMergeJoinExec => j }
          .size === 1)
      }
    }

  private implicit class Interp(private val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }
}
