package graft

import graft.operators.Fidelity
import graft.sources.CsvSource

/** CLI entry point mirroring the reference's `Main` (O20,
  * `/root/reference/D/Program.cs:374-386`): args = donors CSV, donations
  * CSV, output dir, with the reference's defaults. Runs the full
  * scan -> join -> agg -> CSV-sink pipeline; `--strict` applies the
  * reference's throw-on-orphan FK assertion (`D/Program.cs:310`).
  */
object FidelityMain {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val strict = flags.contains("--strict")
    val donorsPath    = positional.lift(0).getOrElse("Donors.csv")
    val donationsPath = positional.lift(1).getOrElse("Donations.csv")
    val outPath       = positional.lift(2).getOrElse("result.csv")

    val spark = GraftSession.builder(appName = "graft-fidelity").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val donors    = CsvSource.donors(spark, donorsPath)
      val donations = CsvSource.donations(spark, donationsPath)
      val result =
        if (strict) Fidelity.donationTotalByStateStrict(donors, donations)
        else Fidelity.donationTotalByState(donors, donations)
      CsvSource.writeResultCsv(result, "donor_state", "total", outPath)
      println(s"[graft] wrote ${outPath}")
    } finally spark.stop()
  }
}
