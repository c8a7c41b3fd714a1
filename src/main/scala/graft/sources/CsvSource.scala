package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-fidelity CSV readers/writer for the DonorsChoose-shaped inputs.
  *
  * The reference streams positional CSV with a naive tokenizer (no quoting,
  * `/root/reference/D/Program.cs:550-573`), projects columns at scan time
  * (donors cols {0,2} of 5, `D/Program.cs:421-427`; donations cols {2,4} of
  * 6, `D/Program.cs:446-453`), parses amounts InvariantCulture with
  * empty -> 0.0 (`D/Program.cs:451,580-588`), and writes results as
  * `state,amount.ToString("F2")` (`D/Program.cs:475-484`).
  *
  * Spark-native version: explicit schema + header skip; Catalyst fuses the
  * projection into the scan. We use Spark's RFC-compliant CSV parser — a
  * strict superset of the reference's splitter (divergence documented in
  * SURVEY.md §7.4; fixtures contain no quoted fields so goldens agree).
  */
object CsvSource {

  val donorsSchema: StructType = StructType(Seq(
    StructField("Donor ID", StringType),
    StructField("Donor City", StringType),
    StructField("Donor State", StringType),
    StructField("Donor Is Teacher", StringType),
    StructField("Donor Zip", StringType)))

  val donationsSchema: StructType = StructType(Seq(
    StructField("Project ID", StringType),
    StructField("Donation ID", StringType),
    StructField("Donor ID", StringType),
    StructField("Donation Included Optional Donation", StringType),
    StructField("Donation Amount", DoubleType),
    StructField("Donor Cart Sequence", StringType)))

  /** O1: donors scan, cols {0,2} projected (pruned into the scan). */
  def donors(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(donorsSchema).option("header", "true").csv(path)
      .select(col("Donor ID").as("donor_id"), col("Donor State").as("donor_state"))

  /** O2 + O5 + O6: donations scan, cols {2,4}, string->double cast with the
    * reference's empty->0.0 default (Spark CSV yields null for an empty
    * DoubleType field; coalesce applies the default).
    */
  def donations(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(donationsSchema).option("header", "true").csv(path)
      .select(
        col("Donor ID").as("donor_id"),
        coalesce(col("Donation Amount"), lit(0.0)).as("amount"))

  /** O15: result sink — header once, amounts formatted F2 invariant
    * (`D/Program.cs:483`). One file per partition at scale; coalesce(1)
    * only for small golden outputs.
    */
  def writeResultCsv(result: DataFrame, stateCol: String, totalCol: String, path: String): Unit =
    result
      .select(
        col(stateCol).as("State"),
        format_string("%.2f", col(totalCol)).as("Total Donation Amount"))
      .write.mode("overwrite").option("header", "true").csv(path)

  /** O16, user-facing: re-export range-partitioned donor chunks as CSV
    * files carrying the ORIGINAL header, unprojected columns blank —
    * the reference's chunk-file sink (`D/Program.cs:496-504` writes
    * `{id},,{state},,` under the full donors header). One file per range
    * partition, ranges key-disjoint within this side.
    *
    * Not the reference's cutoff vector: each writer samples its own range
    * bounds, so donor chunk i and donation chunk i need not cover the same
    * keys. The reference routes donations by the donor cutoffs
    * (`D/Program.cs:121-127`), which pairs chunk i with chunk i (SURVEY
    * §7.4).
    */
  def writeDonorChunks(donors: DataFrame, partitions: Int, path: String): Unit =
    donors
      .repartitionByRange(partitions, col("donor_id"))
      .select(
        col("donor_id").as("Donor ID"), lit("").as("Donor City"),
        col("donor_state").as("Donor State"), lit("").as("Donor Is Teacher"),
        lit("").as("Donor Zip"))
      .write.mode("overwrite").option("header", "true").option("emptyValue", "").csv(path)

  /** O16, donation side (`D/Program.cs:486-494`: `,,{id},,{amount F2},`
    * under the full donations header), range-partitioned on its own sampled
    * bounds (see `writeDonorChunks`).
    */
  def writeDonationChunks(donations: DataFrame, partitions: Int, path: String): Unit =
    donations
      .repartitionByRange(partitions, col("donor_id"))
      .select(
        lit("").as("Project ID"), lit("").as("Donation ID"),
        col("donor_id").as("Donor ID"), lit("").as("Donation Included Optional Donation"),
        format_string("%.2f", col("amount")).as("Donation Amount"),
        lit("").as("Donor Cart Sequence"))
      .write.mode("overwrite").option("header", "true").option("emptyValue", "").csv(path)
}
